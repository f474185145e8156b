package graft.dedup

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.storage.StorageLevel
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines.
  *
  * Three tiers, by cost and fuzziness:
  *   1. exact       — hash-groupBy on a normalized fingerprint. One
  *                    shuffle on a 16-byte key; the 100 TB workhorse.
  *   2. MinHash LSH — shingle → per-row signature → band buckets →
  *                    candidate pairs → exact-Jaccard verify. Signature
  *                    computation is a pure map stage; the only shuffle
  *                    is on (band, bucket) keys, and only colliding docs
  *                    ever meet. No all-pairs anywhere.
  *   3. SimHash     — one 64-bit fingerprint per doc; candidates found
  *                    via block-combination banding (any comboSize-subset
  *                    of blocks equal ⇒ candidate; the default 8×2
  *                    guarantees Hamming ≤ 6), then verified with the
  *                    same exact shingle Jaccard as the MinHash tier —
  *                    the emitted pair set is a Jaccard contract, never
  *                    a raw Hamming cut.
  */
object Dedup {

  /** See [[graft.ops.Caching.cachedOnce]] — idempotent persist. */
  private def cachedOnce(df: DataFrame): DataFrame =
    graft.ops.Caching.cachedOnce(df)

  /** Exact dedup groups: one row per distinct normalized content with
    * the canonical (minimum) doc id and the copy count.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup: the rows of `batch` whose normalized
    * fingerprint does NOT already occur in `corpus` — the daily-append
    * posture (dedup the new day's crawl against everything already
    * ingested) as one left-anti join on a 16-byte key. The corpus side
    * reduces to distinct fingerprints before the join, so the shuffle
    * carries one row per distinct historical document; in production
    * the fingerprint relation is the thing you'd persist between runs.
    * Batch-internal duplicates are also collapsed (min id wins),
    * so re-running never appends.
    */
  def dedupIncremental(batch: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val seen = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct()
    val fresh = batch
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .join(seen, Seq("fp"), "left_anti")
    // canonical row per batch-internal duplicate group
    val canon = fresh.groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    fresh.join(canon, Seq("fp", idCol), "left_semi").drop("fp")
  }

  /** Exact word-shingle Jaccard between two shingle-array columns
    * (per-pair array math — the join-based renditions below scale
    * better; kept as the composable Column form).
    */
  def shingleJaccard(a: Column, b: Column): Column =
    (size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType))

  /** Shared verify step of the LSH tiers: exact hashed-shingle Jaccard
    * over candidate id pairs. `candidates` is (doc_a, doc_b) — already
    * deduplicated, so each doc's shingle set is fetched at most once per
    * pair side and every pair is scored exactly once. `shingleSets` is
    * the cached (doc_id, hs) relation the candidate generator already
    * built — two joins against a persisted relation instead of carrying
    * corpus-order `hs` bytes through the band-bucket exchange.
    */
  private def verifyJaccard(candidates: DataFrame, shingleSets: DataFrame,
                            tau: Double): DataFrame =
    verifyJaccard2(candidates, shingleSets, shingleSets, tau)

  /** Exact-Jaccard verification with distinct a-side/b-side shingle
    * relations (cross-relation candidates; both sides identical in the
    * self-join case).
    */
  private def verifyJaccard2(candidates: DataFrame, shinglesA: DataFrame,
                             shinglesB: DataFrame, tau: Double): DataFrame =
    candidates
      .join(shinglesA.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(shinglesB.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("jaccard", shingleJaccard(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= tau)
      // output rounding via exact integer micro-units (DetMath.ratio6):
      // round(int/int, 6) on the double is not cross-engine safe
      .select(col("doc_a"), col("doc_b"),
        graft.functions.DetMath.ratio6(
          size(array_intersect(col("hs_a"), col("hs_b"))),
          size(array_union(col("hs_a"), col("hs_b")))).as("jaccard"))

  /** Exact Jaccard pairs (probe subset × corpus) via an equi-join on
    * exploded shingles: |A∩B| = count of matching shingle rows,
    * |A∪B| = |A|+|B|-|A∩B|. Pairs sharing zero shingles never
    * materialize (their Jaccard is 0 — below any positive tau), so the
    * cost is proportional to actual overlap, not to the pair cross
    * product. Same results as the nested-loop + array_intersect
    * rendition, which at probe×corpus scale spends its life hashing
    * strings per pair.
    *
    * Scale posture: the join key is xxhash64 of the shingle (8 bytes
    * shuffled per row instead of the k-word string). A corpus-ubiquitous
    * shingle (stop-word run, boilerplate) is a hot join key whose
    * |probes∋s|×|docs∋s| intermediate is quadratic — `maxDf` drops
    * shingles whose document frequency exceeds the cap BEFORE the join,
    * with per-doc sizes recomputed on the filtered shingle space so the
    * reported Jaccard stays self-consistent (standard stop-shingle
    * removal). `maxDf = None` keeps exact full-space semantics.
    */
  def jaccardPairsExact(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, tau: Double,
                        probePred: Column => Column,
                        maxDf: Option[Long] = None): DataFrame = {
    val shAll = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextAnalysis.shingleHashes(col(textCol), k))).as("hs"))
    // the (filtered) shingle relation feeds THREE subplan edges — the
    // sizes aggregation and both sides of the self-join — and Spark
    // re-executes the tokenize+shingle+hash map work (plus the df
    // aggregation when capped) once per edge. Persist it instead:
    // 16 bytes/shingle row, MEMORY_AND_DISK, freed by the
    // ContextCleaner — the same one-materialization design as the
    // minhash signature relation.
    val sh = cachedOnce(maxDf.fold(shAll) { cap =>
      // shingles are pre-deduplicated per doc, so count(*) = doc frequency
      val admitted = shAll.groupBy(col("hs"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= cap).select(col("hs"))
      shAll.join(admitted, "hs")
    })
    // |A| per doc: used by TWO broadcast joins (na and nb), each of
    // which would re-run the explode+agg — persist the 16 bytes/doc
    // result instead (freed by the ContextCleaner once unreferenced).
    val sizes = cachedOnce(sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
    // NOTE (optimization r19, measured and REJECTED): a grouped-set
    // rendition of the pair counts — groupBy(hs) + collect_set +
    // explode of a<b pairs, removing the self-join's broadcast — was
    // tried here for the capped path. It held up in subset benches but
    // collapsed inside the full sweep (q_dedup_clusters 1.30 → 12.0 s
    // median, 48 s cold rep): the pair explosion runs through
    // INTERPRETED higher-order-function lambdas (transform/flatten are
    // outside whole-stage codegen), and with millions of pair rows the
    // interpreted path is JIT-warmup- and compile-queue-bound exactly
    // when a long-lived JVM is busiest. The codegen'd hash self-join
    // stays. (q_source_similarity keeps the grouped-set shape — its
    // arrays are catalog-sized and its pair rows few, and it measured
    // FASTER in the same full sweep.)
    val probeSh = sh.filter(probePred(col("doc_id")))
      .select(col("doc_id").as("doc_a"), col("hs"))
    val inter = probeSh
      .join(sh.select(col("doc_id").as("doc_b"), col("hs")), Seq("hs"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("both"))
    inter
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))), "doc_a")
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"))), "doc_b")
      .withColumn("jaccard",
        col("both").cast(DoubleType) / (col("na") + col("nb") - col("both")).cast(DoubleType))
      .filter(col("jaccard") >= tau)
      // threshold on the raw double (identical expression both engines);
      // OUTPUT via exact integer rounding (see DetMath.ratio6)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.DetMath.ratio6(
          col("both"), col("na") + col("nb") - col("both")).as("jaccard"))
  }

  /** Containment pairs (probe subset × corpus): |A∩B| / min(|A|,|B|) ≥
    * `tau` over hashed `k`-shingle sets. Jaccard is blind to SIZE
    * ASYMMETRY — a 50-token document quoted verbatim inside a
    * 5000-token page has Jaccard ≈ 0.01 but containment 1.0 — so this
    * is the sub-document duplication screen (quotes, syndicated
    * passages, page-in-page mirrors) the symmetric tier cannot express.
    * Same exploded-shingle equi-join and `maxDf` stop-shingle
    * discipline as [[jaccardPairsExact]]: cost ∝ actual overlap, hot
    * keys bounded by the cap, only 8-byte hashes shuffle.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, tau: Double,
                       probePred: Column => Column,
                       maxDf: Option[Long] = None): DataFrame = {
    val shAll = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextAnalysis.shingleHashes(col(textCol), k))).as("hs"))
    val sh = cachedOnce(maxDf.fold(shAll) { cap =>
      val admitted = shAll.groupBy(col("hs"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= cap).select(col("hs"))
      shAll.join(admitted, "hs")
    })
    val sizes = cachedOnce(sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
    val inter = sh.filter(probePred(col("doc_id")))
      .select(col("doc_id").as("doc_a"), col("hs"))
      .join(sh.select(col("doc_id").as("doc_b"), col("hs")), Seq("hs"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("both"))
    inter
      .join(broadcast(sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))), "doc_a")
      .join(broadcast(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"))), "doc_b")
      .withColumn("containment",
        col("both").cast(DoubleType) / least(col("na"), col("nb")).cast(DoubleType))
      .filter(col("containment") >= tau)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.DetMath.ratio6(
          col("both"), least(col("na"), col("nb"))).as("containment"))
  }

  /** Band-bucket admission guard shared by the LSH self-joins: buckets
    * with a single member can't form a pair (skipping them shrinks the
    * join input), and buckets above `maxBucketSize` — boilerplate or
    * empty-ish docs all hashing alike — would go quadratic in that one
    * task, so they are dropped. Identical documents that land in such a
    * mega-bucket are the exact-dedup tier's job, not LSH's. Set
    * `logDropped` to print the dropped-bucket count (costs one extra
    * aggregation pass over the banded rows).
    */
  private def capBuckets(banded: DataFrame, keys: Seq[String],
                         maxBucketSize: Int, logDropped: Boolean,
                         what: String, minBucketSize: Int = 2): DataFrame = {
    val sizes = banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bsz"))
    if (logDropped) {
      val dropped = sizes.filter(col("__bsz") > maxBucketSize).count()
      if (dropped > 0)
        System.err.println(
          s"[dedup] $what: dropped $dropped buckets larger than $maxBucketSize members")
    }
    banded.join(
      sizes.filter(col("__bsz").between(minBucketSize, maxBucketSize))
        .select(keys.map(col): _*),
      keys)
  }

  /** Hashed shingle sets + MinHash signatures in ONE codegen'd
    * aggregation: explode distinct hashed shingles, then per doc collect
    * the hash set and take `n` permutation minima (permutation i =
    * xxhash64 re-keyed by i).
    *
    * explode+groupBy beats the higher-order-function rendition by an
    * order of magnitude here: 32 min() aggregates run inside whole-stage
    * codegen with map-side partials, vs 32 boxed array traversals per
    * row. Only 8-byte hashes — never shingle strings — are carried
    * through the shuffle; the hash set feeds the exact-Jaccard verify
    * step so every downstream consumer shares this one exchange.
    * Output: (doc_id, hs: array<long>, sig: array<long>).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, n: Int): DataFrame = {
    val exploded = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextAnalysis.shingleHashes(col(textCol), k))).as("h"))
    val minCols = (0 until n).map(i => min(xxhash64(lit(i), col("h"))).as(s"__m$i"))
    exploded
      .groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs"), minCols: _*)
      .select(col("doc_id"), col("hs"),
        array((0 until n).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** MinHash-LSH candidate pairs verified by exact shingle Jaccard.
    *
    * bands × rowsPerBand = signature length. Two docs collide when all
    * `rowsPerBand` signature slots of some band agree. Collision prob
    * for true Jaccard s is 1-(1-s^r)^b — with 8×4 the S-curve crosses
    * ~0.55, so tau >= 0.6 keeps verification cheap and recall high.
    */
  /** Signature rows → (…carryCols, band, bucket): one row per (doc,
    * band), bucket = hash of that band's signature slots. Carries ONLY
    * the listed columns — 24 bytes/row for the default (doc_id) —
    * through the bucket exchange.
    */
  private[graft] def bandSignatures(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                                    carryCols: Seq[String]): DataFrame =
    sigs.select(
      carryCols.map(col) :+
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bucket"))))
          .as("bb"): _*)
      .select(carryCols.map(col) :+ col("bb.band") :+ col("bb.bucket"): _*)

  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                   tau: Double = 0.6, maxBucketSize: Int = 4096,
                   logDroppedBuckets: Boolean = false): DataFrame = {
    // The signature relation feeds four subplan edges (both self-join
    // sides × the bucket-size diamond); Spark re-executes a subplan per
    // edge, which re-ran the scan + shingle explode + aggregation up to
    // 16× in the physical plan. The relation is tiny by construction
    // (doc_id + n sig longs + the hashed shingle set ≈ 0.5% of corpus
    // bytes), so materializing it once is the production design — the
    // cache is dropped by the ContextCleaner when the plan is GC'd.
    val prepared = cachedOnce(
      minhashSignatures(docs, idCol, textCol, k, bands * rowsPerBand))

    // The banded rows carry ONLY (doc_id, band, bucket) — 24 bytes/row —
    // through the bucket exchange. The shingle sets (corpus-order bytes,
    // ×bands if carried in-row) are joined back from the cached
    // `prepared` relation AFTER candidate pairs are deduplicated, so the
    // heavy column crosses the wire once per surviving pair side, not
    // once per (band, collision).
    // (optimization r19, tried and REVERTED: caching the banded rows —
    // they are re-derived from `prepared` by four subplan edges — was
    // flat in subset A/Bs and coincided with a 1.3→3.1 s full-sweep
    // regression; the extra InMemoryRelation bought nothing the narrow
    // recompute didn't already provide.)
    val banded = capBuckets(
      bandSignatures(prepared, bands, rowsPerBand, Seq("doc_id")),
      Seq("band", "bucket"), maxBucketSize, logDroppedBuckets, "minhash")

    val candidates = banded
      .select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b")),
        Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct() // collapse multi-band collisions
    verifyJaccard(candidates, prepared.select(col("doc_id"), col("hs")), tau)
  }

  /** Incremental near-dup detection: verified (corpus doc, batch doc)
    * near-dup pairs ACROSS two relations — the continuous-ingest form
    * of [[minhashPairs]], where each new crawl batch is screened
    * against the standing corpus before admission (the near-dup
    * extension of [[dedupIncremental]]'s exact-fingerprint screen).
    *
    * Same signature scheme and seeds as the self-join variant, so the
    * banding S-curve and the recall contract pinned in TextDedupSpec
    * carry over: candidates collide per band, are deduplicated as
    * id-pairs, then verified with exact shingle Jaccard. Only the
    * BATCH side is banded against the corpus index — corpus×corpus
    * pairs are not re-derived on every ingest (that work happened when
    * those docs were themselves a batch). Cost per ingest is
    * O(batch bands + collisions), not O(corpus²).
    *
    * Bucket guard: the cross-join admits single-member buckets (a
    * lone corpus doc CAN pair with a lone batch doc — `capBuckets`'
    * ≥2 rule is self-join-only), so only the upper cap applies, on the
    * corpus side, where boilerplate mega-buckets would go quadratic.
    *
    * @return (doc_a = corpus id, doc_b = batch id, jaccard ≥ tau)
    */
  def minhashPairsCross(corpus: DataFrame, batch: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                        tau: Double = 0.6, maxBucketSize: Int = 4096): DataFrame = {
    val sigC = cachedOnce(minhashSignatures(corpus, idCol, textCol, k, bands * rowsPerBand))
    val sigB = cachedOnce(minhashSignatures(batch, idCol, textCol, k, bands * rowsPerBand))
    val bandC = capBuckets(
      bandSignatures(sigC, bands, rowsPerBand, Seq("doc_id")),
      Seq("band", "bucket"), maxBucketSize, logDropped = false, "minhash-cross",
      minBucketSize = 1) // a lone corpus doc CAN pair with a batch doc
    val candidates = bandSignatures(sigB, bands, rowsPerBand, Seq("doc_id"))
      .select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
      .join(bandC.select(col("band"), col("bucket"), col("doc_id").as("doc_a")),
        Seq("band", "bucket"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    verifyJaccard2(candidates,
      sigC.select(col("doc_id"), col("hs")),
      sigB.select(col("doc_id"), col("hs")), tau)
  }

  /** Benchmark DECONTAMINATION: per corpus document, the fraction of its
    * k-shingles that also occur anywhere in a benchmark/test set — the
    * standard n-gram overlap check run before training to drop documents
    * that leak evaluation data. The benchmark's distinct shingle-hash
    * set is broadcast (benchmark suites are tiny next to a corpus); the
    * per-doc count is a broadcast LEFT-SEMI join on the corpus's
    * exploded shingles — one narrow pass over the corpus, no shuffle of
    * corpus data at all when the benchmark side broadcasts.
    *
    * @return (doc_id, n_shingles, n_contaminated, contamination) for
    *         every corpus doc, contamination in [0,1]
    */
  def contamination(corpus: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    k: Int): DataFrame = {
    val benchGrams = benchmark
      .select(explode(array_distinct(
        TextAnalysis.shingleHashes(col(benchTextCol), k))).as("hs"))
      .distinct()
    val corpusSh = corpus.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextAnalysis.shingleHashes(col(textCol), k))).as("hs"))
    val hits = corpusSh
      .join(broadcast(benchGrams), Seq("hs"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    corpus
      .select(col(idCol).as("doc_id"),
        size(array_distinct(TextAnalysis.shingleHashes(col(textCol), k))).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .withColumn("contamination",
        graft.functions.DetMath.ratio6(
          col("n_contaminated"), greatest(col("n_shingles"), lit(1))))
  }

  /** Bloom-filter decontamination PRE-FILTER — the fixed-size rendition
    * of [[contamination]]'s candidate step for corpora where the
    * distinct benchmark-gram relation outgrows the broadcast ceiling.
    * Builds ONE Bloom filter over the benchmark's shingle hashes
    * (mergeable aggregate; `numBits` caps the memory however large the
    * benchmark grows) and flags every corpus doc ANY of whose shingles
    * might be benchmark material. One-sided by construction: Bloom
    * filters have no false negatives, so a truly contaminated doc can
    * never be missed; false positives only send a bounded extra
    * fraction of clean docs to the exact verify ([[contamination]] on
    * the flagged subset). The probe side is a single broadcast of the
    * filter bytes + a codegen'd membership test per shingle row.
    */
  def contaminationBloomFlags(corpus: DataFrame, idCol: String, textCol: String,
                              bench: DataFrame, benchTextCol: String, k: Int,
                              estimatedItems: Long = 1L << 20,
                              numBits: Long = 1L << 23): DataFrame = {
    import graft.functions.BloomFunctions
    // scalar subquery, not a join: might_contain requires a constant or
    // scalar-subquery filter side; the subquery runs once and its bytes
    // ship to every task like any scalar
    val bloom = BloomFunctions.scalarOf(bench
      .select(explode(array_distinct(
        TextAnalysis.shingleHashes(col(benchTextCol), k))).as("hs"))
      .agg(BloomFunctions.bloomFilterAgg(col("hs"), estimatedItems, numBits).as("__bf")))
    corpus
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TextAnalysis.shingleHashes(col(textCol), k))).as("hs"))
      .groupBy(col("doc_id"))
      .agg(max(BloomFunctions.mightContain(bloom, col("hs")).cast("int")).as("__h"))
      .select(col("doc_id"), (col("__h") === 1).as("bloom_hit"))
  }

  /** Near-dup CLUSTERS from a pair graph: connected components by
    * alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * algorithm), the step a dedup pipeline runs after pair finding
    * (keep one doc per component).
    *
    * Each round rewrites the edge set twice:
    *   - LARGE-STAR: every undirected edge is seen from its smaller
    *     endpoint u; all strictly larger neighbors re-point at
    *     m = min(Γ(u) ∪ {u}).
    *   - SMALL-STAR: edges kept canonical (hi > lo) and grouped by the
    *     larger endpoint u; u and all its smaller neighbors re-point at
    *     m = min of the group.
    * Component diameter roughly halves per round, so the fixpoint — one
    * star per component, centred on the component minimum — arrives in
    * O(log n) rounds regardless of chain length (min-label propagation
    * needs O(diameter) rounds). Each half-round is one keyed
    * aggregation + one keyed join — no global state, no collect.
    *
    * The edge build and the final label join are DataFrames; the
    * iterative tail runs on a typed `RDD[(Long, Long)]`. This is a
    * measured decision, not style: the loop is driver-synchronized
    * (convergence is data-dependent), so Catalyst can never plan across
    * rounds, and under AQE each round paid ~0.8 s of per-stage
    * re-planning + scheduling against ~0.6 s of actual work at sf0.1 —
    * pure fixed overhead that scales with ROUNDS, not data. The RDD
    * tail keeps the identical distributed shape (reduceByKey + join per
    * half-round, partition counts tracking the shrinking edge set at
    * ~50k rows/partition with the initial edge partitioning as the
    * ceiling) and pays milliseconds of driver time per round — the same
    * trade GraphX makes for iterative graph contraction.
    *
    * @param docs  vertex universe (singletons become their own cluster)
    * @param pairs undirected edges (aCol, bCol)
    * @return (doc_id, cluster_id) with cluster_id = min doc_id reachable
    */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                    aCol: String = "doc_a", bCol: String = "doc_b",
                    maxIter: Int = 25): DataFrame =
    dedupClustersWithRounds(docs, idCol, pairs, aCol, bCol, maxIter)._1

  /** [[dedupClusters]] exposing the round count (spec: a 1000-node path
    * graph must converge in ≤ ⌈log₂ n⌉ + c rounds, not O(n)).
    */
  def dedupClustersWithRounds(docs: DataFrame, idCol: String, pairs: DataFrame,
                              aCol: String = "doc_a", bCol: String = "doc_b",
                              maxIter: Int = 25): (DataFrame, Int) = {
    val spark = docs.sparkSession
    // canonical undirected edge list (hi > lo), self-loops (and null
    // endpoints, via the null-rejecting =!=) dropped, integral ids
    // widened to long. ONE Catalyst plan — `pairs` may itself be an
    // expensive subplan (e.g. the exact Jaccard graph) and is computed
    // exactly once, by the count() below.
    val canonical = pairs
      .select(greatest(col(aCol), col(bCol)).cast("long").as("hi"),
        least(col(aCol), col(bCol)).cast("long").as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
    var edges: RDD[(Long, Long)] = canonical.rdd
      .map(r => (r.getLong(0), r.getLong(1)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var edgeCount = edges.count()
    // the edge set shrinks towards one row per non-canonical vertex;
    // keep ~50k rows per partition (ceiling: the initial partitioning,
    // which tracks cluster size) so late rounds run one dense task
    // instead of shuffle.partitions near-empty ones
    val maxParts = math.max(edges.getNumPartitions, 1)
    val rowsPerPartition = 50000L
    def parts(n: Long): Int =
      math.max(1L, math.min(maxParts.toLong,
        (n + rowsPerPartition - 1) / rowsPerPartition)).toInt
    var iter = 0
    var converged = edgeCount == 0L
    while (!converged && iter < maxIter) {
      val p = parts(edgeCount)
      // LARGE-STAR: adjacency from both directions, keyed by u; every
      // neighbor v > u re-points at m = min(Γ(u) ∪ {u}) ≤ u < v, so the
      // output is already canonical (hi=v > lo=m) and self-loop-free.
      // NOT distinct'd: duplicate (hi, lo) rows (one vertex re-pointed
      // from several neighbors) are harmless to both consumers — minsS
      // is a min reduction and small's own distinct absorbs the join
      // fan-out — and skipping it saves one full exchange per round
      val adj = edges.flatMap { case (h, l) => Iterator((h, l), (l, h)) }
      val minsL = adj.reduceByKey(math.min(_, _), p)
        .map { case (u, mn) => (u, math.min(mn, u)) }
      val large = adj.join(minsL, p)
        .flatMap { case (u, (v, m)) => if (v > u) Iterator((v, m)) else Iterator.empty }
        .persist(StorageLevel.MEMORY_AND_DISK)
      // SMALL-STAR on the canonical form: key by the larger endpoint u;
      // m = min of u's smaller neighbors (< u). u and every smaller
      // neighbor re-point at m (m itself would be a self-loop — drop).
      // |small| ≤ |edges| (large-star preserves edge count per group,
      // small-star emits ≤ k edges per k-edge group), so last round's
      // count is a valid partition-sizing bound for this round's output.
      val minsS = large.reduceByKey(math.min(_, _), p)
      val small = large.join(minsS, p)
        .flatMap { case (h, (l, m)) => Iterator((h, m), (l, m)) }
        .filter { case (h, l) => h != l }
        .distinct(p)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // fixpoint = edge set unchanged over a full round: both sides are
      // distinct sets, so equal ⇔ symmetric difference empty — rows of
      // the concatenation whose weight sum ≠ 1+2 are in exactly one set.
      // This single action is the whole round's driver sync: it
      // materializes `small`'s cache, decides convergence, and yields
      // next round's edge count (which sizes the next round's shuffles).
      val (diff, cnt) = small.map(e => (e, 1L)).union(edges.map(e => (e, 2L)))
        .reduceByKey(_ + _, p)
        .map { case (_, s) => (if (s != 3L) 1L else 0L, if (s != 2L) 1L else 0L) }
        .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
      // small is materialized — this round's upstream caches are dead;
      // drop them so 25 rounds can't accumulate 25 cached edge sets
      large.unpersist(false)
      edges.unpersist(false)
      converged = diff == 0L
      edgeCount = cnt
      edges = small
      iter += 1
    }
    if (!converged)
      // 25 alternating rounds cover components of astronomically large
      // diameter (2^25); reaching this is a logic error, not an input —
      // partially-contracted labels would split one true component into
      // several clusters and keepCanonical would then keep duplicates
      throw new IllegalStateException(
        s"dedupClusters did not converge within $maxIter large/small-star rounds")
    // at the fixpoint every component is a star centred on its minimum:
    // each non-centre member has exactly one edge (member=hi → centre=lo)
    import spark.implicits._
    val labels = docs.select(col(idCol).as("doc_id"))
      .join(spark.createDataset(edges).toDF("doc_id", "__c"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__c"), col("doc_id")).as("cluster_id"))
    lastClusterRounds = iter
    (labels, iter)
  }

  /** Rounds taken by the most recent [[dedupClustersWithRounds]] call in
    * this JVM. Bench observability only: the iterative operator's
    * convergence behavior surfaces in the bench JSON line without
    * changing any query's result schema.
    */
  @volatile var lastClusterRounds: Int = -1

  /** Incremental connected components — absorb a batch of NEW pairs
    * (an ingest's near-dup edges) into an existing
    * (doc_id, cluster_id) labeling WITHOUT re-walking the corpus
    * graph. Each prior component contracts to ONE super-node (its
    * label); the new edges, endpoint-mapped to super-nodes, form a
    * graph of size O(batch edges + touched components) on which
    * [[dedupClusters]] runs; the resulting super-label remap joins
    * back over the prior labeling. Because prior labels are component
    * MINIMA, min-of-mins over the contracted graph IS the global
    * minimum — the output is row-identical to clustering the full
    * edge set from scratch (spec + oracle-proven), at ingest cost
    * that never touches unaffected components' edges.
    */
  def dedupClustersIncremental(priorLabels: DataFrame, newDocs: DataFrame,
                               idCol: String, newPairs: DataFrame,
                               aCol: String = "doc_a",
                               bCol: String = "doc_b"): DataFrame = {
    val lbl = priorLabels.select(col("doc_id").cast("long").as("__id"),
      col("cluster_id").cast("long").as("__lab"))
    val contracted = newPairs
      .select(col(aCol).cast("long").as("__a"), col(bCol).cast("long").as("__b"))
      .join(lbl.select(col("__id").as("__a"), col("__lab").as("__la")), Seq("__a"), "left")
      .join(lbl.select(col("__id").as("__b"), col("__lab").as("__lb")), Seq("__b"), "left")
      .select(coalesce(col("__la"), col("__a")).as("doc_a"),
        coalesce(col("__lb"), col("__b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
    val superNodes = contracted.select(col("doc_a").as("n"))
      .union(contracted.select(col("doc_b"))).distinct()
    val remap = dedupClusters(superNodes, "n", contracted)
      .select(col("doc_id").as("__old"), col("cluster_id").as("__new"))
      .filter(col("__old") =!= col("__new")) // identity remaps are no-ops
    val updatedPrior = lbl
      .join(remap.withColumnRenamed("__old", "__lab"), Seq("__lab"), "left")
      .select(col("__id").as("doc_id"),
        coalesce(col("__new"), col("__lab")).as("cluster_id"))
    // new rows come from newDocs ∪ newPairs ENDPOINTS: an endpoint
    // that is in neither priorLabels nor newDocs still participated in
    // the contraction above, so it must surface a label row too —
    // deriving from newDocs alone would silently drop it
    val newIds = newDocs.select(col(idCol).cast("long").as("doc_id"))
      .union(newPairs.select(col(aCol).cast("long").as("doc_id")))
      .union(newPairs.select(col(bCol).cast("long").as("doc_id")))
      .distinct()
    val newRows = newIds
      .join(lbl.select(col("__id").as("doc_id")), Seq("doc_id"), "left_anti")
      .join(remap.withColumnRenamed("__old", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__new"), col("doc_id")).as("cluster_id"))
    updatedPrior.unionByName(newRows)
  }

  /** The dedup ACTION: filter a corpus to one canonical document per
    * near-dup cluster (the member whose id equals the cluster label,
    * i.e. the minimum id — deterministic). `clusters` is
    * [[dedupClusters]] output; docs absent from it pass through, so a
    * clustering computed on a sample still yields a usable corpus.
    */
  def keepCanonical(docs: DataFrame, idCol: String,
                    clusters: DataFrame): DataFrame = {
    val canonical = clusters.filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id").as("__canonical_id")) // avoid idCol name clash
    docs.join(canonical, docs(idCol) === col("__canonical_id"), "left_semi")
  }

  /** Embedding-cosine near-duplicate pairs (probe subset × corpus):
    * unordered pairs {a, b} with a in the probe set and rounded cosine ≥
    * tau. The probe batch broadcasts; scoring is the codegen'd
    * `cosine_sim` expression — O(|probes|·N) with no shuffle until the
    * final distinct. The rounded score is thresholded so the cut is
    * bit-identical cross-engine. The LSH-bucketed variant
    * (graft.similarity.Similarity.lshTopK) is the all-pairs scale path.
    */
  def embeddingPairs(vecs: DataFrame, idCol: String, vecCol: String,
                     tau: Double, probePred: Column => Column): DataFrame = {
    val probes = vecs.filter(probePred(col(idCol)))
      .select(col(idCol).as("__pid"), col(vecCol).as("__pvec"))
    vecs.join(broadcast(probes), col(idCol) =!= col("__pid"))
      .withColumn("score",
        round(graft.functions.VectorExpressions.cosine_sim(col("__pvec"), col(vecCol)), 6))
      .filter(col("score") >= tau)
      .select(
        least(col("__pid"), col(idCol)).as("id_a"),
        greatest(col("__pid"), col(idCol)).as("id_b"),
        col("score"))
      .distinct() // both-probe pairs arrive from each direction
  }

  /** Embedding-cosine near-dup pairs, ALL-PAIRS scale path: multi-table
    * hyperplane-LSH buckets generate candidates (ids-only self-join per
    * (table, bucket), deduplicated across tables BEFORE vectors are
    * fetched — the [[minhashPairs]] wire discipline applied to vectors),
    * then exact rounded cosine ≥ tau is the emitted contract. Where
    * [[embeddingPairs]] broadcasts a probe batch against the corpus
    * (O(|probes|·N)), this never forms a cross product: cost is bucket
    * collisions only, and `maxBucketSize` drops degenerate buckets the
    * same way the text LSH tiers do. Recall < 1 by design — tables (up)
    * and bits (down) are the recall knobs; the emitted set is always a
    * subset of the exact pair graph, contract-checked by measured
    * recall in q_dedup_embedding_lsh.
    */
  def embeddingPairsLsh(vecs: DataFrame, idCol: String, vecCol: String,
                        tau: Double, tables: Int = 16, bits: Int = 6,
                        maxBucketSize: Int = 4096,
                        logDroppedBuckets: Boolean = false): DataFrame = {
    val assigned = cachedOnce(
      graft.similarity.Similarity.lshAssignTables(vecs, idCol, vecCol, tables, bits))
    val capped = capBuckets(assigned, Seq("htable", "bucket"),
      maxBucketSize, logDroppedBuckets, "embedding-lsh buckets")
    val pairIds = capped.select(col(idCol).as("id_a"), col("htable"), col("bucket"))
      .join(capped.select(col(idCol).as("id_b"), col("htable"), col("bucket")),
        Seq("htable", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairIds
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__va")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), Seq("id_b"))
      .withColumn("score",
        round(graft.functions.VectorExpressions.cosine_sim(col("__va"), col("__vb")), 6))
      .filter(col("score") >= tau)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** 64-bit SimHash fingerprints: each token hash votes ±1 per bit
    * position; the sign of each accumulated position is the fingerprint
    * bit. Computed as explode → 64 conditional-sum aggregates — all
    * whole-stage codegen with map-side partials (the per-row
    * higher-order-function fold was ~4× slower). Bit positions are
    * Scala-level constants (the Column DSL only shifts by literals).
    * Docs with zero tokens produce no row.
    */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String,
                          outCol: String = "sh64"): DataFrame = {
    val exploded = docs
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.tokens(lower(col(textCol)))).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val voteCols = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) =!= 0, 1).otherwise(-1))
        .as(s"__v$i"))
    val assembled = (0 until 64)
      .map(i => when(col(s"__v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    exploded
      .groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), assembled.as(outCol))
  }

  /** Near-dup pairs by SimHash, verified by exact shingle Jaccard.
    *
    * SimHash is the CANDIDATE GENERATOR, not the contract: a raw Hamming
    * cut is NOT a sound near-dup contract — SimHash fingerprints of
    * same-template documents share most weighted-term votes, so
    * merely-related docs land at small Hamming without being near-dups —
    * which is why candidates are verified with the same exact
    * hashed-shingle Jaccard as [[minhashPairs]] and emitted at
    * `jaccard >= tau`.
    *
    * Candidate generation is block-combination banding (Manku, Jain &
    * Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07 —
    * public algorithm): the 64-bit fingerprint splits into `blocks`
    * equal blocks; each doc is keyed once per `comboSize`-subset of
    * blocks by the concatenation of that subset's block values. A pair
    * at Hamming h has ≥ blocks−h clean blocks, so some subset matches
    * whenever h ≤ blocks − comboSize — the default (8, 2) GUARANTEES
    * recall to Hamming ≤ 6; beyond that radius recall is probabilistic
    * (28 tables still catch most pairs by chance). That radius is a
    * HAMMING promise, not a Jaccard one: on short documents a true
    * Jaccard-0.9 pair can sit well outside it (measured on the gate
    * corpora: max Hamming of J≥0.9 pairs is 5 at sf0.01 but 11 at
    * sf0.1), which is why q_dedup_simhash's oracle is a verified-subset
    * + recall-bound contract rather than pair-set equality — and why
    * widening the banding is no fix: C(16,2)'s 8-bit keys saturate with
    * corpus size and the bucket cap then drops exactly the buckets the
    * "guarantee" needs. C(8,2) = 28 tables of 16-bit keys: the banded
    * exchange carries 28 ids-only rows per doc, and chance collisions
    * arrive at ~n²·28/2¹⁶ — for corpora big enough that 16-bit buckets
    * saturate, (8, 3) gives 56 tables of 24-bit keys (Hamming ≤ 5).
    *
    * `preHamming` is a cost guard, not semantics: an in-row bit_count
    * over the 8-byte fingerprints already in the collision rows,
    * dropping chance band collisions (expected Hamming ≈ 32 for
    * unrelated docs) before the shingle-set joins. 16 is generous — a
    * pair at Jaccard ≥ 0.9 differs in a handful of votes, nowhere near
    * 16 bits.
    */
  /** (doc_id, sh64) → one row per block-combination band:
    * (doc_id, sh64, q = combination index, qv = concatenated block
    * values of that combination). Shared by the self-join and cross
    * variants so both band with the identical key scheme.
    */
  private def simhashBanded(fp: DataFrame, blocks: Int, comboSize: Int): DataFrame = {
    require(blocks > 1 && 64 % blocks == 0, s"blocks must divide 64: $blocks")
    require(comboSize >= 1 && comboSize < blocks,
      s"comboSize must be in [1, blocks): $comboSize")
    val w = 64 / blocks
    val blockMask = (1L << w) - 1
    val blockVal = (i: Int) =>
      shiftright(col("sh64"), w * i).bitwiseAND(lit(blockMask))
    val bands = (0 until blocks).combinations(comboSize).toSeq.zipWithIndex
      .map { case (combo, ci) =>
        // block values occupy disjoint w-bit ranges, so addition of the
        // shifted values IS their concatenation — a collision on qv is a
        // collision on every block of the subset
        val qv = combo.zipWithIndex
          .map { case (bi, pos) => shiftleft(blockVal(bi), w * pos) }
          .reduce(_ + _)
        struct(lit(ci).as("q"), qv.as("qv"))
      }
    fp.select(col("doc_id"), col("sh64"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("sh64"), col("bb.q"), col("bb.qv"))
  }

  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, tau: Double = 0.9,
                   blocks: Int = 8, comboSize: Int = 2,
                   preHamming: Int = 16, maxBucketSize: Int = 4096,
                   logDroppedBuckets: Boolean = false): DataFrame = {
    // 9 bytes per doc, re-derived 4x through the bucket-guard diamond
    // and both self-join sides without this (same rationale as the
    // minhash signature persist)
    val fp = cachedOnce(simhashFingerprints(docs, idCol, textCol, "sh64"))
    val banded = capBuckets(simhashBanded(fp, blocks, comboSize), Seq("q", "qv"),
      maxBucketSize, logDroppedBuckets, "simhash")
    val l = banded.select(col("q"), col("qv"), col("doc_id").as("doc_a"), col("sh64").as("ha"))
    val r = banded.select(col("q"), col("qv"), col("doc_id").as("doc_b"), col("sh64").as("hb"))
    val candidates = l.join(r, Seq("q", "qv"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= preHamming)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val shingleSets = cachedOnce(docs.select(col(idCol).as("doc_id"),
      array_distinct(TextAnalysis.shingleHashes(col(textCol), k)).as("hs")))
    verifyJaccard(candidates, shingleSets, tau)
  }

  /** Incremental SimHash near-dup screen: verified (corpus doc, batch
    * doc) pairs ACROSS two relations — the SimHash rendition of
    * [[minhashPairsCross]], for the workload where SimHash screens
    * better (template-heavy crawls: same-boilerplate documents share
    * most fingerprint votes, so one 8-byte fingerprint per doc beats a
    * 32-slot signature on wire cost while banding the same way).
    *
    * Identical shape and discipline: only the BATCH side is banded
    * against the standing corpus fingerprint index (corpus×corpus pairs
    * were screened when those docs were themselves a batch); the upper
    * bucket cap applies on the CORPUS side only and single-member
    * corpus buckets are admitted (a lone corpus doc CAN pair with a
    * batch doc); the `preHamming` in-row guard drops chance collisions
    * before any shingle bytes move; candidates are deduplicated as id
    * pairs and verified with exact cross-relation shingle Jaccard.
    * The emitted contract is `jaccard >= tau`, never a raw Hamming cut
    * — and like the self-join variant, banding guarantees Hamming ≤
    * blocks−comboSize recall only, so the oracle contract for this
    * screen is verified-subset + recall-bound (see q_dedup_simhash).
    * Cost per ingest: O(batch bands + collisions), never corpus².
    *
    * @return (doc_a = corpus id, doc_b = batch id, jaccard ≥ tau)
    */
  def simhashPairsCross(corpus: DataFrame, batch: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 3, tau: Double = 0.9,
                        blocks: Int = 8, comboSize: Int = 2,
                        preHamming: Int = 16, maxBucketSize: Int = 4096): DataFrame = {
    val fpC = cachedOnce(simhashFingerprints(corpus, idCol, textCol, "sh64"))
    val fpB = simhashFingerprints(batch, idCol, textCol, "sh64")
    val bandC = capBuckets(simhashBanded(fpC, blocks, comboSize), Seq("q", "qv"),
      maxBucketSize, logDropped = false, "simhash-cross",
      minBucketSize = 1) // a lone corpus doc CAN pair with a batch doc
    val candidates = simhashBanded(fpB, blocks, comboSize)
      .select(col("q"), col("qv"), col("doc_id").as("doc_b"), col("sh64").as("hb"))
      .join(bandC.select(col("q"), col("qv"), col("doc_id").as("doc_a"), col("sh64").as("ha")),
        Seq("q", "qv"))
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= preHamming)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val shC = cachedOnce(corpus.select(col(idCol).as("doc_id"),
      array_distinct(TextAnalysis.shingleHashes(col(textCol), k)).as("hs")))
    val shB = cachedOnce(batch.select(col(idCol).as("doc_id"),
      array_distinct(TextAnalysis.shingleHashes(col(textCol), k)).as("hs")))
    verifyJaccard2(candidates, shC, shB, tau)
  }

  /** Edit-distance near-match pairs (entity resolution / OCR-noise
    * dedup): probe docs × corpus at Levenshtein ≤ `maxDist`, found
    * completely via LENGTH-BAND blocking — |len(a) − len(b)| ≤ dist is
    * a hard necessary condition, so with bands of width maxDist+1 every
    * qualifying pair shares a band key once both sides also emit their
    * successor band. The verify step runs Spark's thresholded
    * levenshtein (banded O(len·maxDist) DP that bails to −1 early, not
    * the full O(len²) table).
    *
    * Wire discipline as everywhere in this tier: only (band, id, len)
    * rows enter the blocking join; texts are fetched per surviving
    * deduplicated pair. Blocking by length alone is the honest verify
    * tier for a probe batch; at corpus×corpus scale use
    * [[editDistancePairsBlocked]], which composes the minhash-band
    * content blocker with this length band pruning within buckets.
    *
    * @return (doc_a = probe id, doc_b, dist ≤ maxDist), doc_a < doc_b
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, probePred: Column => Column): DataFrame = {
    require(maxDist >= 0, s"maxDist must be nonnegative: $maxDist")
    val w = maxDist + 1
    val base = cachedOnce(docs.select(col(idCol).as("doc_id"),
      col(textCol).as("__t"), length(col(textCol)).as("__len")))
    // both sides emit {band, band+1}: a pair one band apart meets in the
    // higher band, a same-band pair in both (deduplicated below)
    val banded = base
      .select(col("doc_id"), col("__len"),
        explode(array(
          (col("__len") / lit(w)).cast("int"),
          (col("__len") / lit(w)).cast("int") + 1)).as("__band"))
    val pairIds = banded.filter(probePred(col("doc_id")))
      .select(col("__band"), col("doc_id").as("doc_a"), col("__len").as("__la"))
      .join(banded.select(col("__band"), col("doc_id").as("doc_b"), col("__len").as("__lb")),
        Seq("__band"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    pairIds
      .join(base.select(col("doc_id").as("doc_a"), col("__t").as("__ta")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("__t").as("__tb")), Seq("doc_b"))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("dist") >= 0) // thresholded form returns -1 when exceeded
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** Corpus×corpus edit-distance near-match pairs with CONTENT
    * blocking — the composition [[editDistancePairs]]' scaladoc
    * prescribes for two large relations: minhash band buckets (the
    * exact [[minhashPairs]] signature scheme and seeds) generate
    * candidates, the length band |len(a) − len(b)| ≤ maxDist prunes
    * WITHIN each bucket (the necessary condition rides the same join
    * as a filter), and Spark's thresholded levenshtein verifies.
    *
    * Per-key join work is provably bounded: capBuckets admits at most
    * `maxBucketSize` members per (band, bucket) key, so no key
    * contributes more than maxBucketSize² candidate rows AT ANY CORPUS
    * SIZE — the property length-band-only blocking lacks (a length
    * band's population grows linearly with the corpus, so its self-join
    * grows quadratically; TextDedupSpec pins the contrast on a
    * same-length corpus).
    *
    * The content blocker makes this tier approximate-candidate: a
    * qualifying pair is emitted only if it also collides in some
    * minhash band. An edit touches at most k token shingles, so the
    * near-identical docs this tier exists for (entity resolution, OCR
    * noise) keep shingle Jaccard high and collide with the
    * [[minhashPairs]] S-curve probability; emitted pairs are always
    * exact (verified), and the recall contract is pinned in
    * TextDedupSpec and the q_edit_pairs_corpus oracle.
    *
    * @return (doc_a, doc_b, dist ≤ maxDist), doc_a < doc_b
    */
  def editDistancePairsBlocked(docs: DataFrame, idCol: String, textCol: String,
                               maxDist: Int, k: Int = 3, bands: Int = 8,
                               rowsPerBand: Int = 4,
                               maxBucketSize: Int = 4096): DataFrame = {
    require(maxDist >= 0, s"maxDist must be nonnegative: $maxDist")
    val base = cachedOnce(docs.select(col(idCol).as("doc_id"),
      col(textCol).as("__t"), length(col(textCol)).as("__len")))
    // signature relation + length — the len column rides the banding so
    // the in-bucket prune needs no extra join; subplan cache sharing
    // reuses q_dedup_minhash's signature relation when both run
    val sigs = cachedOnce(
      minhashSignatures(docs, idCol, textCol, k, bands * rowsPerBand)
        .join(base.select(col("doc_id"), col("__len")), Seq("doc_id")))
    val banded = capBuckets(
      bandSignatures(sigs, bands, rowsPerBand, Seq("doc_id", "__len")),
      Seq("band", "bucket"), maxBucketSize, logDropped = false, "editblocked")
    val pairIds = banded
      .select(col("band"), col("bucket"), col("doc_id").as("doc_a"), col("__len").as("__la"))
      .join(banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b"), col("__len").as("__lb")),
        Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .select(col("doc_a"), col("doc_b"))
      .distinct() // collapse multi-band collisions
    pairIds
      .join(base.select(col("doc_id").as("doc_a"), col("__t").as("__ta")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("__t").as("__tb")), Seq("doc_b"))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** Hashed token `gramLen`-window relation: one (doc_id, pos, gh)
    * row per 0-based window start — 8-byte xxhash64 keys, the token
    * strings never leave the map side. Shared by every repeated-span
    * operator so tokenization/hashing can never diverge between the
    * batch, cross-batch, scrub, and streaming renditions.
    */
  /** The per-window hash expression over a LOWERCASED token-array
    * column `c` — the one definition every gram producer routes
    * through, so the hashing can never diverge between callers. */
  private def windowHashSql(c: String, gramLen: Int): String =
    s"transform(sequence(0, size($c) - $gramLen), " +
      s"i -> xxhash64(concat_ws(' ', slice($c, i + 1, $gramLen))))"

  private[graft] def tokenGrams(df: DataFrame, idCol: String, textCol: String,
                                gramLen: Int): DataFrame = {
    require(gramLen >= 1, s"gramLen must be positive: $gramLen")
    df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(lower(col(textCol))).as("__t"))
      .filter(size(col("__t")) >= gramLen)
      .select(col("doc_id"),
        posexplode(expr(windowHashSql("__t", gramLen))).as(Seq("pos", "gh")))
  }

  /** Gaps-and-islands merge of repeated window positions into maximal
    * spans: `hits` = (doc_id, pos) rows of repeated windows; a run of
    * R−gramLen+1 consecutive positions IS a span of R repeated tokens.
    * One window partitioned per document.
    */
  private[graft] def islandSpans(hits: DataFrame, gramLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(
        min(col("pos")).cast("bigint").as("span_start"),
        (max(col("pos")) + gramLen - 1).cast("bigint").as("span_end"),
        (max(col("pos")) - min(col("pos")) + gramLen).cast("bigint").as("span_tokens"))
      .drop("__grp")
  }

  /** The span-removal projection shared by the scrub renditions: given
    * `__t` (original-case token array) and `__spans` (nullable array of
    * (span_start, span_end) structs), the tokens OUTSIDE every span.
    */
  private[graft] val keptTokens: Column = expr(
    """CASE WHEN __spans IS NULL THEN __t ELSE
         transform(
           filter(transform(__t, (w, i) -> struct(w AS w, i AS i)),
                  s -> NOT exists(__spans,
                         sp -> s.i >= sp.span_start AND s.i <= sp.span_end)),
           s -> s.w)
       END""")

  /** Repeated-substring spans (the primitive behind Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * ACL'22 — public literature): for every document, the maximal token
    * spans all of whose `gramLen`-token windows occur at least
    * `minCount` times corpus-wide (counting every position, so a
    * verbatim repeat inside ONE document counts too — the paper's
    * suffix-array semantics, which doc-level near-dup misses entirely:
    * boilerplate headers, license blocks, templated passages pasted
    * into otherwise-unique pages). The k-gram inverted index is the
    * scalable stand-in for the paper's suffix array: a span of R
    * repeated tokens is exactly a run of R−gramLen+1 repeated windows,
    * so maximal spans = maximal runs of repeated window positions.
    *
    * Plan shape at 100 TB: window hashing is pure map work (8-byte
    * xxhash64 per position — the token strings never shuffle); the
    * repeated-window set comes from one count aggregation on the hash
    * key; membership is a dimension join (per hot gram the index side
    * is ONE row — linear fan-out, never quadratic); run merging is a
    * gaps-and-islands window partitioned per document. Two shuffles +
    * one keyed window, no all-pairs anywhere.
    *
    * @return (doc_id, span_start, span_end, span_tokens) — 0-based
    *         inclusive token positions, spans sorted per doc
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    gramLen: Int, minCount: Long = 2L): DataFrame = {
    // the gram relation feeds TWO subplan edges (the repeated-set
    // aggregation and the membership probe) — persist the 12-byte rows
    // once instead of re-running tokenize+hash per edge (the
    // jaccardPairsExact discipline)
    val grams = cachedOnce(tokenGrams(docs, idCol, textCol, gramLen))
    val repeated = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= minCount)
      .select(col("gh"))
    islandSpans(grams.join(repeated, "gh"), gramLen)
  }


  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — public literature): hash every word `k`-gram, slide
    * a window of `w` consecutive gram hashes, and select each window's
    * minimum — the classic guarantee that any shared run of
    * `k + w − 1` tokens between two documents yields at least one
    * shared fingerprint, at ~2/(w+1) the density of full gram hashing.
    *
    * Portability: the "hash" is md5 of the gram string — identical hex
    * in every engine — and the window minimum is the lexicographic
    * (md5, position) pair, so selection is deterministic across
    * engines AND across equal-hash ties (repeated grams inside one
    * window). Output: one row per distinct selected (pos, fp).
    *
    * Scale shape: pure map work per document (HOF transforms over the
    * token array — grams, hashes, window minima all inside one
    * projection), then a single explode; no shuffle at all until the
    * caller aggregates fingerprints. Documents shorter than
    * `k + w − 1` tokens have no complete window and are skipped —
    * match them by exact/minhash tiers instead.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame = {
    docs.select(col(idCol),
        graft.text.TextAnalysis.tokens(lower(col(textCol))).as("__t"))
      .filter(size(col("__t")) >= k + w - 1)
      // the gram-hash array is bound as a LAMBDA VARIABLE (the
      // int8Quantize discipline): referencing a withColumn alias from
      // inside the window lambda would re-inline — and re-execute —
      // the whole md5-per-gram transform at every (window, slot)
      // reference, turning O(grams) hashing into O(windows·w·grams)
      .withColumn("__sel", expr(
        s"""element_at(transform(array(
              transform(sequence(0, size(__t) - $k),
                        i -> md5(array_join(slice(__t, i + 1, $k), ' ')))),
              hs -> array_distinct(transform(sequence(0, size(hs) - $w),
                s -> array_min(transform(sequence(s, s + ${w - 1}),
                       j -> struct(element_at(hs, j + 1) AS fp,
                                   CAST(j AS BIGINT) AS pos)))))), 1)"""))
      .select(col(idCol), explode(col("__sel")).as("__f"))
      .select(col(idCol), col("__f.pos").as("pos"), col("__f.fp").as("fp"))
  }

  /** Cross-batch [[repeatedSpans]] — the ingest posture: spans of the
    * INCOMING batch whose every `gramLen`-window occurs at least
    * `minCount` times across corpus ∪ batch. The corpus side reduces
    * to its (hash, count) gram index — the relation a production
    * pipeline persists and merges per ingest (the
    * [[minhashPairsCross]] index discipline applied to windows), so
    * per batch the cost is batch grams + one dimension join against
    * the index; the corpus text is never re-scanned. Batch-internal
    * repetition counts toward the threshold (a template repeated
    * within one crawl batch is boilerplate even if the corpus has
    * never seen it).
    */
  def repeatedSpansCross(corpus: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         gramLen: Int, minCount: Long = 2L): DataFrame = {
    val bg = cachedOnce(tokenGrams(batch, idCol, textCol, gramLen))
    val corpusIndex = tokenGrams(corpus, idCol, textCol, gramLen)
      .groupBy(col("gh")).agg(count(lit(1)).as("cc"))
    val batchCounts = bg.groupBy(col("gh")).agg(count(lit(1)).as("bc"))
    val admitted = batchCounts
      .join(corpusIndex, Seq("gh"), "left")
      .filter(col("bc") + coalesce(col("cc"), lit(0L)) >= minCount)
      .select(col("gh"))
    islandSpans(bg.join(admitted, "gh"), gramLen)
  }


  /** The ACTION on [[repeatedSpans]]: rebuild each document with every
    * repeated span of at least `minSpanTokens` tokens REMOVED — the Lee
    * et al. scrub itself, not just the report. Span detection runs on
    * the lowercased token stream; removal indexes the ORIGINAL-case
    * tokens (whitespace tokenization is case-stable, so positions
    * transfer). Per doc the span list is a handful of (start, end)
    * structs carried through one left join; the rebuild is a map-side
    * higher-order filter — no extra shuffle beyond the span detection
    * itself. Documents with zero tokens drop out (nothing to scrub).
    *
    * @return (doc_id, n_tokens, n_removed, clean_text)
    */
  def scrubRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         gramLen: Int, minCount: Long = 2L,
                         minSpanTokens: Long = 16L): DataFrame = {
    val spans = repeatedSpans(docs, idCol, textCol, gramLen, minCount)
      .filter(col("span_tokens") >= minSpanTokens)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val kept = keptTokens
    docs.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0)
      .join(spans, Seq("doc_id"), "left")
      .withColumn("__kept", kept)
      .select(col("doc_id"),
        size(col("__t")).cast("bigint").as("n_tokens"),
        (size(col("__t")) - size(col("__kept"))).cast("bigint").as("n_removed"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }

  /** Span-level decontamination — the ACTION on [[contamination]]:
    * every corpus span all of whose `gramLen`-token windows occur in
    * the benchmark is REMOVED from the document. This is the redaction
    * posture (cut the leaked passage, keep the page);
    * [[contamination]]'s doc-level score + drop threshold is the blunt
    * alternative that throws away a whole crawl page for one quoted
    * benchmark item. Detection runs on the lowercased token stream
    * like every span operator here; removal indexes the ORIGINAL-case
    * tokens (whitespace tokenization is case-stable, so positions
    * transfer). Benchmark docs fed back through the scrub redact to
    * empty — the ground-truth check.
    *
    * Scale shape: the benchmark reduces to its DISTINCT 8-byte
    * window-hash relation — the persistable index a production
    * pipeline builds once per benchmark release and broadcasts; the
    * corpus side is map-side window hashing + one semi dimension join
    * + the per-doc islands window. [[repeatedSpans]] cost exactly: two
    * bounded shuffles + one keyed window, corpus text never shuffled,
    * no all-pairs anywhere.
    *
    * @return (doc_id, n_tokens, n_removed, clean_text)
    */
  /** The REPORT behind [[scrubContaminatedSpans]]: every maximal corpus
    * span all of whose `gramLen`-token windows occur in the benchmark —
    * (doc_id, span_start, span_end, span_tokens), 0-based inclusive
    * token positions. The audit artifact a decontamination decision
    * reads (which benchmark passages leak, where, how long) before
    * committing to the scrub; same plan shape as [[repeatedSpans]] with
    * the repeated-gram set swapped for the benchmark gram index.
    */
  def contaminatedSpans(corpus: DataFrame, idCol: String, textCol: String,
                        bench: DataFrame, benchIdCol: String,
                        benchTextCol: String, gramLen: Int): DataFrame = {
    val benchIndex = tokenGrams(bench, benchIdCol, benchTextCol, gramLen)
      .select(col("gh")).distinct()
    islandSpans(tokenGrams(corpus, idCol, textCol, gramLen)
      .join(benchIndex, Seq("gh"), "left_semi"), gramLen)
  }

  def scrubContaminatedSpans(corpus: DataFrame, idCol: String, textCol: String,
                             bench: DataFrame, benchIdCol: String,
                             benchTextCol: String, gramLen: Int,
                             minSpanTokens: Long = 8L): DataFrame = {
    // tokenize the corpus ONCE: the cached original-case token base
    // serves both the gram-hash branch (lowered per token — identical
    // to tokenize-after-lower, since lowercasing never touches the \s+
    // split boundaries, and the hash expression is the shared
    // windowHashSql) and the kept-token scrub, instead of two full
    // corpus tokenization scans (r12 scan sweep)
    val base = cachedOnce(corpus.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0))
    val benchIndex = tokenGrams(bench, benchIdCol, benchTextCol, gramLen)
      .select(col("gh")).distinct()
    val corpusGrams = base.filter(size(col("__t")) >= gramLen)
      .select(col("doc_id"),
        expr("transform(__t, w -> lower(w))").as("__tl"))
      .select(col("doc_id"),
        posexplode(expr(windowHashSql("__tl", gramLen))).as(Seq("pos", "gh")))
    val spans = islandSpans(corpusGrams.join(benchIndex, Seq("gh"), "left_semi"),
        gramLen)
      .filter(col("span_tokens") >= minSpanTokens)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    base
      .join(spans, Seq("doc_id"), "left")
      .withColumn("__kept", keptTokens)
      .select(col("doc_id"),
        size(col("__t")).cast("bigint").as("n_tokens"),
        (size(col("__t")) - size(col("__kept"))).cast("bigint").as("n_removed"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540 — public literature): spherical
    * k-means partitions the embedding space into `kClusters` cells and
    * candidate pairs are generated WITHIN cells only, then verified by
    * exact rounded cosine ≥ `tau`. Complements the hyperplane tier
    * ([[embeddingPairsLsh]]): centroids adapt to the corpus geometry
    * (random hyperplanes don't), which is why SemDeDup is the published
    * recipe at web scale.
    *
    * Scale shape: the fit touches the corpus `iters` times map-side
    * (model = kClusters·dim doubles on the driver, like any fitted
    * parameter object — fit on a sample at 100 TB); assignment is one
    * codegen fold, no shuffle; the only exchange is the per-cell
    * ids-only self-join, O(Σ cell²) bounded by `maxClusterSize` exactly
    * as every banded tier here ([[capBuckets]] — at web scale pick
    * kClusters ~ n/⟨cell⟩ to keep cells small; the paper uses ~100k
    * cells). Recall < 1 by design: pairs straddling a cell boundary are
    * unseen — the emitted set is a verified SUBSET of the exact pair
    * graph, contract-checked by measured recall in q_dedup_semantic.
    */
  def semanticPairs(vecs: DataFrame, idCol: String, vecCol: String,
                    tau: Double, kClusters: Int = 16, iters: Int = 5,
                    nProbe: Int = 2, maxClusterSize: Int = 65536,
                    logDroppedBuckets: Boolean = false): DataFrame = {
    val cents = graft.similarity.Similarity.kmeansFit(vecs, idCol, vecCol, kClusters, iters)
    // multi-probe assignment: a vector joins its nProbe nearest cells,
    // so a pair straddling one boundary still meets in the runner-up
    // cell — the recall knob (up), traded against ×nProbe candidate rows
    val assigned = cachedOnce(vecs.select(col(idCol),
      explode(graft.similarity.Similarity.nearestCells(col(vecCol), cents, nProbe))
        .as("__cid")))
    val capped = capBuckets(assigned, Seq("__cid"), maxClusterSize,
      logDroppedBuckets, "semantic cells")
    val pairIds = capped.select(col(idCol).as("id_a"), col("__cid"))
      .join(capped.select(col(idCol).as("id_b"), col("__cid")), Seq("__cid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair can co-occur in up to nProbe shared cells
    pairIds
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__va")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), Seq("id_b"))
      .withColumn("score",
        round(graft.functions.VectorExpressions.cosine_sim(col("__va"), col("__vb")), 6))
      .filter(col("score") >= tau)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** Exact cross-relation Jaccard pairs (every corpus doc × every batch
    * doc at `jaccard >= tau`) via the same exploded-shingle equi-join as
    * [[jaccardPairsExact]] — cost proportional to actual shingle
    * overlap, never |corpus|×|batch|. Ground truth for the incremental
    * screens' recall contracts; `doc_a` is the corpus id, `doc_b` the
    * batch id, with no ordering constraint between them (the relations
    * partition the id space by construction at the call sites).
    */
  def jaccardPairsExactCross(corpus: DataFrame, batch: DataFrame,
                             idCol: String, textCol: String,
                             k: Int, tau: Double): DataFrame = {
    def sh(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      explode(array_distinct(TextAnalysis.shingleHashes(col(textCol), k))).as("hs"))
    val shC = cachedOnce(sh(corpus, "doc_a"))
    val shB = cachedOnce(sh(batch, "doc_b"))
    def sizes(s: DataFrame, idAs: String, nAs: String) =
      s.groupBy(col(idAs)).agg(count(lit(1)).as(nAs))
    val inter = shC.join(shB, Seq("hs"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("both"))
    inter
      .join(broadcast(sizes(shC, "doc_a", "na")), "doc_a")
      .join(broadcast(sizes(shB, "doc_b", "nb")), "doc_b")
      .withColumn("jaccard",
        col("both").cast(DoubleType) / (col("na") + col("nb") - col("both")).cast(DoubleType))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"),
        graft.functions.DetMath.ratio6(
          col("both"), col("na") + col("nb") - col("both")).as("jaccard"))
  }
}
