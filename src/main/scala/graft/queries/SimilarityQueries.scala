package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.similarity.Similarity

/** Similarity search over the `embeddings` table. Brute-force cosine
  * top-k is the oracle-checked baseline. The ANN paths (LSH, IVF,
  * k-means IVF) are checked through the [[Similarity.recallAtK]]
  * contract: one summary row `(n_probes, recall_ok)` where the exact
  * side is recomputable in DuckDB and `recall_ok` only hashes green if
  * the ANN genuinely clears the recall bound (the q_hll_distinct
  * error-bound pattern) — approximate indexes get hard oracle checks
  * without their engine-hash-dependent internals leaking into the
  * comparison.
  */
object SimilarityQueries {

  private def probes(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))

  /** Fixed-size probe batch: the 64 lowest vec_ids via orderBy().limit()
    * (TakeOrderedAndProject — a per-partition top-64 plus a 64-row merge,
    * never a full sort). Unlike a `% 100` predicate, the broadcast side
    * is O(64) no matter how large the corpus grows — the production
    * shape for "score this query batch against the corpus".
    */
  private def probeBatch(s: SparkSession, d: String, n: Int = 64): DataFrame =
    Tables.embeddings(s, d).orderBy(col("vec_id")).limit(n)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))

  /** DuckDB side of the recallAtK contract: the probe count is exact and
    * engine-independent; the bound boolean is asserted TRUE, so the hash
    * only matches when Spark's ANN genuinely clears the bound.
    */
  private val annOracle = """
      SELECT CAST(count(*) AS BIGINT) AS n_probes, TRUE AS recall_ok
      FROM embeddings WHERE vec_id % 100 = 0"""

  /** L2 norms — validates the vector plumbing end-to-end vs DuckDB. */
  val qEmbeddingNorms = Q(
    "q_embedding_norms",
    (s, d) => Tables.embeddings(s, d)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(Similarity.l2Norm(col("embedding")), 6).as("l2_norm"))
      .orderBy(col("vec_id")),
    Some("""
      SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
             round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
      FROM embeddings ORDER BY vec_id"""))

  /** Brute-force cosine top-10 per probe (probe set: vec_id % 100 = 0). */
  val qKnnBrute = Q(
    "q_knn_brute",
    (s, d) => Similarity
      .bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding", probes(s, d), 10)
      .orderBy(col("probe_id"), col("rank")),
    Some("""
      WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
                 FROM embeddings WHERE vec_id % 100 = 0),
      scored AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               round(list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pv)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(p.pv, p.pv))), 6) AS score
        FROM embeddings e, p WHERE e.vec_id <> p.probe_id)
      SELECT probe_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rn
        FROM scored)
      WHERE rn <= 10 ORDER BY probe_id, rank"""),
    headline = true)

  /** Brute-force cosine top-10 for a FIXED 64-probe batch. Same math as
    * q_knn_brute, different scale posture: the probe side no longer
    * grows with the corpus, so the broadcast stays constant-size at any
    * N.
    */
  val qKnnBatch = Q(
    "q_knn_batch",
    (s, d) => Similarity
      .bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        probeBatch(s, d), 10)
      .orderBy(col("probe_id"), col("rank")),
    Some("""
      WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
                 FROM embeddings ORDER BY vec_id LIMIT 64),
      scored AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               round(list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pv)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(p.pv, p.pv))), 6) AS score
        FROM embeddings e, p WHERE e.vec_id <> p.probe_id)
      SELECT probe_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rn
        FROM scored)
      WHERE rn <= 10 ORDER BY probe_id, rank"""),
    headline = true)

  /** ANN via 16-table × 6-bit hyperplane LSH, checked through the
    * recall@5 contract (measured mean recall ≈ 0.56 at sf0.01; bound set
    * with margin below the measured floor across SFs).
    */
  val qAnnLsh = Q(
    "q_ann_lsh",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val p = probes(s, d)
      val ann = Similarity.lshTopK(emb, "vec_id", "embedding", p, 5,
        tables = 16, bits = 6)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", p, 5)
      Similarity.recallAtK(ann, exact, 5, minMeanRecall = 0.40)
    },
    Some(annOracle))

  /** ANN via IVF over the `label` partitions (nProbe=2), recall@10
    * contract. Label partitions are semantic, not geometric, so the
    * bound is intentionally loose — the k-means variant below is the
    * geometry-aware fix.
    */
  val qAnnIvf = Q(
    "q_ann_ivf",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val p = probes(s, d)
      val ann = Similarity.ivfTopK(emb, "vec_id", "embedding", "label", p, 10)
        .select(col("probe_id"), col("rank"), col("neighbor_id"), col("score"))
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", p, 10)
      Similarity.recallAtK(ann, exact, 10, minMeanRecall = 0.20)
    },
    Some(annOracle))

  /** ANN via k-means IVF (16 spherical cells, nProbe=4), recall@10
    * contract — the geometric cells recover the recall the label
    * partitions can't.
    */
  val qAnnKmeans = Q(
    "q_ann_kmeans",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val p = probes(s, d)
      val ann = Similarity.kmeansIvfTopK(emb, "vec_id", "embedding", p, 10)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", p, 10)
      Similarity.recallAtK(ann, exact, 10, minMeanRecall = 0.40)
    },
    Some(annOracle))

  /** Per-label centroid components — the class-centroid building block
    * (IVF seeding, cluster drift checks, per-class mean vectors). See
    * [[Similarity.labelCentroidComponents]] for the determinism and
    * shuffle story.
    */
  val qLabelCentroids = Q(
    "q_label_centroids",
    (s, d) => Similarity
      .labelCentroidComponents(Tables.embeddings(s, d), "label", "embedding")
      .orderBy(col("label"), col("dim")),
    Some("""
      WITH e AS (
        SELECT label,
               CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
               unnest(embedding) AS v
        FROM embeddings),
      a AS (
        SELECT label, dim, count(*) AS n,
               CAST(sum(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)))
                    * 1000000 AS BIGINT) AS si
        FROM e GROUP BY label, dim)
      SELECT label, dim, n,
             CAST((CASE WHEN si < 0 THEN -1 ELSE 1 END)
                  * ((2 * abs(si) + n) // (2 * n)) AS DOUBLE) / 1000000 AS centroid
      FROM a ORDER BY label, dim"""))

  /** Int8 quantization digest per vector: scale, the quantized-value
    * checksum/extrema, and the max reconstruction error — scalar
    * digests rather than the 64-element array so the cross-engine
    * compare stays on plain columns. The explode(array(...)) Generate
    * barrier materializes the quant struct once; the digest lambdas
    * then reference attributes, not re-inlined expressions.
    */
  val qQuantizeInt8 = Q(
    "q_quantize_int8",
    (s, d) => Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        explode(array(Similarity.int8Quantize(col("embedding")))).as("z"))
      .select(
        col("vec_id"),
        round(col("z.scale"), 9).as("scale"),
        aggregate(col("z.q"), lit(0L), (a, x) => a + x.cast("long")).as("qsum"),
        array_min(col("z.q")).cast("int").as("qmin"),
        array_max(col("z.q")).cast("int").as("qmax"),
        round(array_max(zip_with(col("embedding"), col("z.q"),
          (v, q) => abs(v.cast("double") - q * col("z.scale")))), 6).as("max_abs_err"))
      .orderBy(col("vec_id")),
    Some("""
      WITH s AS (
        SELECT vec_id, embedding,
               greatest(list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-12) / 127.0 AS sc
        FROM embeddings),
      q AS (
        SELECT vec_id, embedding, sc,
               list_transform(embedding, x -> greatest(-127.0, least(127.0, floor(CAST(x AS DOUBLE) / sc + 0.5)))) AS qs
        FROM s)
      SELECT vec_id, round(sc, 9) AS scale,
             CAST(list_aggregate(qs, 'sum') AS BIGINT) AS qsum,
             CAST(list_aggregate(qs, 'min') AS INTEGER) AS qmin,
             CAST(list_aggregate(qs, 'max') AS INTEGER) AS qmax,
             round(list_aggregate(list_transform(range(1, len(embedding) + 1),
               i -> abs(CAST(embedding[i] AS DOUBLE) - qs[i] * sc)), 'max'), 6) AS max_abs_err
      FROM q ORDER BY vec_id"""))

  /** Search over int8-quantized vectors, recall-contracted against the
    * float exact top-k (cosine is scale-free so quantized arrays rank
    * directly). Representation error is ≤ 0.5/127 per element, so the
    * bound is set high — quantization should barely perturb ranking.
    */
  val qAnnQuantized = Q(
    "q_ann_quantized",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val p = probes(s, d)
      val ann = Similarity.quantizedTopK(emb, "vec_id", "embedding", p, 10)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", p, 10)
      Similarity.recallAtK(ann, exact, 10, minMeanRecall = 0.80)
    },
    Some(annOracle))

  /** Hard-negative mining for contrastive training: per probe, the
    * top-10 most-similar OTHER-label vectors ([[Similarity.hardNegatives]]).
    * Exactly q_knn_brute's plan with the label exclusion riding the
    * broadcast-join condition.
    */
  val qHardNegatives = Q(
    "q_hard_negatives",
    (s, d) => {
      val p = Tables.embeddings(s, d).filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
          col("label").as("probe_label"))
      Similarity
        .hardNegatives(Tables.embeddings(s, d), "vec_id", "embedding", "label", p, 10)
        .orderBy(col("probe_id"), col("rank"))
    },
    Some("""
      WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv, label AS pl
                 FROM embeddings WHERE vec_id % 100 = 0),
      scored AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               round(list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pv)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(p.pv, p.pv))), 6) AS score
        FROM embeddings e, p WHERE e.vec_id <> p.probe_id AND e.label <> p.pl)
      SELECT probe_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rn
        FROM scored)
      WHERE rn <= 10 ORDER BY probe_id, rank"""))

  /** Nearest-centroid classification of every embedding against the
    * per-label centroids — see [[Similarity.classifyByCentroid]] for
    * the exact-BIGINT determinism contract and the
    * model-as-literal/no-shuffle scale shape. The oracle replays the
    * identical integer pipeline in DuckDB: decimal-exact centroid
    * micros (the q_label_centroids CTE), micro-quantized points, BIGINT
    * squared distances, argmin via the (d2, label) ordering.
    */
  val qCentroidClassify = Q(
    "q_centroid_classify",
    (s, d) => Similarity
      .classifyByCentroid(Tables.embeddings(s, d), "vec_id", "label", "embedding")
      .orderBy(col("vec_id")),
    Some("""
      WITH e AS (
        SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
               unnest(embedding) AS v
        FROM embeddings),
      a AS (
        SELECT label, dim, count(*) AS n,
               CAST(sum(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)))
                    * 1000000 AS BIGINT) AS si
        FROM e GROUP BY label, dim),
      c AS (
        SELECT label AS clabel, dim,
               CAST((CASE WHEN si < 0 THEN -1 ELSE 1 END)
                    * ((2 * abs(si) + n) // (2 * n)) AS BIGINT) AS cm
        FROM a),
      p AS (
        SELECT vec_id, label,
               CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS xm
        FROM embeddings),
      dist AS (
        SELECT p.vec_id, p.label, c.clabel,
               CAST(sum((p.xm - c.cm) * (p.xm - c.cm)) AS BIGINT) AS d2
        FROM p JOIN c USING (dim) GROUP BY 1, 2, 3),
      r AS (
        SELECT vec_id, label, clabel, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
        FROM dist)
      SELECT vec_id, label, CAST(clabel AS INTEGER) AS pred_label, d2,
             label = clabel AS correct
      FROM r WHERE rn = 1 ORDER BY vec_id"""),
    headline = true)

  /** ANN via Johnson–Lindenstrauss ±1 random projection (64→32) with
    * exact rerank of the top-100 projected candidates — the coarse/
    * refine pattern, recall@10-contract-checked vs the exact 64-d
    * ranking. The projection is a plan-literal sign matrix — no fitted
    * state, no extra pass — so unlike IVF/k-means this accelerator
    * needs no training data and composes with any downstream scorer;
    * at 100 TB the narrow projected relation is written once and
    * reused. Projection-only ranking is NOT enough on this corpus
    * (near-random embeddings: measured recall 0.14–0.28 at dims
    * 16–32); with the 200-candidate exact rerank, measured mean recall
    * is 0.90 (sf0.001) / 0.89 (sf0.01) / 0.71 (sf0.1) — bound 0.5 sits
    * with margin under every gate-sf floor (dual-sf pin in
    * RecallPinSpec).
    */
  val qAnnRandomProjection = Q(
    "q_ann_rp",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val p = probes(s, d)
      val ann = Similarity.randomProjectionTopK(emb, "vec_id", "embedding", p, 10,
        inDim = 64, projDim = 32, overfetch = 200)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", p, 10)
      Similarity.recallAtK(ann, exact, 10, minMeanRecall = 0.5)
    },
    // not headline: like the other ANN contracts, this query times
    // ann + exact + verify — a bench number for it would read as "the
    // accelerator is slower than brute force" when it is the CONTRACT
    // that contains brute force by construction
    Some(annOracle))

  /** ANN via product quantization (Jégou et al. 2011) with exact
    * re-rank of the ADC top-150: the compression tier proper — the
    * corpus-side scan relation shrinks to (id, 16 codes) ≈ 16× smaller
    * than the float vectors, codebooks ride as plan literals, and only
    * O(probes·150) float vectors are ever re-touched. ADC-only ranking
    * is NOT enough on this corpus (near-random embeddings: measured
    * 0.19–0.24); with m=16×kw=32 codebooks and the 150-candidate exact
    * re-rank, measured mean recall is 1.00 (sf0.01) / 0.97 (sf0.1) —
    * bound 0.9 with margin at both gate sfs.
    */
  val qAnnPq = Q(
    "q_ann_pq",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val p = probes(s, d)
      val ann = Similarity.pqTopK(emb, "vec_id", "embedding", p, 10,
        m = 16, kw = 32, shortlist = 150)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", p, 10)
      Similarity.recallAtK(ann, exact, 10, minMeanRecall = 0.9)
    },
    Some(annOracle))

  /** IVFPQ — the k-means cells composed with the PQ codes, the full
    * production serving shape: a probe visits 6 of 16 cells (37.5% of
    * the corpus) and each visited row is the (id, cell, 16 codes)
    * index entry, so the two reductions multiply. Recall is capped by
    * cell containment on this near-random corpus, exactly like the
    * other coarse tiers (q_ann_kmeans pins 0.40 at nProbe=4): measured
    * 0.76 (sf0.01) / 0.685 (sf0.1); bound 0.5 with margin at both gate
    * sfs — the deliberate recall↔traffic tradeoff the flat q_ann_pq
    * (recall ≥ 0.9, full scan) sits on the other side of.
    */
  val qAnnIvfPq = Q(
    "q_ann_ivfpq",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val p = probes(s, d)
      val ann = Similarity.ivfPqTopK(emb, "vec_id", "embedding", p, 10)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", p, 10)
      Similarity.recallAtK(ann, exact, 10, minMeanRecall = 0.5)
    },
    Some(annOracle))

  /** Per-label embedding-centroid shift vs the corpus centroid —
    * squared L2 in exact integer micros², the batch twin of the
    * streaming embeddingDriftSink (which this puts under the DuckDB
    * oracle gate): which sub-population's vectors sit far from the
    * corpus mean, the geometric complement of q_label_centroids. All
    * arithmetic integer-exact: per-dim sums of round(x·10⁶), the
    * sign-aware half-away mean division both engines share, and an
    * integer sum of squared diffs. One posexplode shuffle keyed on
    * (label, dim); the corpus marginal re-aggregates the tiny per-label
    * relation and broadcasts.
    */
  val qEmbeddingDrift = Q(
    "q_embedding_drift",
    (s, d) => {
      val perDim = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull)
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(expr("CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)"))
          .as("si"), count(lit(1)).as("n"))
      val corpus = perDim.groupBy(col("dim"))
        .agg(sum(col("si")).as("st"), sum(col("n")).as("nt"))
      def mean(s0: String, n0: String) = expr(
        s"(CASE WHEN $s0 < 0 THEN -1 ELSE 1 END) * ((2 * abs($s0) + $n0) div (2 * $n0))")
      perDim.join(broadcast(corpus), Seq("dim"))
        .select(col("label"),
          (mean("si", "n") - mean("st", "nt")).as("diff"))
        .groupBy(col("label"))
        .agg(sum(col("diff") * col("diff")).as("dist2_micros2"))
        .orderBy(col("label"))
    },
    Some("""
      WITH e AS (
        SELECT label,
               CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS xm
        FROM embeddings WHERE embedding IS NOT NULL),
      per_dim AS (
        SELECT label, dim, sum(xm) AS si, count(*) AS n
        FROM e GROUP BY label, dim),
      corpus AS (
        SELECT dim, sum(si) AS st, sum(n) AS nt FROM per_dim GROUP BY dim),
      diffs AS (
        SELECT label,
               ((CASE WHEN si < 0 THEN -1 ELSE 1 END) * ((2 * abs(si) + n) // (2 * n)))
             - ((CASE WHEN st < 0 THEN -1 ELSE 1 END) * ((2 * abs(st) + nt) // (2 * nt)))
               AS diff
        FROM per_dim JOIN corpus USING (dim))
      SELECT label, CAST(sum(diff * diff) AS BIGINT) AS dist2_micros2
      FROM diffs GROUP BY label ORDER BY label"""))

  private lazy val simCatalogRoot = graft.ops.Fs.scratchDir("graft_sink_simcat")

  /** VECTORS IN THE TABLE FORMAT: the embedding corpus stored as an
    * `array<float>` data column inside the versioned sink table
    * (parquet data files, label-partitioned), then kNN-queried through
    * the sink's OWN readers — probe batch drawn from the table, exact
    * brute-force cosine top-10 per probe. The production vector-store
    * shape: corpus lives under snapshot isolation / time travel /
    * row-level ops like any other table, and similarity search is just
    * a query plan on top (broadcast probes, per-partition top-k, no
    * global sort). The oracle recomputes the identical top-k from the
    * raw parquet in DuckDB, so a single wrong float in the
    * write→page→columnar-decode path flips the hash.
    */
  val qDsv2Embed = Q(
    "q_dsv2_embed",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_sim",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_sim.root", simCatalogRoot)
      s.sql("DROP TABLE IF EXISTS graft_sim.embed_corpus")
      Tables.embeddings(s, d)
        .writeTo("graft_sim.embed_corpus")
        .partitionedBy(col("label")).create()
      val corpus = s.table("graft_sim.embed_corpus")
      val probes = corpus.orderBy(col("vec_id")).limit(64)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Similarity.bruteForceTopK(corpus, "vec_id", "embedding", probes, 10)
        .orderBy(col("probe_id"), col("rank"))
    },
    Some("""
      WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
                 FROM embeddings ORDER BY vec_id LIMIT 64),
      scored AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               round(list_dot_product(CAST(e.embedding AS DOUBLE[]), p.pv)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(p.pv, p.pv))), 6) AS score
        FROM embeddings e, p WHERE e.vec_id <> p.probe_id)
      SELECT probe_id, CAST(rn AS INTEGER) AS rank, neighbor_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rn
        FROM scored)
      WHERE rn <= 10 ORDER BY probe_id, rank"""),
    headline = true)

  /** IVF WHERE THE TABLE LAYOUT IS THE INDEX: the corpus is written to
    * the sink catalog PARTITIONED BY its k-means cell id, so "search
    * the best nProbe cells" literally IS "scan nProbe partitions" —
    * per-probe cell choice is map-side against the literal model, the
    * (probe, cell) pairs broadcast into the scan's join, and the
    * sink's runtime partition filtering drops un-probed cells' files
    * before a byte is read. Same geometry as q_ann_kmeans (16
    * spherical cells, nProbe=4, recall@10 ≥ 0.40), now with the index
    * living in the table format — snapshot-isolated, time-travelable,
    * maintained by the same compaction machinery as any table.
    */
  val qDsv2Ann = Q(
    "q_dsv2_ann",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_sim",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_sim.root", simCatalogRoot)
      s.sql("DROP TABLE IF EXISTS graft_sim.ivf_corpus")
      val emb = Tables.embeddings(s, d)
      // fit on a deterministic sample, as the kmeansFit scaladoc
      // prescribes at scale: the model only needs the cell geometry,
      // and 3 iterations over the 2048 lowest ids land the same cells
      // as 5 over the corpus. The fit runs DRIVER-SIDE on the bounded
      // sample (one collect, then a local Lloyd loop): the distributed
      // fit re-planned, re-codegen'd and re-shuffled per iteration —
      // ~3 s of the query's 4.15 s at sf0.1 — for a model whose input
      // is 2048 rows by construction at every scale.
      val cents = Similarity.kmeansFitLocal(
        emb.orderBy(col("vec_id")).limit(2048), "vec_id", "embedding",
        k = 16, iters = 3)
      emb.withColumn("cell",
          Similarity.nearestCentroid(col("embedding"), cents))
        .writeTo("graft_sim.ivf_corpus")
        .partitionedBy(col("cell")).create()
      val p = probes(s, d)
      val ann = Similarity.ivfLayoutTopK(s.table("graft_sim.ivf_corpus"),
        "vec_id", "embedding", "cell", p, cents, 10, nProbe = 4)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", p, 10)
      Similarity.recallAtK(ann, exact, 10, minMeanRecall = 0.40)
    },
    Some(annOracle),
    headline = true)

  val all: Seq[Q] = Seq(
    qEmbeddingNorms, qKnnBrute, qKnnBatch, qAnnLsh, qAnnIvf, qAnnKmeans,
    qLabelCentroids, qQuantizeInt8, qAnnQuantized, qHardNegatives,
    qCentroidClassify, qAnnRandomProjection, qAnnPq, qAnnIvfPq,
    qEmbeddingDrift, qDsv2Embed, qDsv2Ann)
}
