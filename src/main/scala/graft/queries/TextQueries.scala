package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextAnalysis._

/** Text-analysis operators over the `documents` table (language-ID,
  * quality scoring, token counting, fingerprinting) — all per-row map
  * work oracle-checked against equivalent DuckDB SQL.
  */
object TextQueries {

  private val stopwordsSql = "('the','a','of','and','to','in','is','that')"
  private def hitsSql(words: String) =
    s"len(list_filter(string_split_regex(lower(text),'\\s+'), w -> len(w)>0 AND w IN $words))"

  /** Token / character / punctuation statistics per document. */
  val qTextStats = Q(
    "q_text_stats",
    (s, d) => Tables.documents(s, d)
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeishCount(col("text")).as("n_bpeish"),
        punctCount(col("text")).as("n_punct"),
        length(col("text")).as("n_chars_m"))
      .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text,'\s+'), w -> len(w)>0)) AS INTEGER) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpeish,
             CAST(len(regexp_extract_all(text, '[.,!?;:''"()-]')) AS INTEGER) AS n_punct,
             CAST(length(text) AS INTEGER) AS n_chars_m
      FROM documents ORDER BY doc_id"""))

  /** Heuristic language identification (stopword scoring + CJK probe). */
  val qLangId = Q(
    "q_lang_id",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), langId(col("text")).as("pred_lang"))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH scored AS (
        SELECT doc_id, lang,
               ${hitsSql(stopwordsSql)} AS en_h,
               ${hitsSql("('der','die','das','und','ist','nicht','ein','zu')")} AS de_h,
               ${hitsSql("('el','la','de','y','que','en','un','es')")} AS es_h,
               ${hitsSql("('le','la','et','les','des','un','une','est')")} AS fr_h,
               regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS cjk
        FROM documents)
      SELECT doc_id, lang,
             CASE WHEN cjk THEN 'zh'
                  WHEN greatest(en_h, de_h, es_h, fr_h) = 0 THEN 'und'
                  WHEN en_h = greatest(en_h, de_h, es_h, fr_h) THEN 'en'
                  WHEN de_h = greatest(en_h, de_h, es_h, fr_h) THEN 'de'
                  WHEN es_h = greatest(en_h, de_h, es_h, fr_h) THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM scored ORDER BY doc_id"""))

  /** Composite quality score — identical double formula on both sides. */
  val qQualityScore = Q(
    "q_quality_score",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), round(qualityScore(col("text")), 6).as("quality"))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH m AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text,'\\s+'), w -> len(w)>0)) AS DOUBLE) AS n_tok,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(regexp_extract_all(text, '[.,!?;:''"()-]')) AS DOUBLE) AS n_punct,
               CAST(${hitsSql(stopwordsSql)} AS DOUBLE) AS stop_h
        FROM documents)
      SELECT doc_id,
             round(least(n_tok / 64.0, 1.0) * 0.5
                   + (1.0 - n_punct / greatest(n_chars, 1.0)) * 0.25
                   + least(stop_h / greatest(n_tok, 1.0) * 4.0, 1.0) * 0.25, 6) AS quality
      FROM m ORDER BY doc_id"""))

  /** Content fingerprint (md5 of normalized text) + 8-char prefix. */
  val qFingerprint = Q(
    "q_fingerprint",
    (s, d) => Tables.documents(s, d)
      .select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"),
        substring(fingerprint(col("text")), 1, 8).as("fp8"))
      .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
             substring(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 8) AS fp8
      FROM documents ORDER BY doc_id"""))

  /** Corpus token frequencies (explode → groupBy — the scalable shape:
    * map-side partial counts, one shuffle on the token key).
    */
  val qTokenFreq = Q(
    "q_token_freq",
    (s, d) => Tables.documents(s, d)
      .select(explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")),
    Some("""
      SELECT token, count(*) AS n
      FROM (SELECT unnest(list_filter(string_split_regex(lower(text),'\s+'), w -> len(w)>0)) AS token
            FROM documents)
      GROUP BY token ORDER BY n DESC, token"""))

  /** C4-style corpus curation in one pass: keep documents inside the
    * corpus's [p10, p90] token-length band, with quality ≥ 0.5, whose
    * predicted language is English. The quantile bounds are a 2-row
    * broadcast (computed once, crossed in); everything else is the same
    * per-row map work as the individual ops above — the full curation
    * recipe costs one bounded-state order statistic + one scan.
    *
    * The bounds are EXACT order statistics at ranks ⌈n/10⌉ and ⌈9n/10⌉
    * computed by [[graft.ops.Selection.kthSmallestByGroupMulti]]'s
    * iterative histogram narrowing — NOT the exact `percentile()`
    * aggregate, whose per-group value→count buffer approaches the full
    * column on one reducer over a near-unique column (this repo's own
    * canonical scale anti-pattern, and PlanAuditSpec pins its absence
    * here). Both ranks narrow in shared scans; the driver sees bucket
    * counts only, and the resolved bounds enter the plan as filter
    * LITERALS — pushable, no crossJoin. Rank anchoring (vs interpolated
    * quantiles) also makes the oracle exact: both engines pick the same
    * value at the same rank, no last-bit rounding to paper over.
    */
  val qCorpusCurate = Q(
    "q_corpus_curate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // ONE tokenize pass total: materialize the per-doc metrics
      // relation (4 narrow columns, corpus-row count but a fraction of
      // the text bytes) and run BOTH the bounds narrowing and the
      // final filter off it — the bounds' narrowing rounds then
      // re-scan cached integers, never the text. The explode(array())
      // Generate barrier keeps docMetrics evaluated once per row:
      // without it, CollapseProject + predicate pushdown inline the
      // full metrics expression once per field reference (~5
      // evaluations per row, measured 2× slower)
      val m = graft.ops.Caching.cachedOnce(docs
        .select(col("doc_id"), explode(array(docMetrics(col("text")))).as("m"))
        .select(
          col("doc_id"),
          col("m.n_tokens").as("n_tokens"),
          round(col("m.quality"), 6).as("quality"),
          col("m.pred_lang").as("pred_lang")))
      // collectThreshold matches the global kthSmallest default: one
      // state here, so the worst single collect is 65536 (value, count)
      // rows — same driver discipline, one narrowing round fewer
      val b = graft.ops.Selection.kthSmallestByGroupMulti(
        m.select(col("n_tokens").cast("double").as("nt"))
          .withColumn("__g", lit("all")),
        "__g", col("nt"), Seq(n => (n + 9) / 10, n => (9 * n + 9) / 10),
        collectThreshold = 65536L)
      // empty/all-null corpus → no bounds → empty-set filter (±∞ band)
      val lo = b.getOrElse(("all", 0), Double.PositiveInfinity)
      val hi = b.getOrElse(("all", 1), Double.NegativeInfinity)
      m.filter(col("n_tokens") >= lit(lo) && col("n_tokens") <= lit(hi)
          && col("quality") >= 0.5 && col("pred_lang") === "en")
        .select(col("doc_id"), col("n_tokens"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH m AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text,'\\s+'), w -> len(w)>0)) AS INTEGER) AS n_tokens,
               CAST(len(list_filter(string_split_regex(text,'\\s+'), w -> len(w)>0)) AS DOUBLE) AS n_tok,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(regexp_extract_all(text, '[.,!?;:''"()-]')) AS DOUBLE) AS n_punct,
               CAST(${hitsSql(stopwordsSql)} AS DOUBLE) AS stop_h,
               ${hitsSql(stopwordsSql)} AS en_h,
               ${hitsSql("('der','die','das','und','ist','nicht','ein','zu')")} AS de_h,
               ${hitsSql("('el','la','de','y','que','en','un','es')")} AS es_h,
               ${hitsSql("('le','la','et','les','des','un','une','est')")} AS fr_h,
               regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS cjk
        FROM documents),
      b AS (SELECT min(CASE WHEN rn = (n + 9) // 10 THEN n_tok END) AS lo,
                   max(CASE WHEN rn = (9 * n + 9) // 10 THEN n_tok END) AS hi
            FROM (SELECT n_tok, row_number() OVER (ORDER BY n_tok) AS rn,
                         count(*) OVER () AS n FROM m)),
      scored AS (
        SELECT doc_id, n_tokens,
               round(least(n_tok / 64.0, 1.0) * 0.5
                     + (1.0 - n_punct / greatest(n_chars, 1.0)) * 0.25
                     + least(stop_h / greatest(n_tok, 1.0) * 4.0, 1.0) * 0.25, 6) AS quality,
               CASE WHEN cjk THEN 'zh'
                    WHEN greatest(en_h, de_h, es_h, fr_h) = 0 THEN 'und'
                    WHEN en_h = greatest(en_h, de_h, es_h, fr_h) THEN 'en'
                    WHEN de_h = greatest(en_h, de_h, es_h, fr_h) THEN 'de'
                    WHEN es_h = greatest(en_h, de_h, es_h, fr_h) THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM m)
      SELECT doc_id, n_tokens, quality
      FROM scored, b
      WHERE n_tokens >= lo AND n_tokens <= hi
        AND quality >= 0.5 AND pred_lang = 'en'
      ORDER BY doc_id"""),
    headline = true)

  /** Top-5 word 2-grams per source (the "what is this source made of"
    * inspection query). Scale shape: explode → one (source, gram)
    * count aggregation with map-side partials, then a SUPPORT PRUNE
    * (n ≥ 3) before the per-source row_number — the prune is what
    * bounds the window partition at corpus scale (the long tail of
    * count-1 grams, the overwhelming majority by Heaps' law, never
    * reaches the sort).
    */
  val qTopGrams = Q(
    "q_top_grams",
    (s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("source"),
          explode(shingles(col("text"), 2)).as("gram"))
        .groupBy(col("source"), col("gram"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n").desc, col("gram"))
      counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank").cast("int").as("rank"),
          col("gram"), col("n"))
        .orderBy(col("source"), col("rank"))
    },
    Some("""
      WITH t AS (
        SELECT source,
               list_filter(string_split_regex(lower(text),'\s+'), w -> len(w)>0) AS toks
        FROM documents),
      g AS (
        SELECT source, unnest(
          CASE WHEN len(toks) < 2
               THEN [coalesce(array_to_string(toks, ' '), '')]
               ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
          END) AS gram
        FROM t),
      c AS (
        SELECT source, gram, count(*) AS n FROM g
        GROUP BY source, gram HAVING count(*) >= 3),
      r AS (
        SELECT source, gram, n,
               row_number() OVER (PARTITION BY source ORDER BY n DESC, gram) AS rk
        FROM c)
      SELECT source, CAST(rk AS INTEGER) AS rank, gram, n
      FROM r WHERE rk <= 5 ORDER BY source, rank"""))

  /** PII scrubbing: mask emails and ≥4-digit runs (ids, phones, card
    * fragments) — pure per-row regexp_replace map work, the standard
    * pre-training redaction pass. Patterns are RE2-safe (no backrefs,
    * no lookaround) so both engines' regex dialects agree; DuckDB
    * needs the explicit 'g' flag to match Spark's replace-all.
    */
  val qPiiScrub = Q(
    "q_pii_scrub",
    (s, d) => {
      val emailRe = "[A-Za-z0-9._+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val numRe = "[0-9]{4,}"
      val masked = regexp_replace(
        regexp_replace(col("text"), emailRe, "<EMAIL>"), numRe, "<NUM>")
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("text"), lit(numRe), lit(0))).as("n_longnums"),
          (masked =!= col("text")).as("changed"),
          substring(masked, 1, 80).as("masked_prefix"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9._+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
             CAST(len(regexp_extract_all(text, '[0-9]{4,}')) AS INTEGER) AS n_longnums,
             regexp_replace(regexp_replace(text, '[A-Za-z0-9._+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{4,}', '<NUM>', 'g') <> text AS changed,
             substring(regexp_replace(regexp_replace(text, '[A-Za-z0-9._+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{4,}', '<NUM>', 'g'), 1, 80) AS masked_prefix
      FROM documents ORDER BY doc_id"""))

  /** Top-3 characteristic terms per document by tf·N/df — TF-IDF with
    * the rational weight instead of a logarithm, deliberately: ln() is
    * not bit-identical across libm implementations, while integer
    * ratios in double are exact, so the ranking is engine-independent
    * (scores round to 6dp BEFORE ranking; term is the tie-break). The
    * per-doc window partition is bounded by document length — never a
    * corpus-sized sort. df is one term-keyed aggregation; N broadcasts.
    */
  val qTfidfTerms = Q(
    "q_tfidf_terms",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(tokens(lower(col("text")))).as("term"))
      // tf feeds both the df fit and the score join-back; cached so the
      // tokenize+explode runs once, not once per branch (r12 scan sweep)
      val tf = graft.ops.Caching.cachedOnce(
        toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      // score = tf·N/df rounded to 6dp — but rounded in exact integer
      // micro-units ((2a+df) div 2df on tf·N·1e6), never on the double
      // quotient: exact rationals land on 6-decimal half boundaries
      // where the engines' round() implementations disagree
      val scored = tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("score",
          expr("(2 * tf * n_docs * 1000000 + df) div (2 * df)").cast("double")
            / lit(1000000.0))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("int").as("rank"),
          col("term"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),'\s+'),
                                          w -> len(w)>0)) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, term,
               CAST((2 * tf * n_docs * 1000000 + df) // (2 * df) AS DOUBLE)
                 / 1000000 AS score
        FROM tf JOIN df USING (term), n),
      r AS (
        SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        FROM scored)
      SELECT doc_id, CAST(rk AS INTEGER) AS rank, term, score
      FROM r WHERE rk <= 3 ORDER BY doc_id, rank"""))

  /** Unigram-LM rarity score — the perplexity-proxy quality signal a
    * corpus filter runs at scale: per document, the mean INVERSE token
    * probability Σ(N/ctᵥ)/n_tok over the document's token occurrences,
    * where ctᵥ is the token's corpus frequency and N the corpus token
    * total. High = rare-token-heavy (OCR noise, codes, boilerplate
    * IDs); low = stopword-heavy. The arithmetic mean of 1/p ranks like
    * the geometric (true perplexity) for filtering purposes but stays a
    * RATIONAL: each occurrence's N/ct rounds to exact integer micros
    * ((2·N·1e6 + ct) div (2·ct) — one integer per distinct token), and
    * the per-doc mean divides exactly once more — no ln(), no float
    * accumulation-order nondeterminism, the q_tfidf_terms discipline.
    *
    * Plan shape at 100 TB: word-count (explode → per-(doc,token)
    * counts), token-frequency table joined back on the token key (a
    * dimension join — per hot token the frequency side is ONE row, so
    * the worst key fans out linearly, never quadratically), then one
    * keyed aggregation per doc. Two shuffles total, all codegen.
    */
  val qTokenRarity = Q(
    "q_token_rarity",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // tf feeds both the corpus term counts and the rarity join-back;
      // cached so the tokenize+explode runs once (r12 scan sweep)
      val tf = graft.ops.Caching.cachedOnce(docs
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val ct = tf.groupBy(col("term")).agg(sum(col("tf")).as("ct"))
      val n = ct.agg(sum(col("ct")).as("n_total"))
      tf.join(ct, "term").crossJoin(broadcast(n))
        .withColumn("__micro",
          expr("(2 * n_total * 1000000 + ct) div (2 * ct)"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tok"),
          sum(col("tf") * col("__micro")).as("__sum"))
        .withColumn("rarity",
          expr("((2 * __sum + n_tok) div (2 * n_tok))").cast("double") / lit(1000000.0))
        .select(col("doc_id"), col("n_tok"), col("rarity"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),'\s+'),
                                                w -> len(w)>0)) AS term
              FROM documents)
        GROUP BY doc_id, term),
      ct AS (SELECT term, sum(tf) AS ct FROM tf GROUP BY term),
      n AS (SELECT sum(ct) AS n_total FROM ct),
      m AS (
        SELECT doc_id, sum(tf) AS n_tok,
               sum(tf * ((2 * n_total * 1000000 + ct) // (2 * ct))) AS s
        FROM tf JOIN ct USING (term), n
        GROUP BY doc_id)
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             CAST((2 * s + n_tok) // (2 * n_tok) AS DOUBLE) / 1000000 AS rarity
      FROM m ORDER BY doc_id"""))

  /** Sequence-packing estimate per source — the batch-planning number a
    * training run needs before it starts: at context length L, documents
    * concatenate into ceil(total_tokens / L) packed rows, and
    * total/(packed·L) is the token-occupancy of those rows (1.0 = every
    * context slot filled). One aggregation over per-row token counts —
    * integer math end to end (ceil via (t + L−1) div L, occupancy via
    * DetMath.ratio6), so the plan is a single codegen'd pass with
    * map-side partials.
    */
  val qPackEstimate = Q(
    "q_pack_estimate", {
      val L = 2048
      (s, d) => Tables.documents(s, d)
        .select(col("source"), tokenCount(col("text")).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          // `div` = integer division on both engines; `/` would detour
          // through double
          expr(s"(total_tokens + ${L - 1}) DIV $L").as("packed_rows"),
          graft.functions.DetMath.ratio6(col("total_tokens"),
            expr(s"((total_tokens + ${L - 1}) DIV $L) * $L")).as("occupancy"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH t AS (
        SELECT source,
               CAST(len(list_filter(string_split_regex(text,'\\s+'), w -> len(w)>0)) AS BIGINT) AS n_tok
        FROM documents),
      a AS (
        SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
        FROM t GROUP BY source)
      SELECT source, n_docs, total_tokens,
             (total_tokens + 2047) // 2048 AS packed_rows,
             ${graft.functions.DetMath.ratio6Sql("total_tokens",
                "((total_tokens + 2047) // 2048) * 2048")} AS occupancy
      FROM a ORDER BY source"""))

  /** Corpus-wide adjacent character-pair frequencies, top 20 — the
    * counting step of one BPE merge round (the most frequent pair is
    * the next merge a byte-pair-encoding tokenizer would learn).
    * Per-token pair explosion is map-side work; one shuffle on the
    * pair key with partial counts — the same scalable shape as
    * q_token_freq one level down. Length-1 tokens are excluded BEFORE
    * the sequence expression: Spark's sequence(1, 0) counts DOWN
    * (step defaults to -1), it is not empty.
    */
  val qBpePairs = Q(
    "q_bpe_pairs",
    (s, d) => Tables.documents(s, d)
      .select(explode(tokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20),
    Some("""
      WITH w AS (
        SELECT unnest(list_filter(string_split_regex(lower(text),'\s+'), x -> len(x)>0)) AS w
        FROM documents),
      pairs AS (
        SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
        FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w WHERE len(w) >= 2))
      SELECT pair, count(*) AS n FROM pairs
      GROUP BY 1 ORDER BY n DESC, pair LIMIT 20"""))

  /** Heavy hitters via the SpaceSaving sketch: corpus-wide top-10
    * tokens from a capacity-256 mergeable buffer — the 100 TB path for
    * q_token_freq's exact groupBy (the exchange carries O(parts·256)
    * instead of the token dictionary). This corpus's token domain is
    * far below the capacity, so the sketch is provably EXACT here
    * (err = 0) and the oracle is the plain exact top-10; the unbounded-
    * domain guarantees are pinned in FunctionsSpec.
    */
  val qHeavyHitters = Q(
    "q_heavy_hitters",
    (s, d) => {
      import graft.functions.SpaceSavingAggregator
      Tables.documents(s, d)
        .select(explode(tokens(lower(col("text")))).as("token"))
        .agg(SpaceSavingAggregator.spaceSaving(256)(col("token")).as("sketch"))
        .select(explode(col("sketch")).as("it"))
        .select(col("it.token").as("token"), col("it.count").as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(10)
    },
    Some("""
      SELECT token, count(*) AS n
      FROM (SELECT unnest(list_filter(string_split_regex(lower(text),'\s+'), w -> len(w)>0)) AS token
            FROM documents)
      GROUP BY token ORDER BY n DESC, token LIMIT 10"""),
    // headline: the only mergeable-sketch aggregation over an exploded
    // token stream in the bench (typed Aggregator + partial merge)
    headline = true)

  /** Per-source heavy hitters: the capacity-256 SpaceSaving sketch as a
    * GROUPED aggregate — one sketch per source in a single aggregation
    * pass (partial sketches merge map-side like any buffer), top-5
    * tokens each. The per-domain vocabulary profile a mixture report
    * drills into; same exact-regime oracle argument as the corpus-wide
    * q_heavy_hitters (distinct tokens per source ≪ capacity on the
    * gate corpora, so counts are exact and DuckDB recomputes them).
    */
  val qHeavyHittersBySource = Q(
    "q_heavy_hitters_by_source",
    (s, d) => {
      import graft.functions.SpaceSavingAggregator
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n").desc, col("token"))
      Tables.documents(s, d)
        .select(col("source"), explode(tokens(lower(col("text")))).as("token"))
        .groupBy(col("source"))
        .agg(SpaceSavingAggregator.spaceSaving(256)(col("token")).as("sketch"))
        .select(col("source"), explode(col("sketch")).as("it"))
        .select(col("source"), col("it.token").as("token"), col("it.count").as("n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk").cast("int").as("rank"),
          col("token"), col("n"))
        .orderBy(col("source"), col("rank"))
    },
    Some("""
      WITH t AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text),'\s+'), w -> len(w)>0)) AS token
        FROM documents),
      c AS (SELECT source, token, count(*) AS n FROM t GROUP BY 1, 2),
      r AS (SELECT source, token, n,
                   row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS rk
            FROM c)
      SELECT source, CAST(rk AS INTEGER) AS rank, token, n
      FROM r WHERE rk <= 5 ORDER BY source, rank"""))

  /** Count-Min point-frequency estimates, contract-checked: where
    * q_heavy_hitters finds WHICH items are frequent, the CMS answers
    * "how often did THIS item occur" for items chosen after the pass —
    * depth×width fixed memory at any corpus/dictionary size. The sketch
    * internals are hash-dependent, so the oracle asserts the exact
    * top-10 counts (DuckDB recomputes) plus the two CMS guarantees as
    * booleans: estimates never undershoot the true count (structural),
    * and overshoot stays within 2·N/width (deterministic on the fixed
    * hash family; the expectation is N/width per row, min over 4 rows).
    */
  val qCmsFreq = Q(
    "q_cms_freq",
    (s, d) => {
      import graft.functions.CountMinSketch
      val depth = 4
      val width = 2048
      val toks = Tables.documents(s, d)
        .select(explode(tokens(lower(col("text")))).as("token"))
      val sketch = toks.agg(
        CountMinSketch.countMin(depth, width)(
          CountMinSketch.positions(col("token"), depth, width)).as("sk"),
        count(lit(1)).as("n_total"))
      val top = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(10)
      top.crossJoin(sketch) // one sketch row against ten token rows
        .select(col("token"), col("n"), col("n_total"),
          CountMinSketch.estimate(col("sk"), col("token"), depth, width).as("est"))
        .agg(
          count(lit(1)).cast("bigint").as("n_top"),
          sum(col("n")).cast("bigint").as("total_top"),
          (sum(when(col("est") < col("n"), 1).otherwise(0)) === 0)
            .as("never_underestimates"),
          (sum(when(col("est") - col("n") > col("n_total") * 2 / lit(width), 1)
            .otherwise(0)) === 0).as("err_bounded"))
    },
    Some("""
      WITH t AS (
        SELECT unnest(list_filter(string_split_regex(lower(text),'\s+'), w -> len(w)>0)) AS token
        FROM documents),
      top AS (SELECT token, count(*) AS n FROM t GROUP BY 1 ORDER BY n DESC, token LIMIT 10)
      SELECT CAST(count(*) AS BIGINT) AS n_top, CAST(sum(n) AS BIGINT) AS total_top,
             TRUE AS never_underestimates, TRUE AS err_bounded
      FROM top"""))

  /** Sliding-window chunking: 32-token windows advancing by 24 (8
    * tokens of overlap), one row per (doc, window) — see
    * [[graft.text.Curation.chunkDocuments]]. The oracle rebuilds the
    * same windows with DuckDB's 1-based inclusive list slices.
    */
  val qChunkDocs = Q(
    "q_chunk_docs",
    (s, d) => graft.text.Curation
      .chunkDocuments(Tables.documents(s, d), "doc_id", "text",
        chunkLen = 32, overlap = 8)
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some("""
      WITH t AS (
        SELECT doc_id, list_filter(string_split_regex(text,'\s+'), w -> len(w)>0) AS tk
        FROM documents),
      n AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
      c AS (SELECT doc_id, tk, n,
              CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23) // 24 + 1 END AS nc
            FROM n),
      e AS (SELECT doc_id, tk, CAST(unnest(range(nc)) AS INTEGER) AS chunk_idx FROM c)
      SELECT doc_id, chunk_idx,
             CAST(len(tk[chunk_idx*24+1 : chunk_idx*24+32]) AS INTEGER) AS chunk_tokens,
             array_to_string(tk[chunk_idx*24+1 : chunk_idx*24+32], ' ') AS chunk_text
      FROM e ORDER BY doc_id, chunk_idx"""))

  /** Bigram language-model estimation: conditional next-token
    * probabilities p(w2|w1) = c(w1 w2)/c(w1 ·) with the top-3
    * continuations per context, for contexts seen ≥ 50 times — the
    * counting core of n-gram LM training (and of the contamination
    * heuristics built on LM surprise). Probabilities are exact integer
    * micro rationals (the q_tfidf_terms discipline — c12/c1 never
    * detours through engine-specific float division).
    *
    * Plan shape: bigram explosion is map-side; one shuffle keys the
    * (w1, w2) counts; the context totals reduce FROM those counts (no
    * second corpus pass) and join back as a dimension; the top-3 window
    * partitions on contexts already pruned to ≥ 50 occurrences, so no
    * partition exceeds the corpus's continuation fan-out for a frequent
    * word — the same support-prune-bounds-the-window shape as
    * q_top_grams.
    */
  val qBigramLm = Q(
    "q_bigram_lm",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w1")).orderBy(col("c12").desc, col("w2"))
      val bi = Tables.documents(s, d)
        .select(tokens(lower(col("text"))).as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val contexts = bi.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        .filter(col("c1") >= 50)
      bi.join(contexts, "w1")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("w1"), col("rk").cast("int").as("rank"), col("w2"),
          col("c12"), col("c1"),
          graft.functions.DetMath.ratio6(col("c12"), col("c1")).as("p"))
        .orderBy(col("w1"), col("rank"))
    },
    Some(s"""
      WITH toks AS (
        SELECT list_filter(string_split_regex(lower(text),'\\s+'), w -> len(w)>0) AS t
        FROM documents),
      bi AS (
        SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i + 1 AS INTEGER)] AS w2
        FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
      c AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
      cx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY 1
             HAVING sum(c12) >= 50),
      r AS (
        SELECT c.w1, c.w2, c.c12, cx.c1,
               row_number() OVER (PARTITION BY c.w1 ORDER BY c.c12 DESC, c.w2) AS rk
        FROM c JOIN cx USING (w1))
      SELECT w1, CAST(rk AS INTEGER) AS rank, w2, c12, c1,
             ${graft.functions.DetMath.ratio6Sql("c12", "c1")} AS p
      FROM r WHERE rk <= 3 ORDER BY w1, rank"""))

  /** Per-document LM fluency under the corpus bigram model — the
    * CCNet-style posture (Wenzek et al., "CCNet: Extracting High
    * Quality Monolingual Datasets from Web Crawl Data", LREC 2020 —
    * public literature) of scoring each document by how well a
    * corpus-fit n-gram LM predicts it, then filtering/re-weighting on
    * the score. Two per-doc signals:
    *
    *   `lm_fluency`   — mean conditional bigram likelihood: each doc
    *     bigram occurrence contributes p(w2|w1) = c12/c1 as the exact
    *     6-dp integer-micro rational ([[graft.functions.DetMath]] —
    *     NOT a log-prob sum: ln() is not correctly-rounded-portable
    *     across engines, so perplexity proper cannot hash-match; the
    *     mean-likelihood rendition ranks documents for the same
    *     filtering decision with every intermediate an exact integer).
    *   `novelty_rate` — fraction of the doc's bigram occurrences whose
    *     corpus count is 1 (hapax transitions: high = neologisms/noise
    *     /OCR junk, 0 = fully templated text).
    *
    * Plan shape: the LM fit is the q_bigram_lm counting core (one
    * keyed shuffle; context totals REDUCE from bigram counts, no
    * second corpus pass); scoring re-derives doc bigrams map-side
    * (recompute beats caching a token stream at corpus scale) and
    * joins the (w1, w2)-keyed LM dimension — Heaps-law bounded, the
    * only second exchange — then one per-doc count/sum aggregation.
    * Micro-sums stay exact: Σ p_micro ≤ n_bigrams·10⁶ keeps every
    * ratio6 intermediate under 2^53 for docs to ~4e9 bigrams.
    */
  val qLmDocScore = Q(
    "q_lm_doc_score",
    (s, d) => {
      // persisted: the bigram relation feeds the LM build AND the
      // final join-back, and the LM dimension feeds cx AND pm — as
      // defs the corpus tokenize+explode would execute three times
      val docBigrams = graft.ops.Caching.cachedOnce(Tables.documents(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
      val lm = graft.ops.Caching.cachedOnce(
        docBigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
      val cx = lm.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      // p(w2|w1) in integer micros: the ratio6 numerator kept as a LONG
      // so per-doc sums stay exact integers
      val pm = lm.join(cx, "w1").select(col("w1"), col("w2"),
        floor((lit(2.0) * col("c12").cast("double") * lit(1000000.0)
          + col("c1").cast("double")) / (lit(2.0) * col("c1").cast("double")))
          .cast("long").as("p_micro"),
        (col("c12") === 1L).as("hapax"))
      docBigrams.join(pm, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("p_micro")).as("__sp"),
          sum(when(col("hapax"), 1L).otherwise(0L)).as("__nh"))
        .select(col("doc_id"), col("n_bigrams"),
          graft.functions.DetMath.ratio6(col("__sp"),
            col("n_bigrams") * lit(1000000L)).as("lm_fluency"),
          graft.functions.DetMath.ratio6(col("__nh"),
            col("n_bigrams")).as("novelty_rate"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text),'\\s+'), w -> len(w)>0) AS t
        FROM documents),
      bi AS (
        SELECT doc_id, t[CAST(i AS INTEGER)] AS w1, t[CAST(i + 1 AS INTEGER)] AS w2
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
      c AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
      cx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY 1),
      p AS (SELECT c.w1, c.w2,
                   CAST(floor((2.0 * c12 * 1000000 + c1) / (2.0 * c1)) AS BIGINT) AS p_micro,
                   c12 = 1 AS hapax
            FROM c JOIN cx USING (w1)),
      a AS (
        SELECT bi.doc_id, count(*) AS n_bigrams,
               CAST(sum(p_micro) AS BIGINT) AS sp,
               CAST(sum(CASE WHEN hapax THEN 1 ELSE 0 END) AS BIGINT) AS nh
        FROM bi JOIN p USING (w1, w2) GROUP BY 1)
      SELECT doc_id, n_bigrams,
             ${graft.functions.DetMath.ratio6Sql("sp", "n_bigrams * 1000000")} AS lm_fluency,
             ${graft.functions.DetMath.ratio6Sql("nh", "n_bigrams")} AS novelty_rate
      FROM a ORDER BY doc_id"""),
    headline = true)

  /** Gopher-style quality-rule filtering (Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * arXiv:2112.11446 §A1.1 MassiveText rules — public literature),
    * adapted to the columns this corpus carries: per document the rule
    * diagnostics AND each rule's boolean outcome, so a curation run can
    * report WHY a document fell, not just that it fell. Rules:
    *
    *   r_len        — 4 ≤ n_tokens ≤ 100000
    *   r_mean_len   — mean token length in [1, 12] (6-dp rational)
    *   r_alpha      — ≥ 60% of tokens contain an alphabetic character
    *   r_symbol     — punctuation ≤ 25% of characters
    *   r_stop       — ≥ 2 stopword hits
    *   keep         — the conjunction
    *
    * Pure map work in ONE tokenize pass (the docMetrics discipline);
    * every ratio is an exact integer-micro rational, so the oracle
    * hash-matches.
    */
  val qGopherRules = Q(
    "q_gopher_rules",
    (s, d) => {
      import graft.functions.DetMath.ratio6
      val m = Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          punctCount(col("text")).cast("long").as("n_punct"),
          stopwordHits(col("text"), "en").cast("long").as("stop_hits"),
          tokens(lower(col("text"))).as("t"))
        .select(col("doc_id"), col("n_chars"), col("n_punct"), col("stop_hits"),
          size(col("t")).cast("long").as("n_tokens"),
          expr("aggregate(t, 0L, (a, w) -> a + length(w))").as("tok_chars"),
          size(expr("filter(t, w -> w rlike '[a-z]')")).cast("long").as("n_alpha"))
        .filter(col("n_tokens") > 0)
      m.select(col("doc_id"), col("n_tokens"),
          ratio6(col("tok_chars"), col("n_tokens")).as("mean_tok_len"),
          ratio6(col("n_alpha"), col("n_tokens")).as("alpha_frac"),
          ratio6(col("n_punct"), greatest(col("n_chars"), lit(1L))).as("symbol_ratio"),
          col("stop_hits"))
        .withColumn("r_len", col("n_tokens") >= 4 && col("n_tokens") <= 100000)
        .withColumn("r_mean_len",
          col("mean_tok_len") >= 1.0 && col("mean_tok_len") <= 12.0)
        .withColumn("r_alpha", col("alpha_frac") >= 0.6)
        .withColumn("r_symbol", col("symbol_ratio") <= 0.25)
        .withColumn("r_stop", col("stop_hits") >= 2)
        .withColumn("keep", col("r_len") && col("r_mean_len") && col("r_alpha")
          && col("r_symbol") && col("r_stop"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH m AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(regexp_extract_all(text, '[.,!?;:''"()-]')) AS BIGINT) AS n_punct,
               CAST(${hitsSql(stopwordsSql)} AS BIGINT) AS stop_hits,
               list_filter(string_split_regex(lower(text),'\\s+'), w -> len(w)>0) AS t
        FROM documents),
      f AS (
        SELECT doc_id, n_chars, n_punct, stop_hits,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(list_sum(list_transform(t, w -> len(w))) AS BIGINT) AS tok_chars,
               CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha
        FROM m WHERE len(t) > 0),
      r AS (
        SELECT doc_id, n_tokens,
               ${graft.functions.DetMath.ratio6Sql("tok_chars", "n_tokens")} AS mean_tok_len,
               ${graft.functions.DetMath.ratio6Sql("n_alpha", "n_tokens")} AS alpha_frac,
               ${graft.functions.DetMath.ratio6Sql("n_punct", "greatest(n_chars, 1)")} AS symbol_ratio,
               stop_hits
        FROM f)
      SELECT doc_id, n_tokens, mean_tok_len, alpha_frac, symbol_ratio, stop_hits,
             n_tokens >= 4 AND n_tokens <= 100000 AS r_len,
             mean_tok_len >= 1.0 AND mean_tok_len <= 12.0 AS r_mean_len,
             alpha_frac >= 0.6 AS r_alpha,
             symbol_ratio <= 0.25 AS r_symbol,
             stop_hits >= 2 AS r_stop,
             (n_tokens >= 4 AND n_tokens <= 100000)
               AND (mean_tok_len >= 1.0 AND mean_tok_len <= 12.0)
               AND alpha_frac >= 0.6 AND symbol_ratio <= 0.25
               AND stop_hits >= 2 AS keep
      FROM r ORDER BY doc_id"""))

  /** One unrolled BPE round for the DuckDB oracle: count adjacent
    * symbol pairs of `v$k` (weighted by word frequency), pick the
    * (count desc, left asc, right asc) argmax, rewrite. The symbol
    * array rides as a newline-delimited string — tokens are
    * whitespace-split so a symbol can never contain LF — with each
    * symbol wrapped in its own LF pair (`LF s1 LF LF s2 LF … `): the
    * pattern `LF l LF LF r LF → LF lr LF` then makes plain `replace`
    * exactly the engine's leftmost non-overlapping merge pass
    * (adjacent merge sites keep their own boundary LF, and an l==r run
    * like "aaa" yields ["aa","a"]). MATERIALIZED is load-bearing:
    * DuckDB inlines plain CTEs, so the 10-round chain re-evaluates
    * combinatorially without it (11 s → 0.14 s at sf0.01).
    */
  private def bpeRoundSql(k: Int): String = {
    val lf = "chr(10)"
    s"""
      p$k AS MATERIALIZED (
        SELECT syms[i] AS l, syms[i+1] AS r, sum(n) AS c
        FROM (SELECT string_split(trim(s, $lf), $lf||$lf) AS syms, n FROM v$k) t,
             unnest(range(1, len(syms))) AS u$k(i)
        GROUP BY 1, 2),
      b$k AS MATERIALIZED (
        SELECT l, r, CAST(c AS BIGINT) AS c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
      v${k + 1} AS MATERIALIZED (
        SELECT replace(s, $lf||l||$lf||$lf||r||$lf, $lf||l||r||$lf) AS s, n
        FROM v$k, b$k)"""
  }

  /** BPE merge-table learning (10 merges) over the corpus — see
    * [[graft.text.Bpe.learnMerges]] for the vocab-relation + per-round
    * aggregation scale shape. The merge loop is iterative (round k's
    * pair counts depend on the k−1 rewrite), so the oracle unrolls the
    * fixed 10 rounds as CTEs — the `q_pagerank` pattern — with
    * [[bpeRoundSql]]'s delimited-string `replace` standing in for the
    * engine's carry-fold merge pass. Early exhaustion agrees by
    * construction: an empty argmax empties every later round's CTEs on
    * the oracle side exactly where the engine's loop stops.
    * `BpeSpec` additionally cross-checks the merge table against an
    * independent in-memory reference implementation.
    */
  val qBpeLearn = Q(
    "q_bpe_learn",
    (s, d) => {
      val merges = graft.text.Bpe.learnMerges(
        Tables.documents(s, d), "text", nMerges = 10)
      import s.implicits._
      merges.toDF("merge_rank", "left", "right", "pair_count")
        .orderBy(col("merge_rank"))
    },
    Some {
      val lf = "chr(10)"
      s"""
      WITH v0 AS MATERIALIZED (
        SELECT $lf || array_to_string(string_split(w, ''), $lf||$lf) || $lf AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        w -> len(w) > 0)) AS w
              FROM documents)
        GROUP BY 1),
      ${(0 until 10).map(bpeRoundSql).mkString(",")}
      SELECT * FROM (
        ${(0 until 10).map(k =>
          s"""SELECT CAST($k AS INT) AS merge_rank, l AS "left", r AS "right",
                     c AS pair_count FROM b$k""").mkString(" UNION ALL ")}
      ) ORDER BY merge_rank"""
    })

  /** BPE ENCODE — the other half of the tokenizer: learn the merge
    * table (as q_bpe_learn) and apply it to every token of the corpus
    * via [[graft.text.Bpe.segment]]. The merge table is a fitted model
    * parameter riding the plan as literals; encoding is pure map work
    * (one fold per merge rank), zero shuffles beyond the scan.
    *
    * The merge loop is not SQL-expressible, so the oracle pins what IS
    * recomputable: exact (doc_id, token_idx, w) tokenization parity,
    * plus two contract bits — subword pieces concatenate back to the
    * token (lossless round trip) and the piece count never exceeds the
    * character count. BpeSpec separately pins the merge table and
    * rank-order application against an independent in-memory reference.
    */
  val qBpeEncode = Q(
    "q_bpe_encode",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.text.Bpe.learnMerges(docs, "text", nMerges = 10)
      graft.text.Bpe.segment(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("token_idx"), col("w"),
          (concat_ws("", col("pieces")) === col("w")).as("roundtrip_ok"),
          (size(col("pieces")) <= length(col("w"))).as("pieces_bounded"))
        .orderBy(col("doc_id"), col("token_idx"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           w -> len(w) > 0) AS ws
        FROM documents)
      SELECT doc_id, CAST(i - 1 AS INT) AS token_idx, ws[i] AS w,
             TRUE AS roundtrip_ok, TRUE AS pieces_bounded
      FROM toks, unnest(range(1, len(ws) + 1)) AS t(i)
      ORDER BY doc_id, token_idx"""))

  /** Tokenizer vocabulary coverage: per document, the fraction of token
    * OCCURRENCES falling outside the corpus's top-256 vocabulary — the
    * out-of-vocabulary rate a tokenizer-budget decision needs (a high
    * OOV tail marks codes/OCR noise that will shatter into bytes).
    * The vocabulary is the deterministic top-256 by corpus frequency
    * (count desc, token asc); membership rides a BROADCAST join against
    * the exploded token stream (the vocab is a fitted artifact — a few
    * KiB at any corpus size), and the per-doc aggregation is one keyed
    * count pass. Docs with zero tokens have no occurrences and drop out
    * on both engines. Rate is an exact integer-micro rational.
    */
  val qOovRate = Q(
    "q_oov_rate",
    (s, d) => {
      // the token stream reduced ONCE to (doc, word, count) pairs and
      // cached: the vocabulary fit re-aggregates the pairs and the
      // per-doc OOV rate weights by them, so the tokenize+explode
      // doesn't rerun per branch (r12 scan sweep)
      val pairs = graft.ops.Caching.cachedOnce(Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c")))
      val vocab = pairs.groupBy(col("w")).agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("w")).limit(256)
        .select(col("w"), lit(1).as("__v"))
      pairs.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tok"),
          sum(when(col("__v").isNull, col("c")).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tok"), col("n_oov"),
          graft.functions.DetMath.ratio6(col("n_oov"), col("n_tok")).as("oov_rate"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),'\\s+'), w -> len(w)>0)) AS w
        FROM documents),
      v AS (SELECT w FROM (SELECT w, count(*) AS n FROM t GROUP BY 1
                           ORDER BY n DESC, w LIMIT 256)),
      a AS (
        SELECT doc_id, count(*) AS n_tok,
               sum(CASE WHEN w IN (SELECT w FROM v) THEN 0 ELSE 1 END) AS n_oov
        FROM t GROUP BY 1)
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, CAST(n_oov AS BIGINT) AS n_oov,
             ${graft.functions.DetMath.ratio6Sql("n_oov", "n_tok")} AS oov_rate
      FROM a ORDER BY doc_id"""))

  /** Source-normalized quality: each document's PERCENTILE RANK of
    * quality within its own source — the cross-source-comparable score
    * a mixture-aware filter thresholds on (a raw cutoff keeps the best
    * of clean sources and the worst of noisy ones; a per-source
    * percentile keeps each source's best). rank() ties are peers on
    * both engines; pct = (rank−1)/(n−1) as an exact integer-micro
    * rational, 0 for singleton sources.
    *
    * Scale shape: the rank is NOT a `Window.partitionBy(source)` sort —
    * a dominant source (a web crawl is 80-90% of a real 100 TB mix)
    * would make that a single-task sort of most of the corpus. It is
    * [[graft.ops.Ranking.rankByGroup]]'s band decomposition: a
    * (source, quality-band) count histogram to the driver, offsets
    * broadcast back, in-band rank under a (source, band)-partitioned
    * window. Exact same output, bounded partition state.
    */
  val qQualityPctRank = Q(
    "q_quality_pct_rank",
    (s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          round(qualityScore(col("text")), 6).as("q"))
      graft.ops.Ranking.rankByGroup(scored, "source", "q")
        // null __n (an unrankable row — null source or quality) stays
        // null through both branches rather than reading as a singleton
        .select(col("doc_id"), col("source"), col("q").as("quality"),
          when(col("__n") > 1,
            graft.functions.DetMath.ratio6(col("__rk") - 1, col("__n") - 1))
            .when(col("__n") === 1, lit(0.0)).as("pct_rank"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH m AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(text,'\\s+'), w -> len(w)>0)) AS DOUBLE) AS n_tok,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(regexp_extract_all(text, '[.,!?;:''"()-]')) AS DOUBLE) AS n_punct,
               CAST(${hitsSql(stopwordsSql)} AS DOUBLE) AS stop_h
        FROM documents),
      sc AS (
        SELECT doc_id, source,
               round(least(n_tok / 64.0, 1.0) * 0.5
                     + (1.0 - n_punct / greatest(n_chars, 1.0)) * 0.25
                     + least(stop_h / greatest(n_tok, 1.0) * 4.0, 1.0) * 0.25, 6) AS q
        FROM m),
      r AS (
        SELECT doc_id, source, q,
               rank() OVER (PARTITION BY source ORDER BY q) AS rk,
               count(*) OVER (PARTITION BY source) AS n
        FROM sc)
      SELECT doc_id, source, q AS quality,
             CASE WHEN n > 1
                  THEN ${graft.functions.DetMath.ratio6Sql("rk - 1", "n - 1")}
                  ELSE 0.0 END AS pct_rank
      FROM r ORDER BY doc_id"""))

  /** Source × language contingency table with expected counts and lift
    * — the mixture diagnostic that flags a source whose language mix
    * diverges from the corpus (expected = row·col/N under independence;
    * lift = observed/expected). All three derived relations (row
    * totals, column totals, grand total) REDUCE from the cell counts —
    * the corpus is scanned and shuffled exactly once — and ride back as
    * broadcasts. Exact integer-micro rationals throughout (counts ×
    * counts stay integral).
    */
  val qCrosstab = Q(
    "q_crosstab",
    (s, d) => {
      // the (source × lang) contingency cell is tiny but feeds three
      // marginal branches plus the join-back; cached → one corpus scan
      // (r12 scan sweep)
      val cell = graft.ops.Caching.cachedOnce(Tables.documents(s, d)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_obs")))
      val rowT = cell.groupBy(col("source")).agg(sum(col("n_obs")).as("rt"))
      val colT = cell.groupBy(col("lang")).agg(sum(col("n_obs")).as("ct"))
      val tot = cell.agg(sum(col("n_obs")).as("nn"))
      cell.join(broadcast(rowT), "source")
        .join(broadcast(colT), "lang")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n_obs"),
          graft.functions.DetMath.ratio6(col("rt") * col("ct"), col("nn")).as("expected"),
          graft.functions.DetMath.ratio6(col("n_obs") * col("nn"), col("rt") * col("ct")).as("lift"))
        .orderBy(col("source"), col("lang"))
    },
    Some(s"""
      WITH cell AS (
        SELECT source, lang, count(*) AS n_obs FROM documents GROUP BY 1, 2),
      rt AS (SELECT source, sum(n_obs) AS rt FROM cell GROUP BY 1),
      ct AS (SELECT lang, sum(n_obs) AS ct FROM cell GROUP BY 1),
      nn AS (SELECT sum(n_obs) AS nn FROM cell)
      SELECT cell.source, cell.lang, n_obs,
             ${graft.functions.DetMath.ratio6Sql("rt.rt * ct.ct", "nn.nn")} AS expected,
             ${graft.functions.DetMath.ratio6Sql("n_obs * nn.nn", "rt.rt * ct.ct")} AS lift
      FROM cell JOIN rt USING (source) JOIN ct USING (lang), nn
      ORDER BY source, lang"""))

  /** Declared-vs-predicted language confusion matrix — the label-quality
    * audit run before trusting a corpus's `lang` metadata (crawl
    * metadata lies; the confusion matrix says where). One keyed
    * aggregation over per-row langId predictions; diagonal rows carry
    * `agree = true` so the agreement rate reads off directly.
    */
  val qLangConfusion = Q(
    "q_lang_confusion",
    (s, d) => Tables.documents(s, d)
      .select(col("lang"), langId(col("text")).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("agree", col("lang") === col("pred_lang"))
      .orderBy(col("lang"), col("pred_lang")),
    Some(s"""
      WITH scored AS (
        SELECT doc_id, lang,
               ${hitsSql(stopwordsSql)} AS en_h,
               ${hitsSql("('der','die','das','und','ist','nicht','ein','zu')")} AS de_h,
               ${hitsSql("('el','la','de','y','que','en','un','es')")} AS es_h,
               ${hitsSql("('le','la','et','les','des','un','une','est')")} AS fr_h,
               regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS cjk
        FROM documents),
      pred AS (
        SELECT lang,
               CASE WHEN cjk THEN 'zh'
                    WHEN greatest(en_h, de_h, es_h, fr_h) = 0 THEN 'und'
                    WHEN en_h = greatest(en_h, de_h, es_h, fr_h) THEN 'en'
                    WHEN de_h = greatest(en_h, de_h, es_h, fr_h) THEN 'de'
                    WHEN es_h = greatest(en_h, de_h, es_h, fr_h) THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM scored)
      SELECT lang, pred_lang, count(*) AS n, lang = pred_lang AS agree
      FROM pred GROUP BY 1, 2 ORDER BY lang, pred_lang"""))

  /** The dataset card: one row summarizing the corpus — doc/token
    * volume, source/language breadth, exact-duplicate rate, and mean
    * quality — the numbers a dataset README leads with, in ONE
    * aggregation pass over a single scan (the distinct counts share
    * the Expand; quality folds to integer micros so the mean is an
    * exact integer division, no float accumulation).
    */
  val qCorpusCard = Q(
    "q_corpus_card",
    (s, d) => Tables.documents(s, d)
      .select(col("source"), col("lang"),
        tokenCount(col("text")).cast("long").as("n_tok"),
        graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
      .withColumn("len_micros",
        expr("CAST(round(least(CAST(n_tok AS DOUBLE) / 64.0, 1.0) * 1000000) AS BIGINT)"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("fp")).as("n_distinct"),
        sum(col("len_micros")).as("__lm"))
      .select(col("n_docs"), col("total_tokens"), col("n_sources"),
        col("n_langs"),
        graft.functions.DetMath.ratio6(
          col("n_docs") - col("n_distinct"), greatest(col("n_docs"), lit(1L)))
          .as("dup_rate"),
        // greatest(…, 1): an empty corpus yields a zeroed card row
        // instead of an integer-division-by-zero crash
        expr("__lm DIV greatest(n_docs, 1)").as("mean_len_score_micros")),
    Some(s"""
      WITH m AS (
        SELECT source, lang,
               CAST(len(list_filter(string_split_regex(text,'\\s+'), w -> len(w)>0)) AS BIGINT) AS n_tok,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents),
      m2 AS (
        SELECT *, CAST(round(least(CAST(n_tok AS DOUBLE) / 64.0, 1.0) * 1000000) AS BIGINT) AS len_micros
        FROM m)
      SELECT count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             ${graft.functions.DetMath.ratio6Sql(
               "count(*) - count(DISTINCT fp)", "greatest(count(*), 1)")} AS dup_rate,
             CAST(sum(len_micros) AS BIGINT) // count(*) AS mean_len_score_micros
      FROM m2"""))

  /** Quality-weighted sampling: each document kept with probability
    * EQUAL to its quality score — the importance-sampling curation
    * posture (DoReMi-style mixture shaping one level down: soft
    * preference for high-quality docs instead of a hard cutoff), fully
    * deterministic via the Knuth bucket hash so reruns and engines
    * agree row-for-row. `Curation.sampledAt` with a per-row rate; the
    * 6-dp quality rate is exact in the 1e6-bucket integer compare.
    * Shuffle-free map-side filter.
    */
  val qWeightedSample = Q(
    "q_weighted_sample",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        round(qualityScore(col("text")), 6).as("q"))
      .filter(graft.text.Curation.sampledAt(col("doc_id"), col("q")))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH m AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(text,'\\s+'), w -> len(w)>0)) AS DOUBLE) AS n_tok,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(regexp_extract_all(text, '[.,!?;:''"()-]')) AS DOUBLE) AS n_punct,
               CAST(${hitsSql(stopwordsSql)} AS DOUBLE) AS stop_h
        FROM documents),
      sc AS (
        SELECT doc_id, source,
               round(least(n_tok / 64.0, 1.0) * 0.5
                     + (1.0 - n_punct / greatest(n_chars, 1.0)) * 0.25
                     + least(stop_h / greatest(n_tok, 1.0) * 4.0, 1.0) * 0.25, 6) AS q
        FROM m)
      SELECT doc_id, source, q
      FROM sc
      WHERE CAST(((doc_id % 999999937) * 2654435761) % 1000000 AS DOUBLE) < q * 1000000.0
      ORDER BY doc_id"""))

  /** Distributed Naive-Bayes-style quality classifier, trained and
    * applied in one pipeline — the CCNet/fastText distillation move
    * (Wenzek et al., arXiv:1911.00359): cheap rule labels (length ≥ 40
    * tokens AND ≥ 2 stopword hits — a Gopher-lite keep) become
    * class-conditional token weights, which then score every document.
    * On this synthetic same-vocab corpus the token signal is bounded
    * (~63% train accuracy, the honest ceiling — tokens are drawn from
    * one shared vocabulary regardless of label), but the MECHANISM is
    * the deliverable: weights are Laplace-smoothed occurrence rates
    * per class, the score is Σ_occurrences (rate₊ − rate₋), and the
    * whole thing is exact in integer micro units — `div`-rounded
    * rationals, BIGINT sums, no ln(), no float accumulation order.
    *
    * Scale shape: one token-keyed count aggregation (map-side combine)
    * trains the model; the totals row is a broadcast; scoring is the
    * qTokenRarity dimension join (vocabulary is Heaps-bounded, hot
    * tokens fan out linearly) plus one doc-keyed reduce. Nothing
    * collects to the driver.
    */
  val qNbClassifier = Q(
    "q_nb_classifier",
    (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("t"),
          stopwordHits(col("text"), "en").cast("long").as("stop_hits"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), col("t"),
          (size(col("t")) >= 40 && col("stop_hits") >= 2).as("label"))
      // reduce the token stream to the (doc, label, word, tf) pair
      // relation ONCE and cache it: it serves BOTH the per-word-count
      // fit (label-conditional sums of tf) and the scoring join
      // (occurrence-weighted by tf), so the tokenize+explode doesn't
      // rerun per branch (the q_lm_doc_score reduced-relation
      // discipline; r12 scan sweep)
      val pairs = graft.ops.Caching.cachedOnce(
        base.select(col("doc_id"), col("label"), explode(col("t")).as("w"))
          .groupBy(col("doc_id"), col("label"), col("w"))
          .agg(count(lit(1)).as("wtf")))
      val counts = pairs.groupBy(col("w")).agg(
        sum(when(col("label"), col("wtf")).otherwise(0L)).as("pos"),
        sum(when(!col("label"), col("wtf")).otherwise(0L)).as("neg"))
      val totals = counts.agg(sum(col("pos")).as("tp"), sum(col("neg")).as("tn"),
        count(lit(1)).as("v"))
      // round(rate·10⁶) half-up via (2a+d) div 2d — pure BIGINT on both
      // engines (Spark `div` / DuckDB `//`), no double in sight
      val weights = counts.crossJoin(broadcast(totals)).select(col("w"),
        (expr("(2 * (pos + 1) * 1000000 + (tp + v)) div (2 * (tp + v))")
          - expr("(2 * (neg + 1) * 1000000 + (tn + v)) div (2 * (tn + v))"))
          .as("w_micros"))
      pairs.join(weights, "w")
        .groupBy(col("doc_id"), col("label"))
        .agg(sum(col("wtf")).as("n_tok"),
          sum(col("wtf") * col("w_micros")).as("s"))
        .select(col("doc_id"), col("label"), col("n_tok"),
          col("s").as("score_micros"), (col("s") > 0).as("pred"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH m AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text),'\\s+'), w -> len(w)>0) AS t,
               CAST(${hitsSql(stopwordsSql)} AS BIGINT) AS stop_hits
        FROM documents),
      b AS (
        SELECT doc_id, t, (len(t) >= 40 AND stop_hits >= 2) AS label
        FROM m WHERE len(t) > 0),
      tok AS (SELECT doc_id, label, unnest(t) AS w FROM b),
      c AS (
        SELECT w,
               CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos,
               CAST(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS neg
        FROM tok GROUP BY 1),
      tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS tp, CAST(sum(neg) AS BIGINT) AS tn,
               count(*) AS v
        FROM c),
      wt AS (
        SELECT w,
               CAST((2 * (pos + 1) * 1000000 + (tp + v)) // (2 * (tp + v))
                  - (2 * (neg + 1) * 1000000 + (tn + v)) // (2 * (tn + v))
                    AS BIGINT) AS w_micros
        FROM c, tot),
      sc AS (
        SELECT tok.doc_id, tok.label, count(*) AS n_tok,
               CAST(sum(wt.w_micros) AS BIGINT) AS s
        FROM tok JOIN wt USING (w) GROUP BY 1, 2)
      SELECT doc_id, label, n_tok, s AS score_micros, s > 0 AS pred
      FROM sc ORDER BY doc_id"""))

  /** BM25-flavored retrieval ranking: top-20 documents for a fixed
    * query term set, scored with the Robertson tf saturation
    * (k1 = 1.2, b = 0.75) and a RATIONAL idf surrogate
    * (N − df + 1)/(df + 1) in place of the usual log — ln() is not
    * portably rounded (the repo-wide rule), and the surrogate is
    * monotone in df, which is all a ranking needs. With the constants
    * cleared of decimals the whole score is exact BIGINT:
    *
    *   tf_part = 22·tf·Σdl / (10·Σdl·tf + 3·Σdl + 9·dl·N)   [×10·Σdl]
    *   score   = Σ_terms idf_micros · tf_micros
    *
    * Scale shape: the corpus narrows to query-term postings BEFORE any
    * shuffle (filter on the literal term set pushes to the scan), so
    * the keyed aggregation carries O(matching docs · |query|) rows, the
    * df relation is |query| rows (broadcast), corpus stats are one
    * broadcast row, and the top-20 is TakeOrdered — per-partition
    * top-k + a 20-row merge, never a global sort or window.
    */
  val qBm25Rank = Q(
    "q_bm25_rank",
    (s, d) => {
      val terms = Seq("spark", "window", "merge", "vector")
      // one tokenize pass: project each doc to (dl, query-term-filtered
      // token array) and cache that NARROW relation (doc id + length +
      // a few-element array) — it serves both the corpus stats (needs
      // every doc's length, so the term-filtered tf relation alone
      // can't) and the tf explode, which now unnests only the filtered
      // handful instead of the whole document (r12 scan sweep)
      val base = graft.ops.Caching.cachedOnce(Tables.documents(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
          filter(col("t"), w => w.isin(terms: _*)).as("qt")))
      val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
      val tf = base.select(col("doc_id"), col("dl"), explode(col("qt")).as("w"))
        .groupBy(col("doc_id"), col("dl"), col("w"))
        .agg(count(lit(1)).as("tf"))
      val dfRel = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfRel), "w")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (expr("(2 * (n - df + 1) * 1000000 + (df + 1)) div (2 * (df + 1))")
            * expr("""(2 * (22 * tf * sum_dl) * 1000000
                       + (10 * sum_dl * tf + 3 * sum_dl + 9 * dl * n))
                      div (2 * (10 * sum_dl * tf + 3 * sum_dl + 9 * dl * n))"""))
            .as("c"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },
    Some("""
      WITH b AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text),'\s+'), w -> len(w)>0) AS t
        FROM documents),
      base AS (
        SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl FROM b WHERE len(t) > 0),
      stats AS (
        SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sum_dl FROM base),
      tok AS (
        SELECT doc_id, dl, unnest(t) AS w FROM base),
      tf AS (
        SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE w IN ('spark', 'window', 'merge', 'vector')
        GROUP BY 1, 2, 3),
      dfr AS (
        SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      contrib AS (
        SELECT tf.doc_id,
               CAST(((2 * (n - df + 1) * 1000000 + (df + 1)) // (2 * (df + 1)))
                  * ((2 * (22 * tf * sum_dl) * 1000000
                      + (10 * sum_dl * tf + 3 * sum_dl + 9 * dl * n))
                     // (2 * (10 * sum_dl * tf + 3 * sum_dl + 9 * dl * n)))
                    AS BIGINT) AS c
        FROM tf JOIN dfr USING (w), stats)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS score
      FROM contrib GROUP BY 1
      ORDER BY score DESC, doc_id LIMIT 20"""))

  /** Inverted index (term → sorted posting list + document frequency)
    * for the mid-frequency vocabulary band — the retrieval-index build
    * step BM25 (q_bm25_rank) presupposes.
    *
    * Scale discipline: document frequencies are computed FIRST and the
    * band filter (5 ≤ df ≤ 50) applied BEFORE any posting list is
    * collected — a single-phase groupBy + collect_list would buffer a
    * stopword's corpus-sized posting list on one reducer before the
    * HAVING could drop it. After the semi-join, every aggregation
    * buffer is ≤ 50 ids by construction, and the emitted list is
    * additionally width-capped at 20. (A full-corpus index would shard
    * postings by (term, id-range) instead of capping — the band filter
    * IS the stopword-elimination contract of classic IR.)
    */
  val qInvertedIndex = Q(
    "q_inverted_index",
    (s, d) => {
      // terms are word BIGRAMS: the corpus's unigram vocabulary is a
      // few dozen near-ubiquitous words (df ≈ corpus size — all
      // stopwords by the band's definition), while bigrams spread
      // across the whole df spectrum. ≥2-token guard BEFORE the
      // sequence: Spark's sequence(1, 0) counts DOWN, it is not empty.
      val pairs = Tables.documents(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("ws"))
        .where(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(ws) - 1),
             i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"""))
          .as("term"))
        .distinct()
      val dfs = pairs.groupBy("term")
        .agg(count(lit(1)).as("df"))
        .where(col("df").between(5, 50))
      pairs.join(dfs, "term")
        .groupBy(col("term"), col("df"))
        // postings serialized to a space-joined string: the driver's
        // pandas comparator cannot sort/hash raw ARRAY columns (the
        // q_array_funcs house convention).
        .agg(expr("""array_join(transform(
               slice(array_sort(collect_list(doc_id)), 1, 20),
               x -> CAST(x AS STRING)), ' ')""").as("postings"))
        .select(col("term"), col("df"), col("postings"))
        .orderBy(col("term"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           w -> len(w) > 0) AS ws
        FROM documents),
      pairs AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS term
        FROM toks, unnest(range(1, len(ws))) AS t(i))
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             array_to_string(list_transform(
               (list_sort(list(doc_id)))[1:20],
               x -> CAST(x AS VARCHAR)), ' ') AS postings
      FROM pairs
      GROUP BY term HAVING count(*) BETWEEN 5 AND 50
      ORDER BY term"""))

  /** Compression-ratio quality signal (CCNet/Gopher-style): deflate
    * size ÷ raw size per document via the native deflate_len
    * expression — repetitive machine-generated text compresses far
    * below natural prose, a language-agnostic repetitiveness score
    * computed map-side with zero shuffles.
    *
    * The codec output is not SQL-recomputable, so the oracle checks the
    * per-row CONTRACT instead (the q_dedup_simhash pattern): exact
    * doc_id + byte-length match plus ratio_ok = "0 < z ≤ n_bytes + 64"
    * (raw deflate's worst-case stored-block overhead), vacuously true
    * for NULL/empty text. The score's semantics (repetitive ≪ varied,
    * determinism, doubling behavior) are pinned in CompressionSpec.
    */
  val qCompressionRatio = Q(
    "q_compression_ratio",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), octet_length(col("text")).as("n_bytes"),
        graft.functions.CompressionExpressions.deflate_len(col("text")).as("z"))
      .select(col("doc_id"), col("n_bytes"),
        coalesce(
          when(col("n_bytes") === 0, lit(true))
            .otherwise(col("z") > 0 && col("z") <= col("n_bytes") + 64),
          lit(true)).as("ratio_ok"))
      .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes,
             TRUE AS ratio_ok
      FROM documents ORDER BY doc_id"""))

  /** PARETO-FRONT corpus selection: documents not dominated on
    * (quality, mean token rarity) — "no other doc is at least as good
    * on both axes and strictly better on one". The multi-criteria
    * keep-set a curation pipeline wants when collapsing two signals to
    * one scalar would bake in an arbitrary trade-off.
    *
    * Scale shape — 2-D skyline WITHOUT the O(n²) dominance join and
    * WITHOUT a global window: quality-micro BANDS decompose the strict
    * upper region. A doc is dominated iff (a) some strictly-higher-
    * quality doc has ≥ its rarity — split into strictly-higher BANDS
    * (per-band max-rarity relation, ≤ 101 rows, tiny band×band prefix
    * join) plus strictly-higher q WITHIN the band (keyed range-frame
    * window) — or (b) a same-quality doc has strictly higher rarity
    * (peer-group max frame). Everything is keyed by band; the only
    * non-doc-sized relation is the 101-row band max. Both metrics are
    * exact integer micros (the q_token_rarity/q_quality_score
    * formulas), so the oracle's brute-force NOT EXISTS agrees exactly.
    */
  val qParetoFront = Q(
    "q_pareto_front",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).where(col("text").isNotNull)
      // the tokenize+explode relation feeds BOTH the corpus term counts
      // and the per-doc rarity join; cache it once (the q_lm_doc_score
      // bigram-relation discipline) or the self-join recomputes the
      // explode — and re-reads documents — on every branch
      val tf = graft.ops.Caching.cachedOnce(docs
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val ct = tf.groupBy(col("term")).agg(sum(col("tf")).as("ct"))
      val n = ct.agg(sum(col("ct")).as("n_total"))
      val rarity = tf.join(ct, "term").crossJoin(broadcast(n))
        .withColumn("__micro", expr("(2 * n_total * 1000000 + ct) div (2 * ct)"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tok"), sum(col("tf") * col("__micro")).as("__sum"))
        .select(col("doc_id"), expr("(2 * __sum + n_tok) div (2 * n_tok)").as("r"))
      val m = rarity.join(
        docs.select(col("doc_id"),
          round(qualityScore(col("text")), 6).as("qd"))
          .select(col("doc_id"),
            expr("CAST(round(qd * 1000000) AS BIGINT)").as("q")),
        "doc_id")
        .withColumn("band", expr("q div 10000"))
      val bandMax = m.groupBy(col("band")).agg(max(col("r")).as("bm"))
      val pref = bandMax.alias("a")
        .join(bandMax.alias("b"), col("b.band") > col("a.band"), "left")
        .groupBy(col("a.band").as("band")).agg(max(col("b.bm")).as("prefmax"))
      val wHigher = Window.partitionBy(col("band")).orderBy(col("q"))
        .rangeBetween(1L, Window.unboundedFollowing)
      val wPeer = Window.partitionBy(col("band")).orderBy(col("q"))
        .rangeBetween(Window.currentRow, Window.currentRow)
      m.join(pref, Seq("band"), "left")
        .withColumn("hb", max(col("r")).over(wHigher))
        .withColumn("pm", max(col("r")).over(wPeer))
        .withColumn("dominated",
          coalesce(greatest(col("prefmax"), col("hb")) >= col("r"), lit(false)) ||
            col("r") < col("pm"))
        .where(!col("dominated"))
        .select(col("doc_id"), col("q"), col("r"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),'\\s+'),
                                                w -> len(w)>0)) AS term
              FROM documents WHERE text IS NOT NULL)
        GROUP BY doc_id, term),
      ct AS (SELECT term, sum(tf) AS ct FROM tf GROUP BY term),
      n AS (SELECT sum(ct) AS n_total FROM ct),
      rar AS (
        SELECT doc_id,
               CAST((2 * sum(tf * ((2 * n_total * 1000000 + ct) // (2 * ct))) + sum(tf))
                 // (2 * sum(tf)) AS BIGINT) AS r
        FROM tf JOIN ct USING (term) CROSS JOIN n
        GROUP BY doc_id),
      qm AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text,'\\s+'), w -> len(w)>0)) AS DOUBLE) AS n_tok,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(len(regexp_extract_all(text, '[.,!?;:''"()-]')) AS DOUBLE) AS n_punct,
               CAST(${hitsSql(stopwordsSql)} AS DOUBLE) AS stop_h
        FROM documents WHERE text IS NOT NULL),
      qual AS (
        SELECT doc_id,
               CAST(round(round(least(n_tok / 64.0, 1.0) * 0.5
                     + (1.0 - n_punct / greatest(n_chars, 1.0)) * 0.25
                     + least(stop_h / greatest(n_tok, 1.0) * 4.0, 1.0) * 0.25, 6)
                     * 1000000) AS BIGINT) AS q
        FROM qm),
      m AS (SELECT rar.doc_id, q, r FROM rar JOIN qual ON rar.doc_id = qual.doc_id)
      SELECT a.doc_id, a.q, a.r FROM m a
      WHERE NOT EXISTS (
        SELECT 1 FROM m b
        WHERE b.q >= a.q AND b.r >= a.r AND (b.q > a.q OR b.r > a.r))
      ORDER BY doc_id"""))

  /** PMI-ranked collocations — the classic multi-word-expression miner
    * (Church & Hanks, "Word association norms, mutual information, and
    * lexicography", CL 1990): pairs whose observed bigram count beats
    * the independence expectation c1·c2/N. Marginals and N reduce FROM
    * the bigram-count relation (the textbook bigram-table PMI), so the
    * whole query is ONE pair-keyed shuffle plus two vocabulary-bounded
    * reductions; the w1/w2 marginal joins are Heaps-law dimension
    * joins. The score is the PMI ratio itself in integer micros —
    * monotone in log-PMI with no cross-libm ln(); numerators stay in
    * DECIMAL(38,0)/HUGEINT so 100 TB token counts can't overflow. A
    * min-support floor (c12 ≥ 10) kills the hapax pairs that saturate
    * raw PMI; output is the global top-50 via TakeOrdered (per-partition
    * top-k merge, never a full sort).
    */
  val qPmiCollocations = Q(
    "q_pmi_collocations",
    (s, d) => {
      val bi = graft.ops.Caching.cachedOnce(Tables.documents(s, d)
        .select(tokens(lower(col("text"))).as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
      val left  = bi.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val right = bi.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
      val total = bi.agg(sum(col("c12")).as("n_bi"))
      bi.filter(col("c12") >= 10)
        .join(left, "w1").join(right, "w2")
        .crossJoin(broadcast(total))
        .select(col("w1"), col("w2"), col("c12"),
          expr("""CAST((2 * CAST(c12 AS DECIMAL(38,0)) * n_bi * 1000000
                        + CAST(c1 AS DECIMAL(38,0)) * c2)
                       div (2 * CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)""")
            .as("pmi_micros"))
        .orderBy(col("pmi_micros").desc, col("w1"), col("w2"))
        .limit(50)
    },
    Some("""
      WITH toks AS (
        SELECT list_filter(string_split_regex(lower(text),'\s+'), w -> len(w)>0) AS t
        FROM documents),
      bi AS (
        SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i + 1 AS INTEGER)] AS w2
        FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
      c AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
      lm AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY 1),
      rm AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c GROUP BY 1),
      n AS (SELECT CAST(sum(c12) AS HUGEINT) AS n_bi FROM c)
      SELECT c.w1, c.w2, c.c12,
             CAST((2::HUGEINT * c.c12 * n.n_bi * 1000000 + lm.c1::HUGEINT * rm.c2)
                  // (2::HUGEINT * lm.c1 * rm.c2) AS BIGINT) AS pmi_micros
      FROM c JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN n
      WHERE c.c12 >= 10
      ORDER BY pmi_micros DESC, w1, w2 LIMIT 50"""),
    headline = true)

  /** Reciprocal-rank fusion of independent document rankings (Cormack
    * & Clarke's RRF, SIGIR 2009): each signal contributes
    * 1/(60 + rank), so agreement near the top dominates and no signal
    * needs calibrated scores — the standard way to combine length,
    * diversity and cleanliness orderings (or BM25 + dense retrieval)
    * without learning weights. Each global ranking runs through
    * [[graft.ops.Ranking.rankByGroup]]'s band decomposition — NO
    * single-partition global sort at any corpus size; ranks are SQL
    * `rank()` competition ranks so ties agree across engines, and the
    * fused score is Σ 1e6 div (60+r) — exact BIGINT, no float fusion.
    */
  val qRrfFusion = Q(
    "q_rrf_fusion",
    (s, d) => {
      import org.apache.spark.sql.Column
      // cache the doc-level metrics: each rankByGroup fold reuses its
      // input for the band histogram + join-back, so three chained
      // rankings compound to 2³ recomputations of the tokenizing
      // projection (8 document scans, plan-audited r12) unless the
      // base is cached — after which every branch is integer
      // arithmetic on doc-sized rows
      val m = graft.ops.Caching.cachedOnce(
        Tables.documents(s, d).select(col("doc_id"),
            col("n_chars"),
            size(array_distinct(tokens(lower(col("text"))))).as("n_distinct"),
            punctCount(col("text")).as("n_punct"))
          .withColumn("__all", lit("all")))
      val sigs: Seq[(String, Column)] = Seq(
        ("r_len",   -col("n_chars").cast("double")),
        ("r_div",   -col("n_distinct").cast("double")),
        ("r_punct", col("n_punct").cast("double")))
      val ranked = sigs.foldLeft(m) { case (df, (name, v)) =>
        graft.ops.Ranking.rankByGroup(df.withColumn("__v", v), "__all", "__v")
          .withColumnRenamed("__rk", name).drop("__v", "__n")
      }
      ranked.select(col("doc_id"), col("r_len"), col("r_div"), col("r_punct"),
          expr("1000000 div (60 + r_len) + 1000000 div (60 + r_div)" +
            " + 1000000 div (60 + r_punct)").as("rrf_micros"))
        .orderBy(col("rrf_micros").desc, col("doc_id")).limit(20)
    },
    Some("""
      WITH m AS (
        SELECT doc_id, n_chars,
               len(list_distinct(list_filter(string_split_regex(lower(text),'\s+'),
                   w -> len(w)>0))) AS n_distinct,
               len(regexp_extract_all(text, '[.,!?;:''"()-]')) AS n_punct
        FROM documents),
      r AS (
        SELECT doc_id,
               rank() OVER (ORDER BY -n_chars) AS r_len,
               rank() OVER (ORDER BY -n_distinct) AS r_div,
               rank() OVER (ORDER BY n_punct) AS r_punct
        FROM m)
      SELECT doc_id, r_len, r_div, r_punct,
             1000000 // (60 + r_len) + 1000000 // (60 + r_div)
               + 1000000 // (60 + r_punct) AS rrf_micros
      FROM r ORDER BY rrf_micros DESC, doc_id LIMIT 20"""))

  /** Feature-hashed document vectors — the hashing trick (Weinberger
    * et al., "Feature Hashing for Large Scale Multitask Learning",
    * ICML 2009): each token lands in bucket
    * instr('0123456789abcdef', md5(token)[1]) − 1, the doc becomes its
    * 16-d bucket-count vector. No vocabulary is ever built or
    * shuffled — the whole operator is PURE MAP work (the bucket array
    * binds once per doc as a lambda variable; counts come from 16
    * in-row filters), so it scales embarrassingly and the output
    * vectors feed the modality-agnostic embedding operators
    * (embeddingPairs near-dup, k-means cells) without a training pass.
    * md5 is the cross-engine hash (the q_fingerprint precedent), so
    * the vectors are bit-identical in the oracle.
    */
  val qFeatureHashing = Q(
    "q_feature_hashing",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        tokens(lower(col("text"))).as("__t"))
      .select(col("doc_id"),
        expr("""element_at(transform(array(
                  transform(__t, w -> instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1)),
                bs -> transform(sequence(0, 15),
                  b -> CAST(size(filter(bs, x -> x = b)) AS BIGINT))), 1)""")
          .as("__fvec"))
      // fvec serialized to a space-joined string: the driver's pandas
      // comparator cannot sort/hash raw ARRAY columns (the
      // q_array_funcs house convention).
      .select(col("doc_id"),
        expr("array_join(transform(__fvec, x -> CAST(x AS STRING)), ' ')").as("fvec"),
        expr("aggregate(__fvec, CAST(0 AS BIGINT), (a, x) -> a + x)").as("n_hashed"))
      .orderBy(col("doc_id")),
    Some("""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text),'\s+'), w -> len(w)>0) AS t
        FROM documents),
      b AS (
        SELECT doc_id,
               list_transform(t, w -> strpos('0123456789abcdef', substring(md5(w), 1, 1)) - 1) AS bs
        FROM t)
      SELECT doc_id,
             array_to_string([CAST(len(list_filter(bs, x -> x = bb)) AS VARCHAR)
                              FOR bb IN range(0, 16)], ' ') AS fvec,
             CAST(len(bs) AS BIGINT) AS n_hashed
      FROM b ORDER BY doc_id"""))

  /** Simpson lexical-diversity index per document: 1 − Σ(cᵢ/n)² over
    * the doc's token counts — the repetition/diversity signal that,
    * unlike Shannon entropy, is a RATIONAL (no ln()), so it computes
    * as exact integer micros: (n² − Σc²)·1e6 div n². Entirely in-row
    * (counts via filter over the bound token array — O(tokens ·
    * distinct) per doc on ~30-token docs), zero shuffle at any corpus
    * size; the corpus-level q_gini_gain applies the same rational
    * trick across groups.
    */
  val qSimpsonDiversity = Q(
    "q_simpson_diversity",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), tokens(lower(col("text"))).as("__t"))
      .filter(size(col("__t")) >= 1)
      .select(col("doc_id"),
        expr("""element_at(transform(array(
                  transform(array_distinct(__t),
                            w -> CAST(size(filter(__t, x -> x = w)) AS BIGINT))),
                cs -> struct(
                  aggregate(cs, CAST(0 AS BIGINT), (a, x) -> a + x) AS n,
                  aggregate(cs, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS ssq)), 1)""")
          .as("z"))
      .select(col("doc_id"), col("z.n").as("n_tokens"),
        expr("(z.n * z.n - z.ssq) * 1000000 div (z.n * z.n)").as("simpson_micros"))
      .orderBy(col("doc_id")),
    Some("""
      WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text),'\s+'), w -> len(w)>0) AS t
        FROM documents),
      c AS (
        SELECT doc_id,
               list_transform(list_distinct(t),
                              w -> CAST(len(list_filter(t, x -> x = w)) AS BIGINT)) AS cs
        FROM t WHERE len(t) >= 1),
      z AS (
        SELECT doc_id,
               CAST(list_sum(cs) AS BIGINT) AS n,
               CAST(list_sum(list_transform(cs, x -> x * x)) AS BIGINT) AS ssq
        FROM c)
      SELECT doc_id, n AS n_tokens,
             (n * n - ssq) * 1000000 // (n * n) AS simpson_micros
      FROM z ORDER BY doc_id"""))

  /** Triangle count + global clustering coefficient of the word
    * co-occurrence graph (bigram pairs with support ≥ 5, canonical
    * w1<w2 edges) — the graph-density diagnostic distinguishing
    * template-heavy corpora (dense cliques) from diverse prose.
    *
    * Spark runs the DEGREE-ORIENTED node-iterator (the MapReduce
    * triangle-counting standard): each edge points from its
    * lower-(degree, name) endpoint, wedges form only at the LOW-degree
    * center, so per-node wedge work is min-degree-bounded and a
    * hub of degree d generates d wedges, not d² — the skew weapon
    * that makes the count feasible on power-law graphs. The oracle
    * counts the same triangles with the naive 3-way self-join, so the
    * hash-match doubles as an algorithm-equivalence proof. The
    * coefficient 3·T/wedges is div-rounded integer per-mille.
    */
  val qTriangles = Q(
    "q_triangles",
    (s, d) => {
      val edges = graft.ops.Caching.cachedOnce(Tables.documents(s, d)
        .select(tokens(lower(col("text"))).as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(least(element_at(t, i), element_at(t, i + 1)) AS u, " +
            "greatest(element_at(t, i), element_at(t, i + 1)) AS v))")).as("b"))
        .filter(col("b.u") =!= col("b.v"))
        .groupBy(col("b.u").as("u"), col("b.v").as("v"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= 5)
        .select(col("u"), col("v")))
      val deg = edges.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      // orient: x = endpoint with the smaller (deg, name)
      val oriented = edges
        .join(broadcast(deg).withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
        .join(broadcast(deg).withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
        .select(
          when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("x"), col("v").as("y")))
            .otherwise(struct(col("v").as("x"), col("u").as("y"))).as("e"))
        .select(col("e.x").as("x"), col("e.y").as("y"))
      val wedgesAtCenter = oriented.as("e1")
        .join(oriented.as("e2"), col("e1.x") === col("e2.x") && col("e1.y") < col("e2.y"))
        .select(
          least(col("e1.y"), col("e2.y")).as("u"),
          greatest(col("e1.y"), col("e2.y")).as("v"))
      val triangles = wedgesAtCenter.join(edges, Seq("u", "v"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      val stats = edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
          sum(expr("deg * (deg - 1) div 2")).as("n_wedges")))
      stats.crossJoin(broadcast(triangles))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          expr("CAST(IF(n_wedges = 0, 0, (3 * n_triangles * 1000) div n_wedges) AS BIGINT)")
            .as("closed_permille"))
    },
    Some("""
      WITH toks AS (
        SELECT list_filter(string_split_regex(lower(text),'\s+'), w -> len(w)>0) AS t
        FROM documents),
      bi AS (
        SELECT least(t[CAST(i AS INTEGER)], t[CAST(i + 1 AS INTEGER)]) AS u,
               greatest(t[CAST(i AS INTEGER)], t[CAST(i + 1 AS INTEGER)]) AS v
        FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
      e AS (SELECT u, v FROM bi WHERE u <> v GROUP BY u, v HAVING count(*) >= 5),
      nodes AS (SELECT n, count(*) AS deg FROM
                  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
      tri AS (
        SELECT count(*) AS n_triangles
        FROM e ab JOIN e bc ON ab.v = bc.u JOIN e ac ON ac.u = ab.u AND ac.v = bc.v)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
             (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) FROM nodes) AS n_wedges,
             CAST(n_triangles AS BIGINT) AS n_triangles,
             CAST(CASE WHEN (SELECT sum(deg * (deg - 1) // 2) FROM nodes) = 0 THEN 0
                  ELSE (3 * n_triangles * 1000)
                       // (SELECT sum(deg * (deg - 1) // 2) FROM nodes) END AS BIGINT)
               AS closed_permille
      FROM tri"""))

  /** Shingle document-frequency histogram (df 1..10, 11+ capped) — the
    * corpus-redundancy fingerprint behind every df-capped operator in
    * the repo: a healthy crawl is dominated by df-1 shingles; mass in
    * the high-df buckets is boilerplate and predicts both near-dup
    * yield and how much the ClusterMaxDf cap will drop. One distinct
    * (doc, gram) explode, one gram-keyed count, one 11-bucket reduce.
    */
  val qShingleDfHistogram = Q(
    "q_shingle_df_histogram",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text"), 3))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .groupBy(least(col("df"), lit(11L)).as("df_bucket"))
      .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("n_postings"))
      .orderBy(col("df_bucket")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text),'\s+'), w -> len(w)>0) AS t
        FROM documents),
      ex AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                 ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)] END) AS g
        FROM toks),
      dfr AS (SELECT g, count(*) AS df FROM ex GROUP BY g)
      SELECT least(df, 11) AS df_bucket,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(df) AS BIGINT) AS n_postings
      FROM dfr GROUP BY 1 ORDER BY df_bucket"""))

  /** Phrase-vocabulary coverage curve — the vocab-sizing question
    * ("how much of the corpus does a top-N vocabulary cover?") as
    * exact order statistics, NOT a global window: coverage(N) = sum of
    * the N largest phrase frequencies, computed from the N-th-largest
    * frequency via [[graft.ops.Selection.kthSmallest]] histogram
    * narrowing (bounded driver state) plus one threshold aggregate —
    * ties contribute `(N − |{n > t}|)·t`, which is rank-choice-
    * independent because tied phrases have equal frequency. The
    * frequency relation is built once and cached; every subsequent
    * pass is over the vocabulary-sized relation, never the corpus.
    */
  val qVocabCoverage = Q(
    "q_vocab_coverage",
    (s, d) => {
      import graft.ops.Selection
      val tf = graft.ops.Caching.cachedOnce(
        Tables.documents(s, d)
          .select(explode(shingles(col("text"), 3)).as("g"))
          .groupBy(col("g")).agg(count(lit(1)).as("n")))
      val head = tf.agg(count(lit(1)).as("v"),
        coalesce(sum(col("n")), lit(0L)).as("t")).head()
      val vocab = head.getLong(0)
      val total = head.getLong(1)
      val rows = Seq(100L, 1000L, 10000L).filter(_ <= vocab).map { nTop =>
        val t = Selection.kthSmallest(tf, col("n"), vocab - nTop + 1)
        val h = tf.filter(col("n") > t)
          .agg(coalesce(sum(col("n")), lit(0L)).as("sg"),
            count(lit(1)).as("cg")).head()
        val covered = h.getLong(0) + (nTop - h.getLong(1)) * t.toLong
        (nTop, vocab, total, covered)
      }
      import s.implicits._
      rows.toDF("top_n", "vocab", "total", "covered")
        .withColumn("coverage",
          graft.functions.DetMath.ratio6(col("covered"), col("total")))
        .orderBy(col("top_n"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text),'\\s+'), w -> len(w)>0) AS t
        FROM documents),
      ex AS (
        SELECT unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
          ELSE [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)] END) AS g
        FROM toks),
      tf AS (SELECT g, count(*) AS n FROM ex GROUP BY g),
      r AS (SELECT n, row_number() OVER (ORDER BY n DESC) AS rk FROM tf),
      tot AS (SELECT count(*) AS vocab, CAST(sum(n) AS BIGINT) AS total FROM tf),
      grid AS (SELECT CAST(unnest([100, 1000, 10000]) AS BIGINT) AS top_n)
      SELECT top_n, vocab, total,
             (SELECT CAST(sum(n) AS BIGINT) FROM r WHERE rk <= top_n) AS covered,
             ${graft.functions.DetMath.ratio6Sql(
               "(SELECT sum(n) FROM r WHERE rk <= top_n)", "total")} AS coverage
      FROM grid CROSS JOIN tot
      WHERE top_n <= vocab
      ORDER BY top_n"""))

  val all: Seq[Q] = Seq(qTextStats, qLangId, qQualityScore, qFingerprint,
    qInvertedIndex, qCompressionRatio, qParetoFront,
    qTokenFreq, qBpePairs, qHeavyHitters, qCmsFreq, qCorpusCurate, qTopGrams,
    qPiiScrub, qTfidfTerms, qPackEstimate, qChunkDocs, qTokenRarity, qBigramLm,
    qOovRate, qQualityPctRank, qCrosstab, qLangConfusion, qCorpusCard,
    qHeavyHittersBySource, qWeightedSample, qLmDocScore, qBpeLearn, qBpeEncode,
    qGopherRules, qNbClassifier, qBm25Rank, qPmiCollocations, qRrfFusion,
    qFeatureHashing, qSimpsonDiversity, qTriangles, qShingleDfHistogram,
    qVocabCoverage)
}
