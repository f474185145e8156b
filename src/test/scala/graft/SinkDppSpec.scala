package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** DYNAMIC (runtime) partition pruning on sink catalog tables —
  * `PartitionedSinkScan` as a `SupportsRuntimeV2Filtering` scan.
  *
  * The 100 TB shape this exists for: a fact table partitioned on a
  * key, joined to a dimension whose FILTER (not the fact's) decides
  * which partitions matter. Static pushdown can't see through the
  * join; DPP runs the dim side first (reusing its broadcast) and
  * delivers the surviving keys to the scan as an IN predicate, which
  * drops whole partitions before a single fact byte is read.
  *
  * Pins: the subquery is actually planned (optimized plan carries
  * dynamicpruning), the scan observably skips files (custom driver
  * metric `filesSkippedRuntime`), results are identical with DPP
  * disabled, all-pruned joins return empty without error, the
  * key-grouped (storage-partitioned) aggregation path survives
  * dropped keys, and LIMIT-trimmed scans opt out of runtime
  * filtering entirely (trimming is row-count-based — a post-trim drop
  * could undershoot the limit).
  */
class SinkDppSpec extends SparkSpec {

  private def freshCatalog(name: String): String = {
    val root = tmpDir(s"dpp_$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    root
  }

  // plan.collect treats AdaptiveSparkPlanExec/QueryStageExec as
  // leaves; expand so post-AQE exec nodes are visible
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      allNodes(q.plan)
    case other => other.children.flatMap(allNodes)
  })

  private def sinkScans(df: DataFrame): Seq[BatchScanExec] =
    allNodes(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec
        if b.scan.getClass.getName.contains("PartitionedSinkScan") => b
    }

  /** 5 priorities × 2 files each (create + append), 20 rows per
    * partition per file.
    */
  private def seedFact(t: String): Unit = {
    import spark.implicits._
    def batch(off: Int) = (0 until 100).map { i =>
      (i.toLong + off, (i * 7 % 50).toDouble, s"p${i % 5}")
    }.toDF("k", "v", "prio")
    batch(0).repartition(1).writeTo(t).partitionedBy(col("prio")).create()
    batch(1000).repartition(1).writeTo(t).append()
  }

  /** Parquet-backed dim (a LocalRelation's filter would constant-fold
    * away and DPP requires a visible selective predicate on the
    * filtering side).
    */
  private def dim(keep: String*): DataFrame = {
    import spark.implicits._
    val dir = tmpDir("dpp_dim")
    (0 until 5).map(i => (s"p$i", if (keep.contains(s"p$i")) "keep" else "drop"))
      .toDF("prio", "tag").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).filter(col("tag") === "keep")
  }

  test("a filtered dim broadcast prunes fact partitions at runtime") {
    freshCatalog("dpp1")
    seedFact("dpp1.fact")
    val q = spark.table("dpp1.fact")
      .join(dim("p1", "p3"), "prio")
      .groupBy(col("prio")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .orderBy(col("prio"))
    assert(q.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("dynamicpruning"),
      s"no DPP subquery planned:\n${q.queryExecution.optimizedPlan}")
    val rows = q.collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("p1", "p3"))
    assert(rows.forall(_.getLong(1) === 40L), "20 rows × 2 files per partition")
    val scan = sinkScans(q).head
    assert(scan.metrics("filesSkippedRuntime").value === 6L,
      "three of five partitions (2 files each) must be runtime-skipped")
    assert(scan.metrics("filesScanned").value === 4L)
  }

  test("results identical with DPP disabled") {
    freshCatalog("dpp2")
    seedFact("dpp2.fact")
    def q = spark.table("dpp2.fact").join(dim("p0", "p4"), "prio")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    val on = q.collect()(0)
    val prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    try {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      val off = q.collect()(0)
      assert(on === off)
    } finally spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled", prev)
  }

  test("a dim filter matching nothing prunes every partition, cleanly") {
    freshCatalog("dpp3")
    seedFact("dpp3.fact")
    val q = spark.table("dpp3.fact").join(dim(/* keep none */), "prio")
    assert(q.count() === 0L)
    // AQE's empty-relation propagation usually eliminates the fact
    // scan before DPP even fires (the broadcast side is observed
    // empty) — either way, NO fact file may have been read
    sinkScans(q).foreach { scan =>
      assert(scan.metrics("filesScanned").value === 0L,
        "an empty dim must not cost a single fact file read")
    }
  }

  test("key-grouped aggregation over the pruned scan stays correct") {
    // GROUP BY the partition column over a broadcast join: the scan's
    // KeyGroupedPartitioning satisfies the aggregation's clustering,
    // and runtime pruning drops whole keys — Spark backfills empty
    // groups for the dropped keys; results must not change
    freshCatalog("dpp4")
    seedFact("dpp4.fact")
    val q = spark.table("dpp4.fact")
      .join(broadcast(dim("p2")), "prio")
      .groupBy(col("prio")).agg(sum(col("k")).as("sk"))
    val rows = q.collect()
    assert(rows.length === 1 && rows(0).getString(0) === "p2")
    val expected = spark.table("dpp4.fact")
      .filter(col("prio") === "p2").agg(sum(col("k"))).collect()(0).getLong(0)
    assert(rows(0).getLong(1) === expected)
  }

  test("a join keyed on a DATA column runtime-skips files via min/max stats") {
    // three appends with DISJOINT k ranges (the layout clustering
    // produces); a dim filtered to a handful of keys in the first
    // range must drop the other two files at runtime — file-grain
    // pruning where partition-grain DPP can't see anything
    freshCatalog("dpp7")
    import spark.implicits._
    def band(lo: Int) = (lo until lo + 100)
      .map(k => (k.toLong, s"p${k % 2}")).toDF("k", "prio").coalesce(1)
    band(0).writeTo("dpp7.fact").partitionedBy(col("prio")).create()
    band(100).writeTo("dpp7.fact").append()
    band(200).writeTo("dpp7.fact").append()
    val dimDir = tmpDir("dpp7_dim")
    (0 until 300).map(k => (k.toLong, if (k < 40 && k % 10 == 3) "keep" else "drop"))
      .toDF("dk", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === "keep")
    val q = spark.table("dpp7.fact")
      .join(dim, col("k") === col("dk"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"))
    val row = q.collect()(0)
    assert(row.getLong(0) === 4L) // k = 3, 13, 23, 33
    assert(row.getLong(1) === 72L)
    val scan = sinkScans(q).head
    // bands 100-199 and 200-299 provably exclude every key — each
    // band is one file per partition value (2 values × 2 bands)
    assert(scan.metrics("filesSkippedRuntime").value === 4L,
      "both non-matching k bands must be runtime-skipped")
  }

  test("oversized runtime IN-sets skip nothing, results stay exact") {
    freshCatalog("dpp8")
    import spark.implicits._
    (0 until 100).map(k => (k.toLong, "A")).toDF("k", "prio").coalesce(1)
      .writeTo("dpp8.fact").partitionedBy(col("prio")).create()
    val dimDir = tmpDir("dpp8_dim")
    // 1500 distinct keys > MaxSkipValues — the probe is declined
    (0 until 1500).map(k => (k.toLong, "keep")).toDF("dk", "tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === "keep")
    val q = spark.table("dpp8.fact").join(dim, col("k") === col("dk"))
      .agg(count(lit(1)).as("n"))
    assert(q.collect()(0).getLong(0) === 100L)
    sinkScans(q).foreach { scan =>
      assert(scan.metrics("filesSkippedRuntime").value === 0L)
    }
  }

  test("filter attributes follow column pruning — MERGE's matching-files subquery stays plannable") {
    // Spark's PartitionPruning rule resolves declared filter
    // attributes against the scan's PRUNED output and throws on a
    // miss; a MERGE plans a matching-files subquery projecting just
    // (join key, _file) — regression pin: with the partition column
    // projected away the scan declares nothing, and the MERGE works
    freshCatalog("dpp6")
    import spark.implicits._
    Seq((1L, 10.0, "p1"), (2L, 20.0, "p2")).toDF("k", "v", "prio")
      .writeTo("dpp6.t").partitionedBy(col("prio")).create()
    Seq((2L, 99.0, "p2"), (3L, 30.0, "p1")).toDF("k", "v", "prio")
      .createOrReplaceTempView("dpp6_src")
    spark.sql("""MERGE INTO dpp6.t t USING dpp6_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET t.v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.table("dpp6.t").orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    val pruned = spark.table("dpp6.t").select(col("k"))
    assert(sinkScans(pruned).head.scan
      .asInstanceOf[SupportsRuntimeV2Filtering]
      .filterAttributes().map(_.fieldNames()(0)).toSeq === Seq("k"),
      "a projection without the partition column declares only the " +
        "surviving data column, never the projected-away partition column")
  }

  test("LIMIT-trimmed scans opt out of runtime filtering") {
    freshCatalog("dpp5")
    seedFact("dpp5.fact")
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    def scanOf(df: DataFrame) = sinkScans(df).head.scan
      .asInstanceOf[SupportsRuntimeV2Filtering]
    // plain scan: partition AND stats-eligible data columns are
    // runtime-filterable
    assert(scanOf(spark.table("dpp5.fact"))
      .filterAttributes().map(_.fieldNames()(0)).toSet ===
      Set("k", "v", "prio"))
    // pushed LIMIT: no filter attributes — DPP never planned on it
    val limited = spark.table("dpp5.fact").limit(3)
    assert(limited.queryExecution.optimizedPlan.toString
      .contains("PushedLimit") ||
      scanOf(limited).filterAttributes().isEmpty)
    assert(scanOf(limited).filterAttributes().isEmpty)
    assert(limited.collect().length === 3)
  }

  test("an IVF-layout ANN probe scans only its nProbe cells' partitions") {
    import spark.implicits._
    import graft.similarity.Similarity
    freshCatalog("dppann")
    // 4 well-separated clusters (one-hot axes + per-member jitter);
    // vec_id = j*4 + c so the k lowest ids seed one vector per cluster
    def v(c: Int, j: Int): Array[Float] = {
      val a = new Array[Float](8)
      a(c) = 1f
      a(c + 4) = 0.05f * (j + 1)
      a
    }
    // parquet-backed corpus (a LocalRelation probe side would
    // constant-fold its filter away before the DPP rule looks for it)
    val embDir = tmpDir("dppann_emb")
    (for (j <- 0 until 3; c <- 0 until 4)
      yield (j * 4 + c, v(c, j))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(embDir)
    val emb = spark.read.parquet(embDir)
    val cents = Similarity.kmeansFit(emb, "vec_id", "embedding", 4, 3)
    emb.withColumn("cell",
        Similarity.nearestCentroid(col("embedding"), cents))
      .coalesce(1) // one file per cell partition — exact skip counts
      .writeTo("dppann.c").partitionedBy(col("cell")).create()
    // one probe (vec 0), nProbe=1: only its own cell's file may scan
    val p = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val ann = Similarity.ivfLayoutTopK(spark.table("dppann.c"),
      "vec_id", "embedding", "cell", p, cents, 2, nProbe = 1)
    val out = ann.collect()
    val scan = sinkScans(ann).head
    assert(scan.metrics("filesSkippedRuntime").value === 3L,
      "the 3 un-probed cells must be dropped at runtime")
    assert(scan.metrics("filesScanned").value === 1L)
    // and the neighbors really are the probe's own cluster-mates
    assert(out.map(_.getAs[Long]("neighbor_id")).toSet === Set(4L, 8L))
    spark.sql("DROP TABLE dppann.c")
  }

  /** A typed V2 literal, as Spark's runtime filters carry them (its
    * `LiteralValue` is private to Spark, so built reflectively here —
    * the only way a NULL member keeps its column's type).
    */
  private def v2Lit(v: Any, dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.expressions.Expression =
    Class.forName("org.apache.spark.sql.connector.expressions.LiteralValue")
      .getConstructor(classOf[Object], classOf[org.apache.spark.sql.types.DataType])
      .newInstance(v.asInstanceOf[AnyRef], dt)
      .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]

  test("runtime IN / = predicates plan exactly the files that may match, on the batch and the COW scan") {
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsRowLevelOperations}
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.{ScanBuilder, SupportsPushDownRequiredColumns, SupportsRuntimeV2Filtering}
    import org.apache.spark.sql.connector.write.{RowLevelOperation, RowLevelOperationInfo}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    val root = freshCatalog("dpprt")
    // one file per (p, n) tuple: k bands 0-9, 10-19, 20-29, 30-39
    (0 until 40).map(k => (k.toLong, if (k < 20) "A" else "B", k / 10 % 2 + 1))
      .toDF("k", "p", "n").coalesce(1)
      .writeTo("dpprt.t").partitionedBy(col("p"), col("n")).create()
    val t = spark.table("dpprt.t")
    def filesOf(rows: DataFrame): Set[String] =
      rows.select(col("_file")).distinct().collect().map(_.getString(0)).toSet
    val all = filesOf(t).toSeq.sorted
    assert(all.size === 4)

    val cat = new graft.sources.PartitionedSinkCatalog
    cat.initialize("dpprt", new CaseInsensitiveStringMap(
      java.util.Map.of("root", root)))
    val table = cat.loadTable(Identifier.of(Array.empty[String], "t"))
    val opts = CaseInsensitiveStringMap.empty()
    def batchScan: ScanBuilder =
      table.asInstanceOf[SupportsRead].newScanBuilder(opts)
    def cowScan: ScanBuilder = table.asInstanceOf[SupportsRowLevelOperations]
      .newRowLevelOperationBuilder(new RowLevelOperationInfo {
        override def options(): CaseInsensitiveStringMap = opts
        override def command(): RowLevelOperation.Command =
          RowLevelOperation.Command.DELETE
      }).build().newScanBuilder(opts)
    // the files a built scan plans once `p` arrives as its runtime
    // filter, read back through the scan's own splits
    val schema = table.columns().map(c => (c.name(), c.dataType()))
    def planned(builder: ScanBuilder, p: Predicate): Set[String] = {
      builder.asInstanceOf[SupportsPushDownRequiredColumns].pruneColumns(
        org.apache.spark.sql.types.StructType(
          schema.map { case (n, dt) =>
            org.apache.spark.sql.types.StructField(n, dt) }.toSeq :+
            org.apache.spark.sql.types.StructField("_file", StringType)))
      val scan = builder.build()
      scan.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(p))
      val batch = scan.toBatch
      val factory = batch.createReaderFactory()
      batch.planInputPartitions().flatMap { split =>
        val r = factory.createReader(split)
        try Iterator.continually(r.next()).takeWhile(identity)
          .map(_ => r.get().getUTF8String(schema.length).toString).toVector
        finally r.close()
      }.toSet
    }
    def pred(name: String, c: String,
             vs: org.apache.spark.sql.connector.expressions.Expression*) =
      new Predicate(name, (Expressions.column(c) +: vs).toArray)
    def str(s: String) = v2Lit(UTF8String.fromString(s), StringType)
    val cases = Seq(
      "string partition IN with a NULL member" ->
        (pred("IN", "p", str("A"), v2Lit(null, StringType)),
          filesOf(t.filter(col("p") === "A"))),
      "INT partition IN" ->
        (pred("IN", "n", v2Lit(2, IntegerType)),
          filesOf(t.filter(col("n") === 2))),
      "data-column IN with a NULL member" ->
        (pred("IN", "k", v2Lit(15L, LongType), v2Lit(null, LongType)),
          filesOf(t.filter(col("k") === 15L))),
      "_file IN over 2 of 4 files" ->
        (pred("IN", "_file", str(all(0)), str(all(2))), Set(all(0), all(2))),
      "= with a NULL literal" ->
        (pred("=", "p", v2Lit(null, StringType)), Set.empty[String]))
    for ((what, (p, expected)) <- cases; (kind, builder) <-
           Seq("batch" -> (() => batchScan), "cow" -> (() => cowScan))) {
      assert(planned(builder(), p) === expected, s"$kind scan, $what")
    }
    assert(cases.map(_._2._2.size) === Seq(2, 2, 1, 2, 0))
  }
}
