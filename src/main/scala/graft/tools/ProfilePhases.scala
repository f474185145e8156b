package graft.tools

import graft.{GraftSession, Tables}
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

/** Scratch phase profiler for the end-to-end DSv2 headliners (not part
  * of the library API): times each phase of q_dsv2_ann / q_dsv2_delete
  * separately so optimization effort lands where the seconds are.
  * Usage: sbt "runMain graft.tools.ProfilePhases [sfDir]"
  */
object ProfilePhases {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = GraftSession.localForData(d)
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    val stageCount = new java.util.concurrent.atomic.AtomicInteger
    val taskCount = new java.util.concurrent.atomic.AtomicInteger
    // per-job detail (start nanos, #tasks, callsite) so a multi-job
    // phase can be attributed job by job
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String)]()
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet()
        stageCount.addAndGet(e.stageInfos.size)
        taskCount.addAndGet(e.stageInfos.map(_.numTasks).sum)
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobStart.put(e.jobId,
          (System.nanoTime(), e.stageInfos.map(_.numTasks).sum, site))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobStart.remove(e.jobId)).foreach { case (t0, nt, site) =>
          jobLines.add(f"    [job ${e.jobId}%3d] ${(System.nanoTime() - t0) / 1e9}%6.3f s tasks=$nt%3d  $site")
        }
      }
    })
    def time[T](name: String)(f: => T): T = {
      s.sparkContext.setJobDescription(name)
      val j0 = jobCount.get; val st0 = stageCount.get; val tk0 = taskCount.get
      val t0 = System.nanoTime(); val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(50) // let listener drain
      println(f"[phase] $name%-32s $dt%6.2f s  jobs=${jobCount.get - j0}%2d stages=${stageCount.get - st0}%2d tasks=${taskCount.get - tk0}%3d")
      while (!jobLines.isEmpty) println(jobLines.poll())
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val simRoot = graft.ops.Fs.scratchDir("graft_prof_simcat")
    s.conf.set("spark.sql.catalog.graft_sim",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_sim.root", simRoot)

    (1 to 2).foreach { rep =>
      println(s"=== q_dsv2_ann rep $rep")
      val emb = Tables.embeddings(s, d)
      time("ann: drop table")(s.sql("DROP TABLE IF EXISTS graft_sim.ivf_corpus"))
      val centsDist = time("ann: kmeansFit distributed")(
        Similarity.kmeansFit(
          emb.orderBy(col("vec_id")).limit(2048), "vec_id", "embedding",
          k = 16, iters = 3))
      val cents = time("ann: kmeansFitLocal")(
        Similarity.kmeansFitLocal(
          emb.orderBy(col("vec_id")).limit(2048), "vec_id", "embedding",
          k = 16, iters = 3))
      val maxDelta = centsDist.zip(cents).map { case (a, b) =>
        a.zip(b).map { case (x, y) => math.abs(x - y) }.max }.max
      println(f"[phase] centroid max |delta| dist vs local: $maxDelta%.3e")
      time("ann: write corpus (create)") {
        emb.withColumn("cell", Similarity.nearestCentroid(col("embedding"), cents))
          .writeTo("graft_sim.ivf_corpus")
          .partitionedBy(col("cell")).create()
      }
      val p = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val ann = time("ann: ivfLayoutTopK (noop)") {
        val r = Similarity.ivfLayoutTopK(s.table("graft_sim.ivf_corpus"),
          "vec_id", "embedding", "cell", p, cents, 10, nProbe = 4)
        noop(r); r
      }
      val exact = time("ann: bruteForceTopK (noop)") {
        val r = Similarity.bruteForceTopK(emb, "vec_id", "embedding", p, 10)
        noop(r); r
      }
      time("ann: recallAtK (noop)")(
        noop(Similarity.recallAtK(ann, exact, 10, minMeanRecall = 0.40)))
      // actual mean recall, to confirm the 0.40 bound's margin
      val annP = ann.select(col("probe_id"), col("neighbor_id")).distinct()
      val hit = exact.select(col("probe_id"), col("neighbor_id"))
        .join(annP, Seq("probe_id", "neighbor_id"), "left_semi").count()
      val nP = exact.select(col("probe_id")).distinct().count()
      println(f"[phase] mean recall@10 = ${hit.toDouble / (nP * 10)}%.4f over $nP probes")
    }

    // pure encode cost: write orders-shaped rows through the sink's
    // parquet writer driver-side, no Spark job — isolates per-row
    // encode CPU from scan/commit/job overhead
    {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.unsafe.types.UTF8String
      val fields = Seq(
        StructField("o_orderkey", LongType) -> 0,
        StructField("o_totalprice", DoubleType) -> 1,
        StructField("o_orderstatus", StringType) -> 2)
      val ids = Map("o_orderkey" -> 1, "o_totalprice" -> 2, "o_orderstatus" -> 3)
      val n = 150000
      val rows = (0 until n).map { i =>
        InternalRow(i.toLong, i * 1.5,
          UTF8String.fromString(if (i % 2 == 0) "F" else "O"))
      }.toArray
      val conf = new org.apache.hadoop.conf.Configuration()
      (1 to 3).foreach { it =>
        val p = new org.apache.hadoop.fs.Path(
          s"/tmp/graft_prof_encode_$it.parquet")
        new java.io.File(p.toString).delete()
        val t0 = System.nanoTime()
        val w = graft.sources.SinkParquetWrite.open(conf, p, fields, ids)
        var i = 0
        while (i < n) { w.write(rows(i)); i += 1 }
        w.close()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[phase] pure encode ${n} rows x3col     $dt%6.3f s (${n / dt / 1e6}%.2f M rows/s)")
      }
    }

    val dynRoot = graft.ops.Fs.scratchDir("graft_prof_dyncat")
    s.conf.set("spark.sql.catalog.graft_dyn",
      classOf[graft.sources.PartitionedSinkCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_dyn.root", dynRoot)
    (1 to 2).foreach { rep =>
      println(s"=== q_dsv2_delete rep $rep")
      val ord = Tables.orders(s, d)
      time("del: drop table")(s.sql("DROP TABLE IF EXISTS graft_dyn.del_orders"))
      def band(lo: Double, hi: Double) = ord
        .filter(col("o_totalprice") >= lo && col("o_totalprice") < hi)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
      time("del: create (band 1)")(
        band(0, 100000).writeTo("graft_dyn.del_orders")
          .partitionedBy(col("o_orderpriority")).create())
      time("del: append band 2")(
        band(100000, 200000).writeTo("graft_dyn.del_orders").append())
      time("del: append band 3")(
        band(200000, Double.MaxValue).writeTo("graft_dyn.del_orders").append())
      time("del: DELETE (COW rewrite)")(
        s.sql("""DELETE FROM graft_dyn.del_orders
          WHERE o_totalprice >= 150000 AND o_totalprice < 250000
            AND o_orderstatus = 'F'"""))
      time("del: final agg read (noop)")(
        noop(s.table("graft_dyn.del_orders")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))))
    }

    (1 to 2).foreach { rep =>
      println(s"=== q_dsv2_cluster rep $rep")
      val ord = Tables.orders(s, d)
      time("clus: drop")(s.sql("DROP TABLE IF EXISTS graft_dyn.clus_orders"))
      def residue(r: Int) = ord
        .filter(pmod(col("o_orderkey"), lit(3)) === r)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
      time("clus: create r0")(
        residue(0).writeTo("graft_dyn.clus_orders")
          .partitionedBy(col("o_orderpriority")).create())
      time("clus: append r1")(
        residue(1).writeTo("graft_dyn.clus_orders").append())
      time("clus: append r2")(
        residue(2).writeTo("graft_dyn.clus_orders").append())
      time("clus: ALTER sortOrder")(
        s.sql("""ALTER TABLE graft_dyn.clus_orders
          SET TBLPROPERTIES ('graft.sortOrder' = 'o_orderkey')"""))
      time("clus: compact recluster")(
        s.sql("CALL graft_dyn.compact(table => 'clus_orders', recluster => true)"))
      time("clus: final range scan (noop)")(
        noop(s.table("graft_dyn.clus_orders")
          .filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 3000)
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))))
    }

    (1 to 2).foreach { rep =>
      println(s"=== q_dsv2_spj rep $rep")
      val ord = Tables.orders(s, d)
      time("spj: drop x2") {
        s.sql("DROP TABLE IF EXISTS graft_dyn.spj_facts")
        s.sql("DROP TABLE IF EXISTS graft_dyn.spj_status")
      }
      time("spj: create facts")(
        ord.select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .writeTo("graft_dyn.spj_facts")
          .partitionedBy(col("o_orderpriority")).create())
      time("spj: create status")(
        ord.select(col("o_orderkey").as("r_orderkey"), col("o_orderstatus"),
            col("o_orderpriority").as("r_prio"))
          .writeTo("graft_dyn.spj_status")
          .partitionedBy(col("r_prio")).create())
      time("spj: zero-shuffle join (noop)") {
        val l = s.table("graft_dyn.spj_facts")
        val r = s.table("graft_dyn.spj_status")
          .filter(col("o_orderstatus") === "F")
        noop(l.join(r.hint("merge"),
            col("o_orderpriority") === col("r_prio") &&
              col("o_orderkey") === col("r_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n")))
      }
    }

    (1 to 2).foreach { rep =>
      println(s"=== q_dsv2_embed rep $rep")
      val emb = Tables.embeddings(s, d)
      time("embed: drop")(s.sql("DROP TABLE IF EXISTS graft_sim.embed_corpus"))
      time("embed: create corpus")(
        emb.writeTo("graft_sim.embed_corpus")
          .partitionedBy(col("label")).create())
      time("embed: probes+brute (noop)") {
        val corpus = s.table("graft_sim.embed_corpus")
        val probes = corpus.orderBy(col("vec_id")).limit(64)
          .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
        noop(Similarity.bruteForceTopK(corpus, "vec_id", "embedding", probes, 10)
          .orderBy(col("probe_id"), col("rank")))
      }
    }
    s.stop()
  }
}
