package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ops._

class OpsSpec extends SparkSpec {

  test("kthSmallest: exact across narrowing rounds, duplicates, boundary buckets") {
    import spark.implicits._
    // values 1.5, 3.0, ..., 7500.0 shuffled; tiny threshold/buckets
    // force several narrowing rounds
    val xs = scala.util.Random.shuffle((1 to 5000).map(_.toDouble * 1.5).toList).toDF("x")
    for (k <- Seq(1L, 2L, 2500L, 4999L, 5000L))
      assert(Selection.kthSmallest(xs, col("x"), k, buckets = 8, collectThreshold = 16)
        == k * 1.5, s"k=$k")
    // constant column: range collapses, never collected wholesale
    val dup = Seq.fill(1000)(7.0).toDF("x")
    assert(Selection.kthSmallest(dup, col("x"), 500L, buckets = 8, collectThreshold = 16) == 7.0)
    // 999 duplicates + one outlier: both sides of the cliff, and the
    // outlier exercises the clamped last bucket (v == hi)
    val mixed = (Seq.fill(999)(1.0) ++ Seq(2.0)).toDF("x")
    assert(Selection.kthSmallest(mixed, col("x"), 999L, buckets = 8, collectThreshold = 16) == 1.0)
    assert(Selection.kthSmallest(mixed, col("x"), 1000L, buckets = 8, collectThreshold = 16) == 2.0)
  }

  test("Quality.report: one pass, null-pass rule semantics, deterministic order") {
    import spark.implicits._
    val df = Seq[(Option[Long], Option[Double], Option[String])](
      (Some(1L), Some(5.0), Some("A")), (Some(2L), Some(99.0), Some("X")),
      (None, None, None)
    ).toDF("k", "v", "f")
    val rep = Quality.report(df, Seq(
      Quality.notNull("k"),
      Quality.inRange("v", 0, 10),   // null v passes; 99 violates
      Quality.inSet("f", Seq("A", "B"))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rep.toSeq == Seq(
      ("not_null_k", 3L, 1L, false),
      ("range_v", 3L, 1L, false),
      ("set_f", 3L, 1L, false)))
    val clean = Quality.report(df.filter(col("k") === 1), Seq(Quality.notNull("k")))
      .collect()
    assert(clean.head.getBoolean(3), "clean relation passes")
  }

  test("Quality.observed: counters piggyback on the caller's action, rows unchanged") {
    import spark.implicits._
    val df = Seq[(Option[Long], Option[Double])](
      (Some(1L), Some(5.0)), (Some(2L), Some(99.0)), (None, Some(3.0))
    ).toDF("k", "v")
    val (flow, obs) = Quality.observed(df, Seq(
      Quality.notNull("k"), Quality.inRange("v", 0, 10)))
    // the observation rides THIS action — no extra scan anywhere
    val out = flow.collect()
    assert(out.length == 3, "rows must flow through unchanged")
    val m = obs.get
    assert(m("n_rows") == 3L)
    assert(m("violations_not_null_k") == 1L)
    assert(m("violations_range_v") == 1L)
  }

  test("Selection.weightedKth: equals the brute-force cumulative walk, narrowing path included") {
    import spark.implicits._
    val rows = (1 to 500).map(i => (i.toDouble, (i % 7 + 1).toLong)).toDF("v", "w")
    def brute(target: Long): Double = {
      val sorted = (1 to 500).map(i => (i.toDouble, (i % 7 + 1).toLong)).sortBy(_._1)
      var acc = 0L
      sorted.find { case (_, w) => acc += w; acc >= target }.get._1
    }
    val total = (1 to 500).map(i => (i % 7 + 1).toLong).sum
    for (t <- Seq(1L, total / 4, (total + 1) / 2, total)) {
      // collectThreshold 16 forces several narrowing rounds
      val got = Selection.weightedKth(rows, col("v"), col("w"), t,
        buckets = 8, collectThreshold = 16)
      assert(got == brute(t), s"target $t: $got != ${brute(t)}")
    }
    // zero/null weights excluded; ties share the value
    val ties = Seq((5.0, 3L), (5.0, 2L), (7.0, 0L), (9.0, 4L))
      .toDF("v", "w")
    assert(Selection.weightedKth(ties, col("v"), col("w"), 5L) == 5.0)
    assert(Selection.weightedKth(ties, col("v"), col("w"), 6L) == 9.0,
      "zero-weight value must never satisfy the target")
  }

  test("Selection: width-underflow range (adjacent doubles) resolves exactly") {
    import spark.implicits._
    // lo and hi one ulp apart: with non-power-of-two buckets the
    // per-bucket width hi/b − lo/b rounds to 0.0 while lo < hi — the
    // narrowing loop must break to the distinct-value tail instead of
    // spinning (pre-fix: NULL bucket indices → NPE in the count walk)
    val lo = 1.0
    val hi = java.lang.Math.nextUp(1.0)
    val xs = (Seq.fill(30)(lo) ++ Seq.fill(20)(hi)).toDF("x")
    assert(Selection.kthSmallest(xs, col("x"), 30L,
      buckets = 1000, collectThreshold = 4) == lo)
    assert(Selection.kthSmallest(xs, col("x"), 31L,
      buckets = 1000, collectThreshold = 4) == hi)
    val ws = (Seq.fill(30)((lo, 2L)) ++ Seq.fill(20)((hi, 2L))).toDF("v", "w")
    assert(Selection.weightedKth(ws, col("v"), col("w"), 60L,
      buckets = 1000, collectThreshold = 4) == lo)
    assert(Selection.weightedKth(ws, col("v"), col("w"), 61L,
      buckets = 1000, collectThreshold = 4) == hi)
    // grouped path: the underflow state skips narrowing and resolves
    val g = (Seq.fill(30)(("a", lo)) ++ Seq.fill(20)(("a", hi))).toDF("g", "x")
    val got = Selection.kthSmallestByGroup(g, "g", col("x"), n => n - 19,
      buckets = 1000, collectThreshold = 4)
    assert(got("a") == hi)
  }

  test("mergeAggregates over partials equals the from-scratch aggregate") {
    import spark.implicits._
    val rows = (1 to 100).map(i => (i % 3, i.toLong, 1L)).toDF("g", "x", "n")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("g")).agg(sum(col("x")).as("x"), sum(col("n")).as("n"))
    val merged = IncrementalOps.mergeAggregates(
      agg(rows.filter(col("x") <= 60)), agg(rows.filter(col("x") > 60)),
      Seq("g"), Seq("x", "n"))
    val full = agg(rows)
    assert(merged.except(full).isEmpty && full.except(merged).isEmpty)
  }

  test("exportShards: contiguous fixed-size shards, in-order rows, one file per shard") {
    import spark.implicits._
    val df = (1L to 250L).map(p => (p * 10, p)).toDF("payload", "pos")
    val root = tmpDir("shards") + "/t"
    Sharding.exportShards(df, "pos", 64L, root)
    val shardDirs = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.map(_.getName).toSet ==
      Set("shard=0", "shard=1", "shard=2", "shard=3"))
    for (dir <- shardDirs) {
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${dir.getName}: one ordered file, got ${files.length}")
      val shard = dir.getName.stripPrefix("shard=").toLong
      // read the single file directly — in-file row order is the contract
      val rows = spark.read.parquet(files.head.getPath)
        .select("pos").collect().map(_.getLong(0))
      assert(rows.toSeq == rows.sorted.toSeq, s"${dir.getName}: rows out of order")
      val lo = shard * 64 + 1
      val hi = math.min(lo + 63, 250L)
      assert(rows.toSeq == (lo to hi), s"${dir.getName}: range mismatch")
    }
  }

  import spark.implicits._

  test("Fs.exists is scheme-aware: bare path and file: URI agree") {
    val d = tmpDir("fsprobe")
    assert(Fs.exists(d))
    assert(Fs.exists("file://" + d))
    assert(!Fs.exists(d + "/missing"))
    assert(!Fs.exists("file://" + d + "/missing"))
  }

  test("asofJoin: backward match, equal-ts inclusion, no-match NULLs, key isolation") {
    val left = Seq((1L, 100L, 10L), (2L, 100L, 20L), (3L, 100L, 5L), (4L, 200L, 50L))
      .toDF("id", "k", "t")
    val right = Seq((100L, 10L, "a"), (100L, 15L, "b"), (200L, 60L, "z"))
      .toDF("k", "t", "v")
    val got = TemporalOps.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[String]("asof_v")), Option(r.getAs[Any]("asof_ts")))).toMap
    assert(got(1L) == (Some("a"), Some(10L)))  // equal ts matches (>= contract)
    assert(got(2L) == (Some("b"), Some(15L)))  // latest of the two priors
    assert(got(3L) == (None, None))            // nothing at or before t=5
    assert(got(4L) == (None, None))            // other key's rows invisible; t=60 is after
  }

  test("asofJoinForward: next match, equal-ts inclusion, no-match NULLs, key isolation") {
    val left = Seq((1L, 100L, 10L), (2L, 100L, 12L), (3L, 100L, 20L), (4L, 200L, 70L))
      .toDF("id", "k", "t")
    val right = Seq((100L, 10L, "a"), (100L, 15L, "b"), (200L, 60L, "z"))
      .toDF("k", "t", "v")
    val got = TemporalOps.asofJoinForward(left, right, Seq("k"), "t", "t", Seq("v"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[String]("asof_v")), Option(r.getAs[Any]("asof_ts")))).toMap
    assert(got(1L) == (Some("a"), Some(10L)))  // equal ts matches (<= contract)
    assert(got(2L) == (Some("b"), Some(15L)))  // earliest of the later rows
    assert(got(3L) == (None, None))            // nothing at or after t=20
    assert(got(4L) == (None, None))            // other key's rows invisible; t=60 is before
  }

  test("asof joins: same-key same-ts right rows tie-break deterministically to the max payload") {
    // two right rows share (k, t): the carry must pick the struct-wise
    // maximum payload (first payload column decides) in BOTH walk
    // directions — not whichever row the shuffle ordered last
    val left = Seq((1L, 100L, 20L), (2L, 100L, 10L)).toDF("id", "k", "t")
    val right = Seq((100L, 15L, "a"), (100L, 15L, "b"), (100L, 15L, "c"))
      .toDF("k", "t", "v")
    for (_ <- 1 to 3) { // stable across repeated executions
      val back = TemporalOps.asofJoin(left, right, Seq("k"), "t", "t", Seq("v"))
        .collect().map(r => r.getLong(0) -> r.getAs[String]("asof_v")).toMap
      assert(back(1L) == "c")
      val fwd = TemporalOps.asofJoinForward(left, right, Seq("k"), "t", "t", Seq("v"))
        .collect().map(r => r.getLong(0) -> r.getAs[String]("asof_v")).toMap
      assert(fwd(2L) == "c")
    }
  }

  test("asof joins: NULL timestamps match nothing, in both directions and on both sides") {
    import spark.implicits._
    val left = Seq((1L, Some(100L)), (2L, None: Option[Long])).map { case (id, t) =>
      (id, 1L, t) }.toDF("id", "k", "t")
    val right = Seq((1L, Some(100L), "ok"), (2L, None: Option[Long], "leak"))
      .map { case (id, t, v) => (1L, t, v + id) }.toDF("k", "t", "v")
    for ((name, res) <- Seq(
      "backward" -> TemporalOps.asofJoin(left, right, Seq("k"), "t", "t", Seq("v")),
      "forward" -> TemporalOps.asofJoinForward(left, right, Seq("k"), "t", "t", Seq("v")))) {
      val got = res.collect()
        .map(r => r.getLong(0) -> Option(r.getAs[String]("asof_v"))).toMap
      assert(got(1L) == Some("ok1"), s"$name: equal-ts right row matches")
      assert(got(2L).isEmpty, s"$name: NULL-ts left row must match nothing")
      assert(!got.values.flatten.exists(_.startsWith("leak")),
        s"$name: NULL-ts right row must never be carried")
    }
  }

  test("asofJoin: NULL payload field of the latest match stays NULL (no cross-row backfill)") {
    val left = Seq((1L, 100L, 30L)).toDF("id", "k", "t")
    val right = Seq(
      (100L, 10L, Option("old"), Option(5.0)),
      (100L, 20L, None: Option[String], Option(7.0))).toDF("k", "t", "v", "x")
    val got = TemporalOps.asofJoin(left, right, Seq("k"), "t", "t", Seq("v", "x"))
      .collect().head
    // latest match (t=20) has v=NULL: must surface NULL, not t=10's "old"
    assert(Option(got.getAs[String]("asof_v")).isEmpty)
    assert(got.getAs[Double]("asof_x") == 7.0)
    assert(got.getAs[Long]("asof_ts") == 20L)
  }

  test("temporal join plans: no nested-loop join, as-of is one keyed window") {
    val points = (1 to 100).map(i => (i.toLong, i.toLong % 5, i.toLong * 3)).toDF("pid", "k", "t")
    val intervals = (1 to 20).map(i => (i.toLong, i.toLong % 5, i.toLong * 10, i.toLong * 10 + 40))
      .toDF("iid", "k", "lo", "hi")
    val rj = TemporalOps.rangeJoin(points, intervals, Seq("k"), "t", "lo", "hi", 25L)
      .queryExecution.executedPlan.toString
    assert(!rj.contains("BroadcastNestedLoopJoin") && !rj.contains("CartesianProduct"),
      s"range join must be an equi-join:\n$rj")
    val aj = TemporalOps.asofJoin(points, intervals.withColumnRenamed("lo", "rt"),
        Seq("k"), "t", "rt", Seq("iid"))
      .queryExecution.executedPlan.toString
    assert(!aj.contains("Join"), s"as-of must not plan any join operator:\n$aj")
    assert(aj.contains("Window"), "as-of rides one keyed window")
  }

  test("rangeJoin: inclusive bounds, key isolation, multi-bucket intervals join once") {
    val points = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 31L), (4L, "b", 15L))
      .toDF("pid", "k", "t")
    val intervals = Seq((100L, "a", 10L, 30L), (200L, "a", 25L, 99L))
      .toDF("iid", "k", "lo", "hi")
    // bucketWidth 7 << interval length: interval 100 spans buckets 1..4
    val got = TemporalOps.rangeJoin(points, intervals, Seq("k"), "t", "lo", "hi", 7L)
      .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set(
      (1L, 100L), // t=10 == lo (inclusive), and joins exactly once despite 4 buckets
      (2L, 100L),
      (3L, 200L)  // t=31 > hi of 100; in 200's range
    ))            // pid 4: key b has no intervals
  }

  test("nullifyWords maps sentinel words to NULL, keeps the rest, keeps NULL") {
    val df = Seq(Some("-"), Some("n/a"), Some("ok"), None).toDF("c")
      .select(CleanseOps.nullifyWords(col("c"), Seq("-", "n/a")).as("c"))
    assert(df.collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(None, None, Some("ok"), None))
  }

  test("smartDateKey is the y*10000+m*100+d bijection") {
    val df = Seq("2020-02-29", "1999-12-31", "2001-01-01").toDF("s")
      .select(KeyOps.smartDateKey(to_date(col("s"))).as("k"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(20200229, 19991231, 20010101))
  }

  test("exceptNew diffs positionally-normalized and collapses duplicates (EXCEPT DISTINCT)") {
    val batch = Seq((1, "a"), (1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val loaded = Seq(("c", 3)).toDF("v", "id").select(col("id"), col("v")) // same cols, was reordered
    val delta = IncrementalOps.exceptNew(batch, loaded)
    assert(delta.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b")))
    // re-running with everything loaded appends nothing
    assert(IncrementalOps.exceptNew(batch, batch).isEmpty)
  }

  test("upsert: marker (not null-coalesce) decides row fates; duplicate update keys rejected") {
    import graft.ops.IncrementalOps
    val target = Seq((1L, Option("a"), 10.0), (2L, Option("b"), 20.0),
      (3L, Option("c"), 30.0)).toDF("k", "attr", "v")
    val updates = Seq(
      (2L, Option.empty[String], 99.0), // matched update carrying a REAL NULL
      (4L, Option("d"), 40.0)           // new key -> insert
    ).toDF("k", "attr", "v")
    val got = IncrementalOps.upsert(target, updates, Seq("k"))
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, Some("a"), 10.0),
      (2L, None, 99.0),      // NULL attr REPLACED the target value
      (3L, Some("c"), 30.0),
      (4L, Some("d"), 40.0)))
    val dup = Seq((2L, Option("x"), 1.0), (2L, Option("y"), 2.0)).toDF("k", "attr", "v")
    val e = intercept[IllegalArgumentException] {
      IncrementalOps.upsert(target, dup, Seq("k"))
    }
    assert(e.getMessage.contains("not unique"))
  }

  test("upsert: a type drift between target and updates fails fast") {
    val target = Seq((1L, 10.0)).toDF("k", "v")
    val drift = Seq((1L, "10.0")).toDF("k", "v") // same names, v is string
    val e = intercept[IllegalArgumentException] {
      IncrementalOps.upsert(target, drift, Seq("k"))
    }
    assert(e.getMessage.contains("schemas differ"))
  }

  test("snapshotDiff: added/removed/changed/unchanged; NULL attrs diff correctly") {
    import graft.ops.IncrementalOps
    val cur = Seq(
      (1L, Option("a"), Option("x")),  // unchanged
      (2L, Option("b"), Option("y")),  // changed (one attr)
      (3L, Option("c"), Option("z")),  // removed
      (5L, Option.empty[String], Option("q")), // NULL attr, unchanged
      (6L, Option("e"), Option.empty[String])  // NULL -> value = changed
    ).toDF("k", "a1", "a2")
    val snap = Seq(
      (1L, Option("a"), Option("x")),
      (2L, Option("B"), Option("y")),
      (4L, Option("d"), Option("w")),  // added
      (5L, Option.empty[String], Option("q")),
      (6L, Option("e"), Option("now"))
    ).toDF("k", "a1", "a2")
    val got = IncrementalOps.snapshotDiff(cur, snap, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("status")).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged", 6L -> "changed"))
    // the digest must separate ("ab","c") from ("a","bc") and NULL from ""
    val x = Seq((1L, Option("ab"), Option("c")), (2L, Option.empty[String], Option("s")))
      .toDF("k", "a1", "a2")
    val y = Seq((1L, Option("a"), Option("bc")), (2L, Option(""), Option("s")))
      .toDF("k", "a1", "a2")
    val fates = IncrementalOps.snapshotDiff(x, y, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("status")).toMap
    assert(fates == Map(1L -> "changed", 2L -> "changed"))
  }

  test("kthSmallestByGroup matches per-group sorted ranks: duplicates, skewed sizes, infinities") {
    import graft.ops.Selection
    // deterministic pseudo-random values: xxhash-free integer mix, three
    // groups with very different sizes, heavy duplicates in group b
    val rows = (1 to 2000).map { i =>
      val g = if (i % 7 == 0) "a" else if (i % 3 == 0) "b" else "c"
      val v = if (g == "b") (i % 5).toDouble          // huge duplicate mass
        else ((i * 2654435761L) % 10007).toDouble - 5003.0
      (g, v)
    } ++ Seq(("d", 1.0), ("d", Double.PositiveInfinity),
      ("d", Double.NegativeInfinity))
    val df = rows.toDF("g", "v")
    def expected(kOf: Long => Long): Map[String, Double] =
      rows.groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        g -> sorted((kOf(sorted.length.toLong) - 1).toInt)
      }
    for (kOf <- Seq[Long => Long](
      n => (n + 1) / 2,            // median
      n => (99 * n + 99) / 100,    // P99 rank
      _ => 1L,                     // minimum
      n => n)) {                   // maximum
      val got = Selection.kthSmallestByGroup(df, "g", col("v"), kOf,
        buckets = 16, collectThreshold = 8)
      assert(got == expected(kOf), s"mismatch for $kOf")
    }
    // group d: min is -inf, max is +inf via the endpoint counts
    assert(Selection.kthSmallestByGroup(df, "g", col("v"), _ => 1L)("d")
      == Double.NegativeInfinity)
    assert(Selection.kthSmallestByGroup(df, "g", col("v"), n => n)("d")
      == Double.PositiveInfinity)
  }

  test("kthSmallestByGroupMulti: thousands of groups resolve within the driver row budget") {
    import graft.ops.Selection
    // 3000 small groups (straight to the final resolve) plus 3 large
    // ones (exercise cohorted narrowing). A tight driverRowBudget
    // forces multi-cohort passes; the answers must not change and no
    // single collect may exceed the budget.
    val rows = (0 until 3000).flatMap { g =>
      (0 until 10).map(j => (f"g$g%04d", ((g * 31 + j * 2654435761L) % 1001).toDouble))
    } ++ Seq("big0", "big1", "big2").flatMap { g =>
      (0 until 2000).map(j => (g, ((j * 2654435761L) % 10007).toDouble))
    }
    val df = rows.toDF("g", "v")
    val kOfs = Seq[Long => Long](n => (n + 1) / 2, n => n) // median, max
    val budget = 2048L
    val got = Selection.kthSmallestByGroupMulti(df, "g", col("v"), kOfs,
      buckets = 16, collectThreshold = 16, driverRowBudget = budget)
    assert(Selection.lastMaxCollectRows <= budget,
      s"collect of ${Selection.lastMaxCollectRows} rows exceeded the $budget budget")
    val expected = rows.groupBy(_._1).flatMap { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      kOfs.zipWithIndex.map { case (kOf, i) =>
        (g, i) -> sorted((kOf(sorted.length.toLong) - 1).toInt) }
    }
    assert(got == expected)
  }

  test("sameContent is multiset equality, column order independent") {
    val a = Seq((1, "x"), (1, "x"), (2, "y")).toDF("id", "v")
    val b = Seq(("x", 1), ("x", 1), ("y", 2)).toDF("v", "id")
    val c = Seq(("x", 1), ("y", 2)).toDF("v", "id") // one dup missing
    assert(IncrementalOps.sameContent(a, b))
    assert(!IncrementalOps.sameContent(a, c))
    // a strict sub-multiset is unequal in both directions
    assert(!IncrementalOps.sameContent(c, a))
    val d = Seq((1, "x")).toDF("id", "v") // drops a distinct row too
    assert(!IncrementalOps.sameContent(a, d) && !IncrementalOps.sameContent(d, a))
  }

  test("sameContent: NULLs compare equal to NULLs, never to \"\"; one query execution") {
    val n = Seq[(Integer, String)]((null, null), (null, null), (1, null), (2, "")).toDF("id", "v")
    val m = Seq[(String, Integer)]((null, 1), ("", 2), (null, null), (null, null)).toDF("v", "id")
    assert(IncrementalOps.sameContent(n, m) && IncrementalOps.sameContent(m, n))
    // NULL against "" in the same position: unequal either way round
    val e = Seq[(Integer, String)]((null, null), (null, null), (1, ""), (2, "")).toDF("id", "v")
    assert(!IncrementalOps.sameContent(n, e) && !IncrementalOps.sameContent(e, n))
    // NaN and -0.0 group like EXCEPT ALL: NaN = NaN, -0.0 = 0.0
    val f1 = Seq(Double.NaN, -0.0).toDF("x")
    val f2 = Seq(0.0, Double.NaN).toDF("x")
    assert(IncrementalOps.sameContent(f1, f2))
    // the decision is one Spark action, whichever way it goes
    assert(queryExecutions(assert(IncrementalOps.sameContent(n, m))) == 1)
    assert(queryExecutions(assert(!IncrementalOps.sameContent(n, e))) == 1)
  }

  test("fingerprint: equal for equal inputs and logic, sensitive to rows, literals, names and files") {
    import IncrementalOps.fingerprint
    def q(rows: Seq[(Int, String)], word: String) =
      rows.toDF("id", "v").filter(col("v") =!= word).withColumn("n", col("id") + 1)
    val rows = Seq((1, "x"), (2, "y"))
    val fp = fingerprint(q(rows, "x"))
    assert(fp.isDefined)
    assert(fingerprint(q(rows, "x")) == fp) // rebuilt: new expression ids, same fingerprint
    assert(fingerprint(q(rows :+ ((3, "z")), "x")) != fp)
    assert(fingerprint(q(rows, "y")) != fp)
    assert(fingerprint(q(rows, "x").withColumnRenamed("n", "m")) != fp)
    // an expression with many arguments is printed whole, its last one too
    def firstOf(last: String) =
      q(rows, "x").withColumn("c", coalesce((1 to 40).map(i => col("v")) :+ lit(last): _*))
    assert(fingerprint(firstOf("a")) != fingerprint(firstOf("b")))
    assert(fingerprint(spark.range(3).toDF()) == fingerprint(spark.range(3).toDF()))
    assert(fingerprint(spark.range(3).toDF()) != fingerprint(spark.range(4).toDF()))
    // a file scan: the files its index holds when the frame is made
    val file = java.nio.file.Paths.get(tmpDir("fp"), "in.csv")
    java.nio.file.Files.write(file, "1,a\n".getBytes)
    def csv() = spark.read.schema("id INT, v STRING").csv(file.toString)
    val before = csv()
    assert(fingerprint(csv()) == fingerprint(before) && fingerprint(before).isDefined)
    java.nio.file.Files.write(file, "1,a\n2,b\n".getBytes)
    assert(fingerprint(csv()) != fingerprint(before))
    // what the plan text cannot pin down has no fingerprint
    assert(fingerprint(spark.createDataFrame(q(rows, "x").rdd, q(rows, "x").schema)).isEmpty)
    assert(fingerprint(q(rows, "x").withColumn("r", rand(1))).isEmpty)
    assert(fingerprint(q(rows, "x").withColumn("d", current_date())).isEmpty)
    assert(fingerprint(q(rows, "x").withColumn("u", udf((i: Int) => i * 2).apply(col("id")))).isEmpty)
  }

  test("surrogate keys are dense 1..n in order; scalable variant agrees") {
    val df = Seq("delta", "alpha", "charlie", "bravo").toDF("name")
    val global = KeyOps.surrogateKey(df, "id", "name")
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(global == Map("alpha" -> 1, "bravo" -> 2, "charlie" -> 3, "delta" -> 4))
    val scalable = KeyOps.scalableSurrogateKey(df, "id", "name")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(scalable == global.map { case (k, v) => k -> v.toLong })
  }

  test("dateDimension: inclusive day count, leap day, ISO week boundary, single day") {
    assert(DateDim.dateDimension(spark, "2020-02-01", "2020-03-01").count() == 30) // leap feb
    assert(DateDim.dateDimension(spark, "2021-07-07", "2021-07-07").count() == 1)
    val boundary = DateDim.dateDimension(spark, "2018-12-31", "2018-12-31").collect()(0)
    assert(boundary.getAs[Byte]("week_of_year") == 1) // ISO: 2018-12-31 is week 1 of 2019
    val leap = DateDim.dateDimension(spark, "2020-02-29", "2020-02-29").collect()(0)
    assert(leap.getAs[Int]("date_dim_id") == 20200229)
  }
}
