package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.jobs._
import graft.schemas.Schemas

/** End-to-end pipeline slice on canned fixtures (FIXTURES.md):
  * extract → dims → fact, asserting idempotency and FK closure.
  */
class JobsSpec extends SparkSpec with JobFixtures {
  import scala.jdk.CollectionConverters._

  // --- the end-to-end slice (fixtures in JobFixtures) ---

  test("extract is idempotent: rerun appends zero; in-batch dup survives first write") {
    val lake = tmpDir("lake") + "/flights"
    val n1 = ExtractFlights.run(spark, FixtureSource, lake, "EDDF", day, day + 86399)
    assert(n1 == 5) // first write keeps the in-batch duplicate
    val n2 = ExtractFlights.run(spark, FixtureSource, lake, "EDDF", day, day + 86399)
    assert(n2 == 0) // every row meets its stored copy
    val stored = spark.read.parquet(lake)
    assert(stored.count() == 5)
    // partition layout is hive-style y/m/d
    assert(stored.filter(col("flight_year") === 2024 && col("flight_month") === 1).count() >= 3)
  }

  test("dims + fact end to end: cleansing, fallbacks, FK closure, idempotent append") {
    val lake = tmpDir("lake2") + "/flights"
    ExtractFlights.run(spark, FixtureSource, lake, "EDDF", day, day + 86399)
    val wh = freshWarehouse()

    assert(LoadDimAirports.run(spark, wh, airports))
    assert(!LoadDimAirports.run(spark, wh, airports)) // unchanged -> skipped rewrite

    val dimAp = wh.table(spark, "dim_airports").collect()
    assert(dimAp.length == 3)
    val lhr = dimAp.find(_.getAs[String]("icao_code") == "EGLL").get
    assert(lhr.getAs[Float]("lat") == 51.0f)         // int -> float fix
    assert(lhr.isNullAt(lhr.fieldIndex("alt")))      // "-1" sentinel -> NULL

    assert(LoadDimDates.run(spark, wh, "2024-01-01", "2024-01-31") == 31)
    assert(LoadDimDates.run(spark, wh, "2024-01-01", "2024-01-31") == 0) // idempotent

    val flightsLake = spark.read.parquet(lake)
    assert(LoadDimAircrafts.run(spark, wh, aircraftsDf, manufacturersDf,
      typesDf, airlinesDf, Some(flightsLake)))

    val dimAc = wh.table(spark, "dim_aircrafts").collect()
    assert(dimAc.length == 2) // malformed + all-null rows dropped
    val lh = dimAc.find(_.getAs[String]("icao24_addr") == "3c6444").get
    assert(lh.getAs[String]("operating_airline") == "Lufthansa")  // airline join hit
    assert(lh.getAs[String]("manufacturer") == "AIRBUS")
    assert(lh.getAs[String]("aircraft_type") == "LandPlane")
    val fb = dimAc.find(_.getAs[String]("icao24_addr") == "abc123").get
    assert(fb.getAs[String]("operating_airline") == "NoIcao Air") // iata coalesce path
    assert(fb.isNullAt(fb.fieldIndex("registration")))            // -UNKNOWN- -> NULL
    assert(fb.isNullAt(fb.fieldIndex("line_num")))                // \tN/A -> NULL

    val n1 = LoadFctFlights.run(spark, wh, lake, 2024, 1, 1)
    assert(n1 == 4) // EXCEPT DISTINCT collapsed the in-batch duplicate
    val n2 = LoadFctFlights.run(spark, wh, lake, 2024, 1, 1)
    assert(n2 == 0) // idempotent replay, incl. the overnight-arrival row

    // FK closure: every fact FK resolves or is NULL from an unmatched left join
    val fct = wh.table(spark, "fct_flights")
    val dimIds = dimAc.map(_.getAs[Int]("aircraft_dim_id")).toSet
    fct.collect().foreach { r =>
      if (!r.isNullAt(r.fieldIndex("aircraft_dim_id")))
        assert(dimIds.contains(r.getAs[Int]("aircraft_dim_id")))
      // date key derives from the lake partition (= run date), never from
      // depart_ts — the overnight arrival must carry 20240101 too
      assert(r.getAs[Int]("flight_date_dim_id") == 20240101)
    }
    // the overnight arrival departed Dec 31 but keys to the run date
    val overnight = fct.filter(
      col("depart_ts") < to_timestamp(lit("2024-01-01 00:00:00"))).collect()
    assert(overnight.length == 1 &&
      overnight(0).getAs[Int]("flight_date_dim_id") == 20240101)
  }

  test("DailyPipeline runs the DAG order end to end; same-date replay writes zero everywhere") {
    val lake = tmpDir("lake3") + "/flights"
    val wh = freshWarehouse()
    val in = DailyPipeline.Inputs(FixtureSource, lake, airports,
      aircraftsDf, manufacturersDf, typesDf, airlinesDf)
    val p = DailyPipeline.Params("EDDF", java.time.LocalDate.of(2024, 1, 1),
      dimDatesStart = "2024-01-01", dimDatesEnd = "2024-01-31", retryDelayMs = 0L)

    val r1 = DailyPipeline.run(spark, wh, in, p)
    assert(r1 == DailyPipeline.Report(
      extractedRows = 5, airportsRewritten = true, datesAdded = 31,
      aircraftsRewritten = true, factRows = 4))
    // the composed run produced the same warehouse as the task-by-task spec
    assert(wh.table(spark, "dim_airports").count() == 3)
    assert(wh.table(spark, "dim_aircrafts").count() == 2)
    assert(wh.table(spark, "fct_flights").count() == 4)

    // Airflow skip-if-done semantics without the scheduler: a same-date
    // replay is all zeros/false — nothing appended, nothing rewritten
    val r2 = DailyPipeline.run(spark, wh, in, p)
    assert(r2 == DailyPipeline.Report(0L, false, 0L, false, 0L))
    assert(wh.table(spark, "fct_flights").count() == 4)
  }

  test("DailyPipeline retries only the extract seam (reference retries=5)") {
    val lake = tmpDir("lake4") + "/flights"
    val wh = freshWarehouse()
    var calls = 0
    val flaky = new FlightSource {
      def fetch(a: String, b: Long, e: Long, dir: String): Seq[Row] = {
        calls += 1
        if (calls <= 2) throw new RuntimeException(s"transient API failure $calls")
        FixtureSource.fetch(a, b, e, dir)
      }
    }
    val in = DailyPipeline.Inputs(flaky, lake, airports,
      aircraftsDf, manufacturersDf, typesDf, airlinesDf)
    val p = DailyPipeline.Params("EDDF", java.time.LocalDate.of(2024, 1, 1),
      dimDatesStart = "2024-01-01", dimDatesEnd = "2024-01-31", retryDelayMs = 0L)
    val r = DailyPipeline.run(spark, wh, in, p)
    assert(r.extractedRows == 5 && r.factRows == 4)
    assert(calls == 4) // 2 failed attempts, then departure+arrival succeed

    // retry budget exhausted -> the original failure surfaces
    val alwaysDown = new FlightSource {
      def fetch(a: String, b: Long, e: Long, dir: String): Seq[Row] =
        throw new RuntimeException("API down")
    }
    val down = freshWarehouse()
    val ex = intercept[RuntimeException] {
      DailyPipeline.run(spark, down,
        in.copy(source = alwaysDown, lakeDir = tmpDir("lake5") + "/flights"),
        p.copy(extractRetries = 2))
    }
    // unwrapped, and only once every branch has joined: the aircrafts dim
    // and the fact stay unwritten, while the dim group, which does not
    // depend on the extract (load_dim_tables), still publishes
    assert(ex.getClass == classOf[RuntimeException] && ex.getMessage == "API down")
    assert(down.table(spark, LoadDimAircrafts.table).isEmpty)
    assert(down.table(spark, LoadFctFlights.table).isEmpty)
    assert(!down.table(spark, LoadDimAirports.table).isEmpty)
    assert(!down.table(spark, LoadDimDates.table).isEmpty)
    assert(liveDailyThreads().isEmpty)
  }

  test("DailyPipeline retries no fatal failure: a StackOverflowError fails the run after one fetch") {
    var calls = 0
    val overflowing = new FlightSource {
      def fetch(a: String, b: Long, e: Long, dir: String): Seq[Row] = {
        calls += 1
        if (calls == 1) throw new StackOverflowError("API response nested too deep")
        FixtureSource.fetch(a, b, e, dir)
      }
    }
    val ex = intercept[StackOverflowError] {
      DailyPipeline.run(spark, freshWarehouse(),
        dailyInputs(overflowing, tmpDir("lake15") + "/flights"),
        dailyParams(java.time.LocalDate.of(2024, 1, 1)))
    }
    assert(ex.getMessage == "API response nested too deep")
    assert(calls == 1)
    assert(liveDailyThreads().isEmpty)
  }

  test("readLake pins the lake schema and reads back the rows the extract wrote") {
    val lake = tmpDir("lake6") + "/flights"
    ExtractFlights.run(spark, FixtureSource, lake, "EDDF", day, day + 86399)
    val back = ExtractFlights.readLake(spark, lake)
    // partition columns come back SMALLINT/TINYINT as written, not INT
    assert(back.schema == Schemas.srcFlights)
    val written = ExtractFlights.directions.map { dir =>
      ExtractFlights.derivePartitionCols(
        spark.createDataFrame(FixtureSource.fetch("EDDF", day, day + 86399, dir).asJava,
          ExtractFlights.apiSchema),
        ExtractFlights.partitionDriver(dir))
    }.reduce(_ unionByName _)
    assert(graft.ops.IncrementalOps.sameContent(back, written))
  }

  test("cleanse order: sentinel-only rows survive as all-NULL, dropped-column-only rows don't") {
    // reference order is drop-cols -> dropna(all) -> filters -> sentinel-to-NULL
    val sentinelOnly = Row(null, "-UNKNOWN-", null, null, null, null, null, null,
      null, null, null, null, null, null, null) // only content is a sentinel word
    val droppedColsOnly = Row(null, null, null, null, null, null, null, null,
      null, null, null, null, null, "Sole Owner", null) // non-null only in `owner`
    val out = LoadDimAircrafts.cleanse(spark.createDataFrame(
      Seq(sentinelOnly, droppedColsOnly).asJava, Schemas.srcAircrafts)).collect()
    assert(out.length == 1) // dropped-cols-only row is gone...
    assert(out(0).isNullAt(out(0).fieldIndex("registration"))) // ...sentinel kept, nulled last
  }

  test("FK violation aborts the aircrafts dim publish") {
    val wh = freshWarehouse()
    val unknownFlights = spark.createDataFrame(
      Seq(Row("ffffff")).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("icao24",
          org.apache.spark.sql.types.StringType))))
    assertThrows[IllegalArgumentException] {
      LoadDimAircrafts.run(spark, wh, aircraftsDf, manufacturersDf,
        typesDf, airlinesDf, Some(unknownFlights))
    }
  }

  test("FK violation aborts an unchanged aircrafts dim too, leaving the stored dim byte-identical") {
    val wh = freshWarehouse()
    val lake = tmpDir("lake7") + "/flights"
    ExtractFlights.run(spark, FixtureSource, lake, "EDDF", day, day + 86399)
    def load(): Boolean = LoadDimAircrafts.run(spark, wh, aircraftsDf, manufacturersDf,
      typesDf, airlinesDf, Some(ExtractFlights.readLake(spark, lake)))
    assert(load())  // first publish
    assert(!load()) // same inputs: unchanged, the probe passes on the stored dim

    def files(): Map[String, Seq[Byte]] = {
      val dir = java.nio.file.Paths.get(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(LoadDimAircrafts.table, Some(wh.db))).location)
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => dir.relativize(f).toString ->
          java.nio.file.Files.readAllBytes(f).toSeq).toMap
      finally walk.close()
    }
    val before = files()
    // the next day's feed brings a flight whose icao24 the dim lacks
    val unknown = new FlightSource {
      def fetch(a: String, b: Long, e: Long, dir: String): Seq[Row] =
        if (dir == "departure") Seq(flightRow("ffffff", b + 3600, "EDDF", b + 7200, "EGLL"))
        else Nil
    }
    assert(ExtractFlights.run(spark, unknown, lake, "EDDF", day + 86400, day + 2 * 86400 - 1) == 1)
    val ex = intercept[IllegalArgumentException](load())
    assert(ex.getMessage.contains("1 flight icao24s missing"))
    assert(files() == before)
  }

  private def source(deps: Seq[Row], arrs: Seq[Row]): FlightSource = new FlightSource {
    def fetch(a: String, b: Long, e: Long, dir: String): Seq[Row] =
      if (dir == "departure") deps else arrs
  }

  test("an extract replay diffs against every partition its batch touches: NULL driver, next day") {
    val lake = tmpDir("lake9") + "/flights"
    val spill = source(
      Seq(flightRow("3c6444", day + 3600, "EDDF", day + 7200, "EGLL"),
        // first seen just past the window's last midnight: the next day's partition
        flightRow("abc123", day + 86400 + 600, "EDDF", day + 86400 + 4000, "LFPG")),
      Seq(flightRow("abc123", day + 100, "EGLL", null, "EDDF"))) // NULL lastSeen
    assert(ExtractFlights.run(spark, spill, lake, "EDDF", day, day + 86399) == 3)
    assert(ExtractFlights.run(spark, spill, lake, "EDDF", day, day + 86399) == 0)
    assert(ExtractFlights.readLake(spark, lake).count() == 3)
  }

  test("an extract appends new rows even when the touched partitions hold as many rows") {
    def nullArrival(icao24: String) = flightRow(icao24, day + 100, "EGLL", null, "EDDF")
    val day2 = day + 86400
    // the NULL partition holds every day's NULL-driver rows: day 2's two
    // new ones match day 1's two by count only
    val lake = tmpDir("lake10") + "/flights"
    assert(ExtractFlights.run(spark, source(Nil, Seq(nullArrival("aaa111"), nullArrival("bbb222"))),
      lake, "EDDF", day, day + 86399) == 2)
    assert(ExtractFlights.run(spark, source(Nil, Seq(nullArrival("ccc333"), nullArrival("ddd444"))),
      lake, "EDDF", day2, day2 + 86399) == 2)
    assert(ExtractFlights.readLake(spark, lake).count() == 4)
    // two rows, as many as the touched partitions hold in total — but the
    // day-2 departure is new, and only the NULL-driver arrival is stored
    val lake2 = tmpDir("lake11") + "/flights"
    assert(ExtractFlights.run(spark, source(Nil, Seq(nullArrival("aaa111"))),
      lake2, "EDDF", day, day + 86399) == 1)
    val next = source(Seq(flightRow("3c6444", day2 + 3600, "EDDF", day2 + 7200, "EGLL")),
      Seq(nullArrival("aaa111")))
    assert(ExtractFlights.run(spark, next, lake2, "EDDF", day2, day2 + 86399) == 1)
    assert(ExtractFlights.readLake(spark, lake2).count() == 2)
  }

  test("an FK failure surfaces after the other branches finished; no branch thread outlives a run") {
    val wh = freshWarehouse()
    val lake = tmpDir("lake12") + "/flights"
    val day1 = java.time.LocalDate.of(2024, 1, 1)
    assert(DailyPipeline.run(spark, wh, dailyInputs(DaySource, lake), dailyParams(day1)).factRows == 4)
    assert(liveDailyThreads().isEmpty)

    val unknown = new FlightSource {
      def fetch(a: String, b: Long, e: Long, dir: String): Seq[Row] =
        if (dir == "departure") Seq(flightRow("ffffff", b + 3600, "EDDF", b + 7200, "EGLL"))
        else Nil
    }
    // day 2 also widens the calendar, and the dates branch's append lands
    // well after the aircrafts probe has failed
    val slowDates = new CatalogWarehouse(spark, wh.db) {
      override def append(n: String, df: DataFrame): Unit = {
        if (n == LoadDimDates.table) Thread.sleep(3000)
        super.append(n, df)
      }
    }
    val ex = intercept[IllegalArgumentException] {
      DailyPipeline.run(spark, slowDates, dailyInputs(unknown, lake),
        dailyParams(day1.plusDays(1)).copy(dimDatesEnd = "2024-02-29"))
    }
    assert(ex.getMessage.contains("1 flight icao24s missing"))
    assert(wh.table(spark, LoadDimDates.table).count() == 31 + 29)
    assert(ExtractFlights.readLake(spark, lake).filter(col("icao24") === "ffffff").count() == 1)
    assert(wh.table(spark, LoadFctFlights.table)
      .filter(col("flight_date_dim_id") === 20240102).count() == 0)
    assert(liveDailyThreads().isEmpty)
  }

  test("every job of a DailyPipeline run carries the caller's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
    }
    Bench.drainListenerBus(sc)
    val wh = freshWarehouse()
    sc.addSparkListener(listener)
    sc.setJobGroup("g", "daily run")
    try DailyPipeline.run(spark, wh,
      dailyInputs(DaySource, tmpDir("lake13") + "/flights"),
      dailyParams(java.time.LocalDate.of(2024, 1, 1)))
    finally {
      sc.clearJobGroup()
      Bench.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    val seen = groups.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_.contains("g")), s"jobs outside group g: ${seen.filterNot(_.contains("g"))}")
  }

  test("an interrupted DailyPipeline run still waits for every branch before it exits") {
    val release = new java.util.concurrent.CountDownLatch(1)
    val held = new FlightSource {
      def fetch(a: String, b: Long, e: Long, dir: String): Seq[Row] = {
        release.await()
        DaySource.fetch(a, b, e, dir)
      }
    }
    @volatile var aliveAtExit: Option[Set[String]] = None
    val wh = freshWarehouse()
    val runner = new Thread(() =>
      try DailyPipeline.run(spark, wh,
        dailyInputs(held, tmpDir("lake14") + "/flights"),
        dailyParams(java.time.LocalDate.of(2024, 1, 1)))
      catch { case _: Throwable => () } // whatever the interrupt makes it throw
      finally aliveAtExit = Some(liveDailyThreads()),
      "daily-runner")
    runner.start()
    try {
      // the aircrafts FK probe waits for the held extract on the calling thread
      def joining = runner.getStackTrace.exists(f =>
        f.getClassName == "java.lang.Thread" && f.getMethodName == "join")
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!joining && runner.isAlive && System.nanoTime() < deadline) Thread.sleep(20)
      assert(joining)
      // interrupt every join the run reaches while the extract is held
      for (_ <- 1 to 20) { runner.interrupt(); Thread.sleep(50) }
      assert(runner.isAlive, "the run exited while its extract branch was still running")
    } finally release.countDown()
    runner.join(120000)
    assert(!runner.isAlive)
    assert(aliveAtExit.contains(Set.empty[String]), s"branch threads alive at exit: $aliveAtExit")
  }

  /** Threads of `DailyPipeline.run`'s branches that are still alive. */
  private def liveDailyThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-daily-"))
      .map(_.getName).toSet
}
