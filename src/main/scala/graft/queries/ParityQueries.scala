package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.ops.{CleanseOps, DateDim, IncrementalOps, KeyOps}
import Q.{dec, asDouble}

/** SURVEY §2 operator inventory re-expressed over the harness testdata.
  *
  * Each entry exercises one operator family from the reference
  * (file:line cites in the Scaladoc of the ops it uses) as a declarative
  * DataFrame query, so Catalyst gets full pushdown/pruning/broadcast
  * freedom. Oracles are ANSI SQL in DuckDB dialect.
  */
object ParityQueries {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)

  /** §2.4-ext + F2: pruning aggregate (TPC-H Q1 shape). */
  val q1Agg = Q(
    "q1_agg",
    (s, d) => li(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        asDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
        asDouble(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        asDouble(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    headline = true)

  /** P1/P5/P8: conjunctive filter + narrow projection + derived column
    * (reference: extract_flights.py:52-63, 75-79).
    */
  val qProjFilter = Q(
    "q_proj_filter",
    (s, d) => li(s, d)
      .filter(col("l_quantity") >= 30 && col("l_discount") > 0.02 && col("l_returnflag") === "R")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        asDouble(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("net_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity,
             CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS net_price
      FROM lineitem
      WHERE l_quantity >= 30 AND l_discount > 0.02 AND l_returnflag = 'R'
      ORDER BY l_orderkey, l_linenumber"""))

  /** P6/P7/P8 + F2/F6: rename, drop, derive year/month/day + smart date
    * key (reference: load_fct_flights.py:33-54).
    */
  val qSmartDateKey = Q(
    "q_smart_date_key",
    (s, d) => ord(s, d)
      .withColumnRenamed("o_orderkey", "order_id")
      .withColumns(Map(
        "o_year" -> year(col("o_orderdate")).cast(IntegerType),
        "o_month" -> month(col("o_orderdate")).cast(IntegerType),
        "o_day" -> dayofmonth(col("o_orderdate")).cast(IntegerType),
        "date_dim_id" -> KeyOps.smartDateKey(col("o_orderdate"))))
      .drop("o_orderdate", "o_orderstatus", "o_totalprice", "o_orderpriority", "o_custkey")
      .orderBy(col("order_id")),
    Some("""
      SELECT o_orderkey AS order_id,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(month(o_orderdate) AS INTEGER) AS o_month,
             CAST(day(o_orderdate) AS INTEGER) AS o_day,
             CAST(year(o_orderdate)*10000 + month(o_orderdate)*100 + day(o_orderdate) AS INTEGER) AS date_dim_id
      FROM orders ORDER BY order_id"""))

  /** J1+J2: the SAME dimension joined twice with aliases
    * (reference: load_fct_flights.py:61-77 — dim_airports for both the
    * departure and arrival side). nation plays the dim role here.
    */
  val qJoinDimTwice = Q(
    "q_join_dim_twice",
    (s, d) => {
      val nation = Tables.nation(s, d)
      val sn = nation.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val cn = nation.select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      li(s, d)
        .filter(col("l_linenumber") === 1)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sn), col("s_nationkey") === col("sn_key"), "left")
        .join(broadcast(cn), col("c_nationkey") === col("cn_key"), "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("supp_nation"), col("cust_nation"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""
      SELECT l_orderkey, l_linenumber, sn.n_name AS supp_nation, cn.n_name AS cust_nation
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      LEFT JOIN nation sn ON s_nationkey = sn.n_nationkey
      LEFT JOIN nation cn ON c_nationkey = cn.n_nationkey
      WHERE l_linenumber = 1
      ORDER BY l_orderkey, l_linenumber"""))

  /** J3 left outer equi-join fact→dim with post-join NULL handling
    * (reference: load_fct_flights.py:83-90; load_dim_aircrafts.py:95-115).
    */
  val qJoinLeft = Q(
    "q_join_left",
    (s, d) => {
      val cust = Tables.customer(s, d)
      ord(s, d)
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left")
        .select(
          col("o_orderkey"),
          CleanseOps.lookupOrFallback(col("c_custkey"), col("c_name"), lit("UNKNOWN")).as("cust_name"),
          col("c_mktsegment").as("segment"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey,
             CASE WHEN c_custkey IS NULL THEN 'UNKNOWN' ELSE c_name END AS cust_name,
             c_mktsegment AS segment
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey"""))

  /** J7: FK-integrity probe as a left-anti join
    * (reference: load_dim_aircrafts.py:227-251 — left join + null count,
    * which is a left-anti in disguise; we use the idiomatic anti join).
    */
  val qJoinAnti = Q(
    "q_join_anti",
    (s, d) => Tables.customer(s, d)
      .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""))

  /** U2: EXCEPT DISTINCT — the incremental-idempotency primitive
    * (reference: extract_flights.py:87; load_fct_flights.py:92-105,
    * positional semantics centralized in IncrementalOps.exceptNew).
    */
  val qExcept = Q(
    "q_except",
    (s, d) => {
      val o = ord(s, d)
      val a = o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
      val b = o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey"))
      IncrementalOps.exceptNew(a, b).orderBy(col("o_custkey"))
    },
    Some("""
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      EXCEPT
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      ORDER BY o_custkey"""))

  /** U1: unionByName with differently-ordered columns
    * (reference: extract_flights.py:66 — departure/arrival merge by NAME).
    */
  val qUnionByName = Q(
    "q_union_by_name",
    (s, d) => {
      val o = ord(s, d)
      val dep = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_totalprice"), lit("open").as("bucket"))
      val arr = o.filter(col("o_orderstatus") === "F")
        .select(lit("finished").as("bucket"), col("o_orderkey"), col("o_totalprice"))
      dep.unionByName(arr).orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_totalprice, 'open' AS bucket FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'finished' AS bucket FROM orders WHERE o_orderstatus = 'F'
      ORDER BY o_orderkey"""))

  /** U3: dropDuplicates after projection
    * (reference: load_dim_aircrafts.py:206).
    */
  val qDropDup = Q(
    "q_dropdup",
    (s, d) => li(s, d)
      .select(col("l_returnflag"), col("l_linestatus"))
      .dropDuplicates()
      .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus"""))

  /** W1/W2: surrogate key via global row_number window
    * (reference: load_dim_airports.py:50, load_dim_aircrafts.py:118-122).
    * Dim-scale only; see KeyOps.scalableSurrogateKey for the 100 TB path.
    */
  val qSurrogateKey = Q(
    "q_surrogate_key",
    (s, d) => KeyOps.surrogateKey(Tables.nation(s, d), "nation_dim_id", "n_name")
      .select(col("nation_dim_id"), col("n_name"), col("n_nationkey"), col("n_regionkey"))
      .orderBy(col("nation_dim_id")),
    Some("""
      SELECT CAST(row_number() OVER (ORDER BY n_name) AS INTEGER) AS nation_dim_id,
             n_name, n_nationkey, n_regionkey
      FROM nation ORDER BY nation_dim_id"""))

  /** G1 + F2-F6: calendar dimension generator
    * (reference: load_dim_dates.py:61-85).
    * DuckDB note: dayofweek() is 0=Sunday there vs Spark 1=Sunday, hence
    * the +1; weekofyear is ISO in both.
    */
  val qDateDim = Q(
    "q_date_dim",
    (s, d) => DateDim.dateDimension(s, "2020-01-01", "2021-12-31")
      .orderBy(col("date_dim_id")),
    Some("""
      SELECT CAST(year(d)*10000 + month(d)*100 + day(d) AS INTEGER) AS date_dim_id,
             d AS date_date,
             CAST(year(d) AS SMALLINT) AS year,
             CAST(month(d) AS TINYINT) AS month,
             CAST(day(d) AS TINYINT) AS day,
             CAST(weekofyear(d) AS TINYINT) AS week_of_year,
             CAST(dayofweek(d) + 1 AS TINYINT) AS day_of_week
      FROM (SELECT CAST(unnest(generate_series(DATE '2020-01-01', DATE '2021-12-31', INTERVAL 1 DAY)) AS DATE) AS d)
      ORDER BY date_dim_id"""))

  /** G2: unpivot wide→long (reference: load_dim_aircrafts.py:209-224). */
  val qUnpivot = Q(
    "q_unpivot",
    (s, d) => Tables.part(s, d)
      .unpivot(
        Array(col("p_partkey")),
        Array(col("p_brand"), col("p_type")),
        "attr", "value")
      .orderBy(col("p_partkey"), col("attr")),
    Some("""
      SELECT p_partkey, 'p_brand' AS attr, p_brand AS value FROM part
      UNION ALL
      SELECT p_partkey, 'p_type' AS attr, p_type AS value FROM part
      ORDER BY p_partkey, attr"""))

  /** P9/P11: sentinel-word → NULL canonicalization
    * (reference: load_dim_aircrafts.py:137-154 `field_vals_to_nulls`).
    */
  val qNullCanon = Q(
    "q_null_canon",
    (s, d) => ord(s, d)
      .withColumn("priority",
        CleanseOps.nullifyWords(col("o_orderpriority"), Seq("4-NOT SPECIFIED", "5-LOW")))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("priority").asc_nulls_first),
    Some("""
      SELECT CASE WHEN o_orderpriority IN ('4-NOT SPECIFIED','5-LOW') THEN NULL
                  ELSE o_orderpriority END AS priority,
             count(*) AS n
      FROM orders GROUP BY 1
      ORDER BY priority NULLS FIRST"""))

  /** P10/F8 + F10: priority coalesce + when/otherwise
    * (reference: load_dim_aircrafts.py:103-107, 176-179).
    */
  val qCoalesce = Q(
    "q_coalesce",
    (s, d) => ord(s, d)
      .withColumn("urgent_prio",
        when(col("o_orderpriority") === "1-URGENT", col("o_orderpriority")))
      .withColumn("effective_prio",
        CleanseOps.firstNonNull(col("urgent_prio"), col("o_orderstatus")))
      .select(col("o_orderkey"), col("urgent_prio"), col("effective_prio"))
      .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderpriority END AS urgent_prio,
             COALESCE(CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderpriority END,
                      o_orderstatus) AS effective_prio
      FROM orders ORDER BY o_orderkey"""))

  /** P3/F7/F11/F12: SQL-string predicate with LENGTH + BETWEEN + boolean
    * algebra (reference: load_dim_aircrafts.py:163-164;
    * load_dim_dates.py:22-23).
    */
  val qScalarSuite = Q(
    "q_scalar_suite",
    (s, d) => Tables.part(s, d)
      .where("length(p_type) <= 20 OR p_type IS NULL")
      .withColumn("mid_size", col("p_size").between(10, 40))
      .withColumn("is_special",
        (col("p_brand") === "Brand#11" || col("p_brand") === "Brand#22") && !col("mid_size"))
      .select(col("p_partkey"), col("p_type"), col("mid_size"), col("is_special"))
      .orderBy(col("p_partkey")),
    Some("""
      SELECT p_partkey, p_type,
             p_size BETWEEN 10 AND 40 AS mid_size,
             (p_brand = 'Brand#11' OR p_brand = 'Brand#22')
               AND NOT (p_size BETWEEN 10 AND 40) AS is_special
      FROM part
      WHERE length(p_type) <= 20 OR p_type IS NULL
      ORDER BY p_partkey"""))

  /** §2.6: global sort + limit (top-k). Unique tiebreak on o_orderkey so
    * the boundary is deterministic on both engines.
    */
  val qTopK = Q(
    "q_topk",
    (s, d) => ord(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice")),
    Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""))

  /** P13: row offset (reference: load_dim_aircrafts.py:186 `.offset(1)`,
    * header-row skip). Needs a defined order to be meaningful.
    */
  val qOffset = Q(
    "q_offset",
    (s, d) => Tables.region(s, d)
      .orderBy(col("r_regionkey"))
      .offset(1)
      .select(col("r_regionkey"), col("r_name")),
    Some("""
      SELECT r_regionkey, r_name FROM region
      ORDER BY r_regionkey OFFSET 1"""))

  /** P12: drop fully-null rows (reference: load_dim_aircrafts.py:162).
    * Nullable columns are manufactured first so the operator has work.
    */
  val qDropNa = Q(
    "q_dropna",
    (s, d) => ord(s, d)
      .select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "O", col("o_orderstatus")).as("open_status"),
        when(col("o_orderpriority") === "1-URGENT", col("o_orderpriority")).as("urgent"))
      .withColumn("all_null_probe", col("open_status").isNull && col("urgent").isNull)
      .filter(!col("all_null_probe"))
      .drop("all_null_probe")
      .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'O' THEN o_orderstatus END AS open_status,
             CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderpriority END AS urgent
      FROM orders
      WHERE NOT (o_orderstatus <> 'O' AND o_orderpriority <> '1-URGENT')
      ORDER BY o_orderkey"""))

  /** Flagship star join (reference shape: load_fct_flights.py:58-90 —
    * fact with renamed/derived cols, three broadcast dim joins, narrow
    * select). Revenue per supplier-nation per order-year.
    */
  val qStarJoin = Q(
    "q_star_join",
    (s, d) => li(s, d)
      .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"), "left")
      .groupBy(col("n_name"), year(col("o_orderdate")).cast(IntegerType).as("o_year"))
      .agg(
        asDouble(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"), col("o_year")),
    Some("""
      SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      LEFT JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name, o_year
      ORDER BY n_name, o_year"""),
    headline = true)

  /** exceptAll / intersect / intersectAll — the multiset set-op family
    * the reference leaves unused (SURVEY §2.7 "absent") but the engine
    * supports as first-class operators.
    */
  val qSetOpsAll = Q(
    "q_setops_all",
    (s, d) => {
      val o = ord(s, d)
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
      val ea = f.exceptAll(p).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_exceptall"))
      val ia = f.intersectAll(p).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_intersectall"))
      val id = f.intersect(p).withColumn("in_distinct", lit(1))
      ea.join(ia, Seq("o_custkey"), "full_outer")
        .join(id.select(col("o_custkey"), col("in_distinct")), Seq("o_custkey"), "full_outer")
        .orderBy(col("o_custkey"))
    },
    Some("""
      WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
           p AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'),
           ea AS (SELECT o_custkey, count(*) AS n_exceptall
                  FROM (SELECT * FROM f EXCEPT ALL SELECT * FROM p) GROUP BY 1),
           ia AS (SELECT o_custkey, count(*) AS n_intersectall
                  FROM (SELECT * FROM f INTERSECT ALL SELECT * FROM p) GROUP BY 1),
           id AS (SELECT o_custkey, 1 AS in_distinct
                  FROM (SELECT * FROM f INTERSECT SELECT * FROM p))
      SELECT COALESCE(ea.o_custkey, ia.o_custkey, id.o_custkey) AS o_custkey,
             n_exceptall, n_intersectall, in_distinct
      FROM ea FULL OUTER JOIN ia ON ea.o_custkey = ia.o_custkey
              FULL OUTER JOIN id ON COALESCE(ea.o_custkey, ia.o_custkey) = id.o_custkey
      ORDER BY o_custkey"""))

  /** Salted skew join, oracle-checked: the salt decomposition is
    * internal (rowSalt spreads a hot key over N sub-keys; the small
    * side replicates once per salt), so the result is ROW-IDENTICAL to
    * the plain join — which is exactly what the oracle asserts. This is
    * the manual skew weapon for when AQE's runtime splitting isn't
    * available (e.g. a skewed key feeding a bucketed/pre-partitioned
    * join that must not be re-planned).
    */
  val qSaltedJoin = Q(
    "q_salted_join",
    (s, d) => graft.ops.SkewOps.saltedJoin(
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col("l_quantity")),
      Tables.supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name")),
      key = "l_suppkey", salts = 8)
      .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""
      SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity, s_name
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      ORDER BY l_orderkey, l_linenumber"""))

  /** SCD2 dimension merge, oracle-checked end-to-end: the open customer
    * dim merged with a snapshot where every 7th customer changed
    * segment — unchanged rows keep their interval, changed rows close
    * at the effective date and re-open as a new version. The
    * history-keeping upgrade of the reference's full-snapshot dim
    * replace (S11). See [[graft.ops.ScdOps.scd2Merge]] for the
    * single-full-outer-join shape.
    */
  val qScd2Merge = Q(
    "q_scd2_merge",
    (s, d) => {
      val cust = Tables.customer(s, d)
      val current = cust.select(col("c_custkey"), col("c_mktsegment"),
        to_date(lit("2023-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
      val snapshot = cust.select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      graft.ops.ScdOps.scd2Merge(current, snapshot, "c_custkey",
        Seq("c_mktsegment"), "2024-06-01")
        .orderBy(col("c_custkey"), col("valid_from"))
    },
    Some("""
      WITH cur AS (
        SELECT c_custkey, c_mktsegment,
               DATE '2023-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
        FROM customer),
      snap AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg
        FROM customer),
      chg AS (
        SELECT cur.c_custkey FROM cur JOIN snap USING (c_custkey)
        WHERE cur.c_mktsegment <> snap.seg)
      SELECT c_custkey, c_mktsegment, valid_from, valid_to FROM cur
      WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
      UNION ALL
      SELECT c_custkey, c_mktsegment, valid_from, DATE '2024-06-01' FROM cur
      WHERE c_custkey IN (SELECT c_custkey FROM chg)
      UNION ALL
      SELECT c_custkey, seg, DATE '2024-06-01', CAST(NULL AS DATE) FROM snap
      WHERE c_custkey IN (SELECT c_custkey FROM chg)
      ORDER BY c_custkey, valid_from"""),
    headline = true)

  /** Z-order (Morton) layout key over (customer, order day) — the
    * multi-dimensional clustering sort for file pruning
    * ([[graft.ops.Layout]]). The z-value is pure bit interleaving, so
    * DuckDB recomputes it bit-for-bit; LayoutSpec holds the pruning
    * geometry claims (tile extents, chunks touched per 1-D band query).
    * 16 bits per dimension covers both gate corpora (custkey ≤ 15k,
    * epoch-day ≤ 11.6k); the operator's `bits` scales to the domain.
    */
  val qZorder = Q(
    "q_zorder",
    (s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"),
        graft.ops.Layout.zValue2(
          col("o_custkey"),
          datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))),
          bits = 16).as("z_value"))
      .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             CAST(list_sum([
               ((CAST(o_custkey AS BIGINT) >> i) & 1) * (CAST(1 AS BIGINT) << (2*i))
               + ((CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) >> i) & 1)
                 * (CAST(1 AS BIGINT) << (2*i+1))
               for i in range(0, 16)]) AS BIGINT) AS z_value
      FROM orders ORDER BY o_orderkey"""),
    headline = true)

  /** Schema-evolution union: two generations of the same feed with
    * DIFFERENT columns (the old extract lacks o_orderpriority, the new
    * one dropped o_totalprice) merged by NAME with missing columns
    * null-filled — `unionByName(allowMissingColumns = true)`, the
    * ingest-time posture for a source whose schema drifted mid-history.
    * Positional union would silently misalign; the reference's strict
    * positional EXCEPT discipline (U2) is exactly why the by-name form
    * must exist alongside it.
    */
  val qUnionEvolve = Q(
    "q_union_evolve",
    (s, d) => {
      val orders = Tables.orders(s, d)
      val oldGen = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val newGen = orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      oldGen.unionByName(newGen, allowMissingColumns = true)
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(NULL AS VARCHAR) AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
      ORDER BY o_orderkey"""))

  /** MERGE-INTO upsert over the customer dim: every %10 key's segment
    * is rewritten (matched → update), a derived +10M key range inserts
    * (not matched → insert), everything else passes through. Exercises
    * [[graft.ops.IncrementalOps.upsert]]'s marker semantics end to end;
    * the oracle states the same three row fates as a UNION of
    * anti-joined branches.
    */
  val qUpsert = Q(
    "q_upsert",
    (s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_mktsegment", lit("UPDATED"))
        .unionByName(
          cust.filter(col("c_custkey") % 97 === 0)
            .withColumn("c_custkey", col("c_custkey") + 10000000L))
      graft.ops.IncrementalOps.upsert(cust, updates, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      WITH cust AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      upd AS (
        SELECT c_custkey, 'UPDATED' AS c_mktsegment, c_acctbal
        FROM cust WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 10000000, c_mktsegment, c_acctbal
        FROM cust WHERE c_custkey % 97 = 0)
      SELECT c_custkey, c_mktsegment, c_acctbal FROM cust
      WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_acctbal FROM upd
      ORDER BY c_custkey"""))

  /** Point-in-time (PIT) join — feature-store correctness: each order
    * reads the customer segment that was VALID ON ITS ORDER DATE from
    * an SCD2 dimension (two validity intervals per %7 key, cut at
    * 1996-01-01), not today's row. Composed as
    * [[graft.ops.TemporalOps.asofJoin]] on valid_from — ONE keyed
    * shuffle and a carry-forward walk, where the naive BETWEEN join is
    * an inequality join Spark can only nested-loop. The as-of row's
    * validity window covers the order date by SCD2 construction
    * (intervals partition time from the first valid_from), which the
    * oracle re-derives with an explicit window-containment join.
    */
  val qPitJoin = Q(
    "q_pit_join",
    (s, d) => {
      val cust = Tables.customer(s, d)
      val dim = cust.select(
          col("c_custkey").as("o_custkey"), col("c_mktsegment"),
          to_date(lit("1992-01-01")).as("valid_from"))
        .unionByName(
          cust.filter(col("c_custkey") % 7 === 0)
            .select(col("c_custkey").as("o_custkey"), lit("MOVED").as("c_mktsegment"),
              to_date(lit("1996-01-01")).as("valid_from")))
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      graft.ops.TemporalOps.asofJoin(orders, dim, Seq("o_custkey"),
          "o_orderdate", "valid_from", Seq("c_mktsegment"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("asof_c_mktsegment").as("segment_at_order"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH dim AS (
        SELECT c_custkey, c_mktsegment, DATE '1992-01-01' AS valid_from,
               CASE WHEN c_custkey % 7 = 0 THEN DATE '1996-01-01' END AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, 'MOVED', DATE '1996-01-01', CAST(NULL AS DATE)
        FROM customer WHERE c_custkey % 7 = 0)
      SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
             d.c_mktsegment AS segment_at_order
      FROM orders o LEFT JOIN dim d
        ON o.o_custkey = d.c_custkey
       AND o.o_orderdate >= d.valid_from
       AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
      ORDER BY o_orderkey"""))

  /** CDC snapshot diff over a deterministic "next day" of the customer
    * dim: every 13th key dropped (removed), every 7th resegmented
    * (changed), every 17th re-keyed above 10⁹ (added) — see
    * [[graft.ops.IncrementalOps.snapshotDiff]] for the digest-compare
    * mechanism and the single-full-outer-join scale shape. The oracle
    * classifies by direct value comparison, which is equivalent here
    * (one non-null attribute column) — the md5 digest is the Spark
    * side's wide-table generalization, not part of the semantics.
    */
  val qTableDiff = Q(
    "q_table_diff",
    (s, d) => {
      val cur = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val snap = cur.filter(col("c_custkey") % 13 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 7 === 0, lit("MOVED"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"))
        .union(cur.filter(col("c_custkey") % 17 === 0)
          .select((col("c_custkey") + 1000000000L).as("c_custkey"),
            lit("NEW").as("c_mktsegment")))
      graft.ops.IncrementalOps.snapshotDiff(cur, snap, Seq("c_custkey"))
        .filter(col("status") =!= "unchanged")
        .select(col("c_custkey"), col("status"),
          col("old_c_mktsegment"), col("new_c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      WITH cur AS (SELECT c_custkey, c_mktsegment FROM customer),
      snap AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment END
                 AS c_mktsegment
        FROM cur WHERE c_custkey % 13 <> 0
        UNION ALL
        SELECT c_custkey + 1000000000, 'NEW' FROM cur WHERE c_custkey % 17 = 0),
      j AS (
        SELECT coalesce(cur.c_custkey, snap.c_custkey) AS c_custkey,
               cur.c_mktsegment AS old_c_mktsegment,
               snap.c_mktsegment AS new_c_mktsegment,
               CASE WHEN cur.c_custkey IS NULL THEN 'added'
                    WHEN snap.c_custkey IS NULL THEN 'removed'
                    WHEN cur.c_mktsegment <> snap.c_mktsegment THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM cur FULL JOIN snap ON cur.c_custkey = snap.c_custkey)
      SELECT c_custkey, status, old_c_mktsegment, new_c_mktsegment
      FROM j WHERE status <> 'unchanged' ORDER BY c_custkey"""),
    headline = true)

  /** Referential-integrity audit of the whole star schema in one
    * report: for each of the seven FK edges, the child row count and
    * the orphan count (child rows whose key finds no parent — a NULL
    * key counts as an orphan on both engines: left-anti never matches
    * NULL, NOT EXISTS never satisfies the equality). Each edge is one
    * left-anti equi-join whose parent side broadcasts when dimension-
    * sized (AQE picks the strategy per edge); the seven one-row
    * aggregates union into the report — the generalization of the
    * single-FK q_join_anti probe into the load-gate a warehouse runs
    * before publishing a batch.
    */
  val qFkAudit = Q(
    "q_fk_audit",
    (s, d) => {
      def edge(name: String, child: org.apache.spark.sql.DataFrame, ck: String,
               parent: org.apache.spark.sql.DataFrame, pk: String) = {
        val orphans = child.join(parent, col(ck) === col(pk), "left_anti")
        child.agg(count(lit(1)).as("n_child")).crossJoin(
          orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("fk"), col("n_child"), col("n_orphans"))
      }
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val c = Tables.customer(s, d); val su = Tables.supplier(s, d)
      val pa = Tables.part(s, d); val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      Seq(
        edge("customer.nation", c, "c_nationkey", n, "n_nationkey"),
        edge("lineitem.orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem.part", li, "l_partkey", pa, "p_partkey"),
        edge("lineitem.supplier", li, "l_suppkey", su, "s_suppkey"),
        edge("nation.region", n, "n_regionkey", r, "r_regionkey"),
        edge("orders.customer", o, "o_custkey", c, "c_custkey"),
        edge("supplier.nation", su, "s_nationkey", n, "n_nationkey"))
        .reduce(_ unionByName _)
        .orderBy(col("fk"))
    },
    Some("""
      SELECT 'customer.nation' AS fk, (SELECT count(*) FROM customer) AS n_child,
             (SELECT count(*) FROM customer c WHERE NOT EXISTS
               (SELECT 1 FROM nation n WHERE c.c_nationkey = n.n_nationkey)) AS n_orphans
      UNION ALL
      SELECT 'lineitem.orders', (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM orders o WHERE l.l_orderkey = o.o_orderkey))
      UNION ALL
      SELECT 'lineitem.part', (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM part p WHERE l.l_partkey = p.p_partkey))
      UNION ALL
      SELECT 'lineitem.supplier', (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
               (SELECT 1 FROM supplier s WHERE l.l_suppkey = s.s_suppkey))
      UNION ALL
      SELECT 'nation.region', (SELECT count(*) FROM nation),
             (SELECT count(*) FROM nation n WHERE NOT EXISTS
               (SELECT 1 FROM region r WHERE n.n_regionkey = r.r_regionkey))
      UNION ALL
      SELECT 'orders.customer', (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orders o WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE o.o_custkey = c.c_custkey))
      UNION ALL
      SELECT 'supplier.nation', (SELECT count(*) FROM supplier),
             (SELECT count(*) FROM supplier s WHERE NOT EXISTS
               (SELECT 1 FROM nation n WHERE s.s_nationkey = n.n_nationkey))
      ORDER BY fk"""))

  /** The custom DataSource V2 generator under the oracle gate: read
    * the whole synthetic table through the connector (planner-visible
    * column pruning + doc_id-range pushdown — see
    * [[graft.sources.DocGenSource]] and DocGenSourceSpec for the plan
    * proofs) and compare it row-for-row against DuckDB generating the
    * identical table from the shared arithmetic. Ignores sfDir — the
    * table IS the source.
    */
  val qDocgenSource = Q(
    "q_docgen_source",
    (s, _) => s.read.format("graft.sources.DocGenSource")
      .option("rows", "1000").load()
      .orderBy(col("doc_id")),
    Some(graft.sources.DocGenSource.oracleSql(1000L)))

  /** TPC-H Q3 shape (shipping-priority: the canonical selective
    * 3-table join → aggregate → top-k) over the harness star schema —
    * the classic OLAP plan the optimizer should get right end to end:
    * the segment-filtered customer list BROADCASTS into orders (a
    * selective semi-reduction before the big join), the date filters
    * push into both scans, revenue sums through exact DECIMAL, and the
    * top-10 is a TakeOrdered, not a full sort of the aggregate.
    */
  val qTpchQ3 = Q(
    "q_tpch_q3",
    (s, d) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(asDouble(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-01'
        AND l_shipdate > TIMESTAMP '1998-06-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    headline = true)

  /** TPC-H Q5 shape (local-supplier volume): the 6-table join with the
    * region→nation dimension chain and the correlation predicate
    * `c_nationkey = s_nationkey` that forces the optimizer to carry
    * BOTH nation keys through the big join. Scale shape: region+nation
    * and supplier broadcast (the chain collapses to a 2-col broadcast
    * list before touching lineitem); lineitem⋈orders and the customer
    * probe are the only shuffles, each on its natural key. The nation
    * filter semi-reduces supplier BEFORE the fact join, so the
    * lineitem rows that survive the broadcast probe already satisfy
    * the region clause — no post-join filter over fact-scale rows.
    */
  val qTpchQ5 = Q(
    "q_tpch_q5",
    (s, d) => {
      val lo = lit("1996-01-01").cast(TimestampType)
      val hi = lit("1997-01-01").cast(TimestampType)
      val n = Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(asDouble(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""),
    headline = true)

  /** TPC-H Q18 shape (large-volume customers): a HAVING-filtered
    * aggregate feeding a join. Scale shape: aggregate lineitem FIRST —
    * one map-side-combined shuffle on l_orderkey shrinks the fact to
    * the ~1.5% of orders over the quantity threshold — then join
    * orders/customer against that small survivor set, instead of the
    * naive join-everything-then-aggregate which would shuffle the full
    * denormalized width. The final top-100 is a TakeOrdered.
    */
  val qTpchQ18 = Q(
    "q_tpch_q18",
    (s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
    Some("""
      WITH big AS (
        SELECT l_orderkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum_qty > 250.0)
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
      FROM big
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""))

  /** TPC-H Q21 shape (waiting supplier): the correlated EXISTS /
    * NOT EXISTS pair over the fact table — which the naive rendition
    * runs as TWO shuffle self-joins on l_orderkey — decorrelated into
    * ONE grouped pass: per order, count distinct suppliers and
    * distinct LATE suppliers; a late (order, supplier) pair qualifies
    * iff the order has ≥2 suppliers and exactly 1 late one (the pair's
    * own supplier — so "no OTHER supplier was late"). "Late" is
    * shipped >90 days after the order date (this schema carries no
    * commit/receipt dates). Scale shape: one lineitem⋈orders join and
    * one l_orderkey aggregation — both on the same key, so AQE can
    * reuse the partitioning — then dim-broadcast and TakeOrdered.
    */
  val qTpchQ21 = Q(
    "q_tpch_q21",
    (s, d) => {
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"))
            .as("late"))
      // per-(order, supplier) first: one composite-key reduction makes
      // both distinct counts plain sums AND yields the late pairs —
      // cheaper than two countDistincts, which plan an expand that
      // doubles the aggregation input. The per-order counts are a
      // WINDOW over the pair relation, not a second aggregate joined
      // back: the join spelling recomputes the whole perSupp branch —
      // including the lineitem⋈orders join — on both sides (Spark
      // shares no subplan across self-join branches; the Q2/Q17
      // lesson, plan-audited to one scan of each table here)
      val perSupp = l.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("late")).as("supp_late"))
      val w = Window.partitionBy(col("l_orderkey"))
      perSupp
        .withColumn("n_supp", count(lit(1)).over(w))
        .withColumn("n_late_supp",
          sum(when(col("supp_late"), 1L).otherwise(0L)).over(w))
        .filter(col("supp_late") && col("n_supp") >= 2 &&
          col("n_late_supp") === 1)
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(20)
    },
    Some("""
      WITH l AS (
        SELECT l_orderkey, l_suppkey,
               l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'),
      per_order AS (
        SELECT l_orderkey
        FROM l GROUP BY l_orderkey
        HAVING count(DISTINCT l_suppkey) >= 2
           AND count(DISTINCT CASE WHEN late THEN l_suppkey END) = 1),
      late1 AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM l WHERE late)
      SELECT s_name, count(*) AS numwait
      FROM late1
      JOIN per_order USING (l_orderkey)
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_name
      ORDER BY numwait DESC, s_name LIMIT 20"""),
    headline = true)

  /** TPC-H Q17 shape (small-quantity revenue): the correlated SCALAR
    * subquery — "lines below 1/5 of their part's average quantity" —
    * decorrelated into a per-part WINDOW aggregate over one lineitem
    * pass. The average never materializes as a float: the predicate
    * `qty < sum/(5·n)` is cross-multiplied to `qty·5·n < sum` in exact
    * DECIMAL, so both engines evaluate the identical integer-exact
    * comparison (an avg() would differ in the last ulp with partial-
    * aggregation order). Scale shape: ONE scan, ONE l_partkey shuffle,
    * window, 1-row final aggregate (plan-audited).
    */
  val qTpchQ17 = Q(
    "q_tpch_q17",
    (s, d) => {
      // the per-part aggregate as a WINDOW, not a groupBy joined back
      // to its own source: Spark shares no subplan between self-join
      // branches, so the join spelling scans lineitem twice and
      // shuffles it once more for the join — the window is one scan
      // and one partkey shuffle (the q_tpch_q2 lesson, plan-audited).
      // RE-MEASURED in optimization r19 under the 64 MB broadcast
      // threshold (AQE converts the unhinted join-back to broadcast at
      // sf0.1): window 0.615 s vs join-back 0.878 s median, 7
      // alternating same-JVM reps — the second scan + aggregate
      // exchange + broadcast build cost more than the one fact
      // exchange they avoid. Window stays.
      val w = Window.partitionBy(col("l_partkey"))
      li(s, d)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .withColumn("sq", sum(dec(col("l_quantity"))).over(w))
        .withColumn("nq", count(lit(1)).over(w))
        .filter(dec(col("l_quantity")) * lit(5) * col("nq") < col("sq"))
        .agg(count(lit(1)).as("n_small"),
          asDouble(sum(dec(col("l_extendedprice")))).as("total_price"))
    },
    Some("""
      WITH pa AS (
        SELECT l_partkey,
               sum(CAST(l_quantity AS DECIMAL(18,4))) AS sq,
               count(*) AS nq
        FROM lineitem GROUP BY l_partkey)
      SELECT count(*) AS n_small,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
      FROM lineitem JOIN pa USING (l_partkey)
      WHERE CAST(l_quantity AS DECIMAL(18,4)) * 5 * nq < sq"""),
    headline = true)

  /** TPC-H Q8 shape (national market share): conditional share of a
    * measure within a filtered market, per year. The share is NEVER a
    * float division: line revenue casts to exact integer
    * ten-thousandths (DECIMAL(38,0)), the conditional and total sums
    * stay integer, and the share rounds to micros with the same
    * `(2a·10⁶+b) div (2b)` integer formula on both engines
    * (DECIMAL(38,0) div in Spark ≡ HUGEINT // in DuckDB — the raking
    * precedent). Scale shape: nation/region collapse to a broadcast
    * customer filter and a broadcast supplier→nation map; lineitem
    * shuffles once to meet orders and once to meet the filtered
    * customers; the share math runs on a years-sized relation.
    */
  val qTpchQ8 = Q(
    "q_tpch_q8",
    (s, d) => {
      val n = Tables.nation(s, d)
      val amer = n.join(Tables.region(s, d).filter(col("r_name") === "AMERICA"),
        col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cnk"))
      val c = Tables.customer(s, d)
        .join(broadcast(amer), col("c_nationkey") === col("cnk"))
        .select(col("c_custkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      val supN = Tables.supplier(s, d)
        .join(broadcast(n.select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          expr("CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0))")
            .as("u4"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_1", col("u4"))
            .otherwise(lit(0))).as("sn"),
          sum(col("u4")).as("tot"))
        .select(col("o_year"),
          expr("""CAST((2 * CAST(sn AS DECIMAL(38,0)) * 1000000 + tot)
                       div (2 * CAST(tot AS DECIMAL(38,0))) AS BIGINT)""")
            .as("share_micros"))
        .orderBy(col("o_year"))
    },
    Some("""
      WITH amer AS (
        SELECT n_nationkey FROM nation
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'AMERICA'),
      li AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               sn.n_name AS supp_nation,
               CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0)) AS u4
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN amer ON c_nationkey = amer.n_nationkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey)
      SELECT o_year,
             CAST((2 * CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN u4 ELSE 0 END) AS HUGEINT) * 1000000
                   + CAST(sum(u4) AS HUGEINT))
                  // (2 * CAST(sum(u4) AS HUGEINT)) AS BIGINT) AS share_micros
      FROM li GROUP BY o_year ORDER BY o_year"""))

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicate): the
    * OR-of-conjunction join condition that stresses predicate
    * normalization — each branch constrains BOTH sides (brand+size on
    * part, quantity on lineitem), so a naive planner evaluates the
    * whole disjunction post-join while a good one extracts the common
    * l_partkey = p_partkey equi-key AND pushes the per-side residuals
    * (the brand/size union prunes the part scan; the quantity envelope
    * prunes lineitem) before the join. Exact-DECIMAL revenue.
    */
  val qTpchQ19 = Q(
    "q_tpch_q19",
    (s, d) => {
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val branch = (brand: String, sizeHi: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === brand &&
          col("p_size").between(1, sizeHi) &&
          col("l_quantity").between(qLo, qHi)
      li(s, d)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey") &&
          (branch("Brand#11", 5, 1, 11) ||
            branch("Brand#22", 10, 10, 20) ||
            branch("Brand#33", 15, 20, 30)))
        .agg(count(lit(1)).as("n_lines"),
          asDouble(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
            .as("revenue"))
    },
    Some("""
      SELECT count(*) AS n_lines,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
         OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)"""))

  /** TPC-H Q22 shape (global-scalar subquery + anti-join): customers
    * with an above-average positive balance and no 1995 order — the
    * third member of the decorrelation triad (Q17 = per-group scalar,
    * Q21 = correlated EXISTS pair, this = GLOBAL scalar + NOT EXISTS).
    * The global average decorrelates into a 1-row broadcast
    * crossJoin and — as everywhere here — never materializes as a
    * float: `bal · n > sum` in exact DECIMAL. The NOT EXISTS is a
    * left-anti join against the year-filtered orders (filter pushed
    * into the scan, so the anti build side is one year's keys, not
    * the fact table).
    */
  val qTpchQ22 = Q(
    "q_tpch_q22",
    (s, d) => {
      val c = Tables.customer(s, d)
      val stats = c.filter(col("c_acctbal") > 0)
        .agg(sum(dec(col("c_acctbal"))).as("tot"), count(lit(1)).as("n"))
      val o95 = ord(s, d).filter(year(col("o_orderdate")) === 1995)
        .select(col("o_custkey"))
      c.crossJoin(broadcast(stats))
        .filter(dec(col("c_acctbal")) * col("n") > col("tot"))
        .join(o95, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_cust"),
          asDouble(sum(dec(col("c_acctbal")))).as("total_bal"))
    },
    Some("""
      WITH s AS (
        SELECT sum(CAST(c_acctbal AS DECIMAL(18,4))) AS tot, count(*) AS n
        FROM customer WHERE c_acctbal > 0)
      SELECT count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
      FROM customer CROSS JOIN s
      WHERE CAST(c_acctbal AS DECIMAL(18,4)) * n > tot
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND year(o_orderdate) = 1995)"""),
    headline = true)

  /** TPC-H Q20 shape (excess capacity): the doubly-nested membership —
    * suppliers IN (pairs whose availability beats a correlated scalar
    * over pairs whose part is IN a name-filtered list) — that
    * completes the decorrelation quad (Q17 per-group scalar, Q21
    * correlated EXISTS pair, Q22 global scalar + anti, this one
    * nested IN + correlated scalar). This schema has no partsupp, so
    * availability proxies as the pair's 1995 shipped quantity and the
    * demand year is 1996; the original's `avail > 0.5·demand` cross-
    * multiplies to `2·q95 > q96` in exact DECIMAL (the Q17 recipe) so
    * both engines compare identical exact values. Decorrelation shape:
    * the inner name-filtered part list broadcasts as a semi-join INTO
    * the fact scan (prunes before any shuffle), both correlated
    * aggregates collapse into ONE (l_partkey, l_suppkey) grouped pass
    * of conditional sums — the only shuffle — and the outer IN becomes
    * a distinct-key semi-join that AQE converts to broadcast when the
    * qualifying set is small; nation is a broadcast semi-join filter.
    */
  val qTpchQ20 = Q(
    "q_tpch_q20",
    (s, d) => {
      val dec0 = dec(lit(0))
      val redParts = Tables.part(s, d).filter(col("p_name").like("red%"))
        .select(col("p_partkey"))
      val qualPairs = li(s, d)
        // the two-year window as a raw shipdate range, not
        // year(...) IN (...): a range on the scan column reaches the
        // parquet reader as PushedFilters (min/max row-group pruning —
        // the difference between reading 2 years and reading all of
        // them at 100 TB); [1995-01-01, 1997-01-01) ≡ year ∈ {1995,96}
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
          year(col("l_shipdate")).as("y"))
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(
          sum(when(col("y") === 1995, dec(col("l_quantity"))).otherwise(dec0))
            .as("q95"),
          sum(when(col("y") === 1996, dec(col("l_quantity"))).otherwise(dec0))
            .as("q96"))
        .filter(col("q95") * 2 > col("q96"))
      val nat = Tables.nation(s, d).filter(col("n_name") === "NATION_3")
        .select(col("n_nationkey"))
      Tables.supplier(s, d)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"),
          "left_semi")
        .join(qualPairs.select(col("l_suppkey")).distinct(),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_name"), col("s_suppkey"))
    },
    Some("""
      WITH ps AS (
        SELECT l_partkey, l_suppkey,
               sum(CASE WHEN year(l_shipdate) = 1995
                        THEN CAST(l_quantity AS DECIMAL(18,4))
                        ELSE CAST(0 AS DECIMAL(18,4)) END) AS q95,
               sum(CASE WHEN year(l_shipdate) = 1996
                        THEN CAST(l_quantity AS DECIMAL(18,4))
                        ELSE CAST(0 AS DECIMAL(18,4)) END) AS q96
        FROM lineitem
        WHERE year(l_shipdate) IN (1995, 1996)
          AND l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'red%')
        GROUP BY l_partkey, l_suppkey)
      SELECT s_suppkey, s_name
      FROM supplier
      WHERE s_nationkey IN (SELECT n_nationkey FROM nation
                            WHERE n_name = 'NATION_3')
        AND s_suppkey IN (SELECT l_suppkey FROM ps WHERE q95 * 2 > q96)
      ORDER BY s_name, s_suppkey"""),
    headline = true)

  /** TPC-H Q15 shape (top supplier, max-over-aggregate): the view-with-
    * MAX pattern — quarterly revenue per supplier, keep the suppliers
    * achieving the maximum (ties kept). The max decorrelates as a
    * 1-row aggregate broadcast-crossJoined back (the Q22 global-scalar
    * pattern — the revenue relation is supplier-sized, but a global
    * window would still funnel it through one partition; the 1-row
    * aggregate reduces map-side). Revenue in exact DECIMAL so the
    * equality against the max is engine-identical.
    */
  val qTpchQ15 = Q(
    "q_tpch_q15",
    (s, d) => {
      // the supplier-sized revenue relation feeds both the 1-row max
      // and the equality filter; cached so the quarter's lineitem scan
      // and aggregation run once, not per branch (r12 scan sweep)
      val rev = graft.ops.Caching.cachedOnce(li(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01")))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("total_revenue")))
      val mx = rev.agg(max(col("total_revenue")).as("m"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("m"))
        .join(broadcast(Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          asDouble(col("total_revenue")).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    Some("""
      WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)))
                 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey),
      mx AS (SELECT max(total_revenue) AS m FROM rev)
      SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      FROM rev JOIN supplier ON l_suppkey = s_suppkey CROSS JOIN mx
      WHERE total_revenue = m
      ORDER BY s_suppkey"""))

  /** TPC-H Q11 shape (grouped sum vs a global-fraction HAVING): parts
    * whose nation-filtered value exceeds 1.1× the average part share —
    * the HAVING-against-a-global-aggregate pattern. The fraction is
    * DATA-DERIVED (`v·n_parts·10 > tot·11` in exact DECIMAL/BIGINT
    * cross-multiplication) because the part universe scales with sf —
    * a fixed fraction is either empty or everything at some scale; the
    * original's 0.0001/SF knob is the same admission. Scale shape: the
    * nation supplier list broadcasts as a semi INTO the fact scan, one
    * partkey aggregation, and the global (total, count) is ONE row
    * crossJoined back — the part-value relation never funnels through
    * a single partition.
    */
  val qTpchQ11 = Q(
    "q_tpch_q11",
    (s, d) => {
      val nat3 = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .filter(col("n_name") === "NATION_3").select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      // the part-value relation feeds both the 1-row global (total,
      // count) and the HAVING filter; cached so the semi-joined
      // lineitem scan and aggregation run once (r12 scan sweep)
      val pv = graft.ops.Caching.cachedOnce(li(s, d)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        .join(broadcast(nat3), col("l_suppkey") === col("s_suppkey"),
          "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("v")))
      val g = pv.agg(sum(col("v")).as("tot"), count(lit(1)).as("np"))
      pv.crossJoin(broadcast(g))
        .filter(col("v") * col("np") * 10 > col("tot") * 11)
        .select(col("l_partkey"), asDouble(col("v")).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    },
    Some("""
      WITH nat3 AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'),
      pv AS (
        SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS v
        FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM nat3)
        GROUP BY l_partkey),
      g AS (SELECT sum(v) AS tot, count(*) AS np FROM pv)
      SELECT l_partkey, CAST(v AS DOUBLE) AS value
      FROM pv CROSS JOIN g
      WHERE v * np * 10 > tot * 11
      ORDER BY value DESC, l_partkey"""))

  /** TPC-H Q14 shape (promo revenue share, one month): conditional
    * share of an exact-DECIMAL measure — revenue as integer
    * ten-thousandths, the share rounded to micros with the same
    * `(2a·10⁶+b) div (2b)` integer formula on both engines (the Q8
    * raking precedent). Scale shape: the one-month shipdate range is
    * a raw pushed scan filter, part broadcasts as a (key, promo-flag)
    * projection, and the whole query is one map-side-combined 1-row
    * aggregate — no shuffle beyond the final reduce.
    */
  val qTpchQ14 = Q(
    "q_tpch_q14",
    (s, d) => {
      li(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-09-01")) &&
          col("l_shipdate") < to_timestamp(lit("1995-10-01")))
        .select(col("l_partkey"),
          expr("CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0))")
            .as("u4"))
        .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), (col("p_type") === "PROMO").as("promo"))),
          col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("promo"), col("u4")).otherwise(lit(0))).as("pr"),
          sum(col("u4")).as("tot"))
        .select(expr(
          """CAST((2 * CAST(pr AS DECIMAL(38,0)) * 1000000 + tot)
                  div (2 * CAST(tot AS DECIMAL(38,0))) AS BIGINT)""")
          .as("promo_share_micros"))
    },
    Some("""
      SELECT CAST((2 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN u4 ELSE 0 END) AS HUGEINT) * 1000000
                   + CAST(sum(u4) AS HUGEINT))
                  // (2 * CAST(sum(u4) AS HUGEINT)) AS BIGINT) AS promo_share_micros
      FROM (SELECT l_partkey,
                   CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) * 10000 AS DECIMAL(38,0)) AS u4
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-09-01'
              AND l_shipdate < TIMESTAMP '1995-10-01')
      JOIN part ON l_partkey = p_partkey"""))

  /** TPC-H Q4 shape (order priority checking): the correlated EXISTS
    * whose predicate references BOTH sides (a lineitem shipped more
    * than 30 days after ITS order's date — this schema's rendition of
    * commit-vs-receipt lateness), decorrelated as a left-semi join
    * with the mixed condition. Scale shape: the quarter filter is a
    * raw pushed range on the orders scan; one orderkey-keyed semi
    * shuffle; the priority aggregation input is the filtered order
    * set, output 5 rows.
    */
  val qTpchQ4 = Q(
    "q_tpch_q4",
    (s, d) => {
      ord(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1995-07-01")) &&
          col("o_orderdate") < to_timestamp(lit("1995-10-01")))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .join(li(s, d).select(col("l_orderkey"), col("l_shipdate")),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-07-01'
        AND o_orderdate < TIMESTAMP '1995-10-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** TPC-H Q16 shape (supplier-part relationship counts): grouped
    * COUNT(DISTINCT) over the (part, supplier) relationship relation
    * with a NOT-IN supplier exclusion — rendered as a left-anti join
    * against the NATION_0 supplier list (this schema has no
    * s_comment; the exclusion list is still a broadcast-sized
    * dimension, and the relationship relation is the distinct
    * (l_partkey, l_suppkey) projection standing in for partsupp).
    * Scale shape: one distinct shuffle on the pair key, broadcast
    * anti + broadcast part filter, then the grouped distinct (the one
    * justified Expand in the TPC-H family — distinct suppliers per
    * cell is the question itself).
    */
  val qTpchQ16 = Q(
    "q_tpch_q16",
    (s, d) => {
      val excl = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .filter(col("n_name") === "NATION_0").select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val parts = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#11" &&
          col("p_size").isin(1, 5, 15, 25, 35, 45))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      li(s, d).select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
    Some("""
      WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      excl AS (SELECT s_suppkey FROM supplier
               JOIN nation ON s_nationkey = n_nationkey
               WHERE n_name = 'NATION_0')
      SELECT p_brand, p_type, p_size,
             CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      FROM ps JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#11' AND p_size IN (1, 5, 15, 25, 35, 45)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM excl)
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""))

  /** TPC-H Q2 shape (min-cost supplier): the correlated scalar MIN
    * whose decorrelation is a per-group min JOINED BACK ON EQUALITY,
    * ties kept — distinct from Q17, where the joined-back aggregate
    * feeds an inequality predicate. No partsupp in this schema, so the
    * (part, supplier) cost relation is each pair's min extended price
    * from lineitem (exact DECIMAL min — order-insensitive, so the
    * equality join-back compares identical exact values on both
    * engines; no float ever materializes). Scale shape: the
    * region→nation→supplier chain collapses to a broadcast key set
    * semi-joined INTO the lineitem scan before the one grouped
    * shuffle; the per-part min reuses the l_partkey key; part filter
    * and supplier enrichment are broadcasts; TakeOrdered top-100.
    */
  val qTpchQ2 = Q(
    "q_tpch_q2",
    (s, d) => {
      val euroSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val ps = li(s, d)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        .join(broadcast(euroSupp.select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(dec(col("l_extendedprice"))).as("cost"))
      val parts = Tables.part(s, d).filter(col("p_size") === 15)
        .select(col("p_partkey"), col("p_name"))
      // per-part min as a WINDOW over the pair relation, not a second
      // aggregate joined back: Spark shares no subplan between the two
      // branches of a self-join, so the aggregate-join spelling scans
      // and aggregates lineitem TWICE (plan-audited); the window keeps
      // one scan, and its partitions are suppliers-per-part — bounded,
      // no skew hazard. min is order-insensitive, so the exact-DECIMAL
      // equality is unaffected.
      ps.withColumn("min_cost",
          min(col("cost")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("cost") === col("min_cost"))
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(euroSupp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), asDouble(col("cost")).as("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
    Some("""
      WITH euro AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'),
      ps AS (
        SELECT l_partkey, l_suppkey,
               min(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost
        FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM euro)
        GROUP BY l_partkey, l_suppkey),
      pm AS (SELECT l_partkey, min(cost) AS min_cost FROM ps GROUP BY l_partkey)
      SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
             CAST(cost AS DOUBLE) AS cost
      FROM ps JOIN pm USING (l_partkey)
      JOIN part ON l_partkey = p_partkey
      JOIN euro ON l_suppkey = s_suppkey
      WHERE cost = min_cost AND p_size = 15
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      LIMIT 100"""),
    headline = true)

  /** TPC-H Q13 shape (customer order-count distribution): the LEFT
    * OUTER join with a predicate INSIDE the ON clause (filter the
    * right side, keep every left row — a WHERE would silently turn
    * the join inner) feeding a double aggregation, zeros included.
    * Decorrelated aggregate-FIRST: the filtered orders collapse to
    * per-customer counts BEFORE meeting customer, so the outer join
    * carries one row per customer per side instead of every order row
    * (the only shuffles are the o_custkey aggregation and the keyed
    * join; the distribution aggregation input is customer-sized and
    * its output is distinct-count-sized). `coalesce(c_count, 0)`
    * reinstates the zero bucket the outer join preserves.
    */
  val qTpchQ13 = Q(
    "q_tpch_q13",
    (s, d) => {
      val oc = ord(s, d)
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("c_count"))
      Tables.customer(s, d).select(col("c_custkey"))
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""
      SELECT c_count, count(*) AS custdist
      FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c_custkey)
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC"""))

  /** §2.9-ext: the DSv2 WRITE path under the oracle gate — aggregate
    * lineitem, write it through graft.sources.PartitionedSink (the
    * stage-then-publish commit protocol, hive-layout partitioned by
    * returnflag), then READ THE LAYOUT BACK and return that. What the
    * oracle checks is therefore the full write→publish→read round trip:
    * a corrupted encoding, a lost partition, a double-published
    * staging file or a leaked zombie row all flip the hash. Commit/
    * abort/exactly-once transitions are pinned in PartitionedSinkSpec.
    */
  val qDsv2Roundtrip = Q(
    "q_dsv2_roundtrip",
    (s, d) => {
      val out = graft.ops.Fs.scratchDir("graft_sink_rt")
      li(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
        .write.format("graft.sources.PartitionedSink")
        .option("partitionBy", "l_returnflag").mode("append").save(out)
      graft.sources.PartitionedSink.readBack(s, out,
        StructType(Seq(
          StructField("l_linestatus", StringType),
          StructField("n", LongType),
          StructField("sum_qty", DoubleType))),
        "l_returnflag")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** One warehouse root per JVM for the catalog-driven dynamic
    * overwrite: the session caches catalog instances by name after
    * first use, so the root must be stable across plan constructions
    * (bench reps); the query DROPs and recreates its table each run,
    * and the root is swept at JVM exit.
    */
  private lazy val dynCatalogRoot = graft.ops.Fs.scratchDir("graft_sink_dyncat")

  /** §2.9-ext: DYNAMIC partition overwrite through the PUBLIC catalog
    * API — the daily-job primitive of a partitioned warehouse
    * (reference: Hive dynamic partitions, load_fct_flights.py:112-116).
    * Day 1 materializes the per-(returnflag, linestatus) aggregate as
    * a catalog table partitioned by returnflag
    * (`writeTo(...).partitionedBy(...).create()` →
    * PartitionedSinkCatalog.createTable + the sink's staged commit);
    * day 2 recomputes ONLY the R partition from a filtered subset and
    * publishes it with `writeTo(...).overwritePartitions()` — the
    * OVERWRITE_DYNAMIC capability end-to-end, unreachable from the V1
    * `.mode("overwrite").save()` bridge (which truncates). The oracle
    * checks the read-back layout equals untouched day-1 partitions ∪
    * the day-2 R recompute — a truncate-instead-of-dynamic bug, a
    * clobbered neighbor partition, or a leaked old R file all flip it.
    */
  val qDsv2Dynamic = Q(
    "q_dsv2_dynamic",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.flags")
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
      agg(li(s, d))
        .writeTo("graft_dyn.flags").partitionedBy(col("l_returnflag")).create()
      agg(li(s, d).filter(col("l_returnflag") === "R" && col("l_quantity") < 25))
        .writeTo("graft_dyn.flags").overwritePartitions()
      graft.sources.PartitionedSink.readBack(s, s"$root/flags",
        StructType(Seq(
          StructField("l_linestatus", StringType),
          StructField("n", LongType),
          StructField("sum_qty", DoubleType))),
        "l_returnflag")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_returnflag <> 'R'
      GROUP BY l_returnflag, l_linestatus
      UNION ALL
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_returnflag = 'R' AND l_quantity < 25
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** §2.9-ext: the catalog READ path — `spark.table` over a
    * PartitionedSinkCatalog table, with the partition-pruning pushdown
    * doing the work: the `IN ('A', 'R')` predicate is consumed by the
    * scan (PartitionedSinkScanBuilder), so the N and R partitions'
    * files contribute zero input splits — at warehouse scale the
    * difference between scanning two days and the whole history. The
    * oracle recomputes the same aggregate from lineitem directly, so a
    * mis-pruned partition (missing or extra) flips row counts.
    */
  val qDsv2CatalogRead = Q(
    "q_dsv2_catalog_read",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.flags_read")
      li(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
        .writeTo("graft_dyn.flags_read")
        .partitionedBy(col("l_returnflag")).create()
      s.table("graft_dyn.flags_read")
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** §2.9-ext: small-file COMPACTION of a catalog table through the
    * table's own dynamic overwrite
    * ([[graft.ops.Compaction.compactSinkTable]]) — the standing
    * maintenance job of a streaming/incremental warehouse: three
    * appends fragment each partition into three files; compaction
    * clusters by the partition column and republishes ONE file per
    * fragmented partition via `overwritePartitions()` (the same
    * all-or-nothing manifest commit as every sink write — no
    * rename-swap race). The oracle checks the read-back aggregate
    * equals 3× the base aggregate: lost rows, duplicated rows, or a
    * clobbered partition all flip it.
    */
  val qDsv2Compact = Q(
    "q_dsv2_compact",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.flags_cmp")
      def agg = li(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
      agg.writeTo("graft_dyn.flags_cmp")
        .partitionedBy(col("l_returnflag")).create()
      agg.writeTo("graft_dyn.flags_cmp").append()
      agg.writeTo("graft_dyn.flags_cmp").append()
      graft.ops.Compaction.compactSinkTable(s, "graft_dyn", "flags_cmp")
      s.table("graft_dyn.flags_cmp")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("n")).as("n3"),
          asDouble(sum(dec(col("sum_qty")))).as("qty3"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus, 3 * count(*) AS n3,
             CAST(3 * sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty3
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** §2.9-ext: TIME TRAVEL on a versioned sink table — version 1 is
    * the full per-(returnflag, linestatus) aggregate; version 2
    * OVERWRITES the R partition with a filtered recompute (the daily
    * correction shape). The query returns `VERSION AS OF 1` read AFTER
    * the overwrite landed: on a versioned table the overwrite retires
    * files logically (nothing is physically deleted until
    * vacuumVersions), so the pre-overwrite snapshot must read back
    * exactly — the oracle is the plain full aggregate, and a snapshot
    * torn by the overwrite (missing the old R files, or leaking the
    * new ones) flips it. Latest-read and vacuum semantics are pinned
    * in PartitionedSinkSpec.
    */
  val qDsv2TimeTravel = Q(
    "q_dsv2_timetravel",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dynv",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dynv.root", root)
      s.conf.set("spark.sql.catalog.graft_dynv.versioned", "true")
      s.sql("DROP TABLE IF EXISTS graft_dynv.flags_tt")
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
      agg(li(s, d))
        .writeTo("graft_dynv.flags_tt")
        .partitionedBy(col("l_returnflag")).create()         // version 1
      agg(li(s, d).filter(col("l_returnflag") === "R" &&
          col("l_quantity") < 25))
        .writeTo("graft_dynv.flags_tt").overwritePartitions() // version 2
      s.read.option("versionAsOf", "1").table("graft_dynv.flags_tt")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** §2.9-ext: TABLE HISTORY of a versioned sink table — DESCRIBE
    * HISTORY re-expressed: one row per retained snapshot with its
    * EXACT row count, summed driver-side from the per-file counts the
    * publish stats manifests record (no data files opened). The
    * oracle recomputes each version's expected cardinality from
    * lineitem — version 1 = the full aggregate's groups, version 2 =
    * the groups surviving the R-partition overwrite — so a manifest
    * that lost a file, double-listed one, or mis-recorded a count
    * flips it.
    */
  val qDsv2History = Q(
    "q_dsv2_history",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dynv",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dynv.root", root)
      s.conf.set("spark.sql.catalog.graft_dynv.versioned", "true")
      s.sql("DROP TABLE IF EXISTS graft_dynv.flags_hist")
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
      agg(li(s, d))
        .writeTo("graft_dynv.flags_hist")
        .partitionedBy(col("l_returnflag")).create()           // v1
      agg(li(s, d).filter(col("l_returnflag") === "R" &&
          col("l_quantity") < 25))
        .writeTo("graft_dynv.flags_hist").overwritePartitions() // v2
      graft.ops.Compaction.tableHistory(s, "graft_dynv", "flags_hist")
        .select(col("version"), col("n_rows"))
        .orderBy(col("version"))
    },
    Some("""
      WITH v1 AS (
        SELECT l_returnflag, l_linestatus FROM lineitem GROUP BY 1, 2),
      v2 AS (
        SELECT l_returnflag, l_linestatus FROM lineitem
        WHERE l_returnflag <> 'R' GROUP BY 1, 2
        UNION ALL
        SELECT l_returnflag, l_linestatus FROM lineitem
        WHERE l_returnflag = 'R' AND l_quantity < 25 GROUP BY 1, 2)
      SELECT 1 AS version, (SELECT count(*) FROM v1) AS n_rows
      UNION ALL
      SELECT 2 AS version, (SELECT count(*) FROM v2) AS n_rows
      ORDER BY version"""))

  /** §2.9-ext: DATA-COLUMN FILE SKIPPING on a sink table — whole files
    * skipped before any footer is opened, via the per-file min/max
    * bounds each version manifest line records. Three appends land orders in
    * DISJOINT total-price bands (three files per partition, each with
    * a tight recorded range); the read filters `o_totalprice > 300k`,
    * which the scan consumes as a file-skip (PartitionedSinkScanBuilder
    * skipFilters) — only the high band's files open; the filter stays
    * residual so skipping can only drop provably-excluded files, never
    * rows. The oracle recomputes from orders directly: a wrongly-
    * skipped file (missing rows) or a mis-kept one contributing
    * phantom rows both flip it. The strictly-fewer-splits effect is
    * pinned plan-level in PartitionedSinkSpec.
    */
  val qDsv2Skip = Q(
    "q_dsv2_skip",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.skip_orders")
      def band(lo: Double, hi: Double) = ord(s, d)
        .filter(col("o_totalprice") >= lo && col("o_totalprice") < hi)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
      band(0, 100000)
        .writeTo("graft_dyn.skip_orders")
        .partitionedBy(col("o_orderpriority")).create()
      band(100000, 200000).writeTo("graft_dyn.skip_orders").append()
      band(200000, Double.MaxValue).writeTo("graft_dyn.skip_orders").append()
      // the STRING comparison rides the same skip machinery (binary
      // UTF-8 against the truncated prefix bounds of SinkStrBounds) —
      // status ranges overlap across the bands here, so it must not
      // skip anything, only never skip WRONGLY; the string-banded
      // fewer-splits effect is pinned plan-level in PartitionedSinkSpec
      s.table("graft_dyn.skip_orders")
        .filter(col("o_totalprice") > 300000.0 &&
          col("o_orderstatus") >= "O")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_totalprice > 300000 AND o_orderstatus >= 'O'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** §2.9-ext: CHANGE FEED between snapshots of a versioned sink table
    * ([[graft.ops.Compaction.tableChanges]]) — version 1 is the full
    * per-(returnflag, linestatus) aggregate, version 2 dynamically
    * OVERWRITES the R partition with a filtered recompute; the feed
    * (1 → 2) must read as DELETE of exactly the old R rows plus INSERT
    * of exactly the new ones, with every other partition absent (its
    * files are in both manifests — the diff is driver-side metadata,
    * and only CHANGED files are ever scanned). This closes the
    * streaming tail's documented append-only caveat: a consumer of a
    * table being rewritten follows this CDC log instead of the file
    * tail. The oracle recomputes both sides from lineitem; a leaked
    * unchanged partition, a missed retirement, or a torn insert set
    * all flip it.
    */
  val qDsv2Changes = Q(
    "q_dsv2_changes",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dynv",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dynv.root", root)
      s.conf.set("spark.sql.catalog.graft_dynv.versioned", "true")
      s.sql("DROP TABLE IF EXISTS graft_dynv.flags_cdc")
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
      agg(li(s, d))
        .writeTo("graft_dynv.flags_cdc")
        .partitionedBy(col("l_returnflag")).create()           // v1
      agg(li(s, d).filter(col("l_returnflag") === "R" &&
          col("l_quantity") < 25))
        .writeTo("graft_dynv.flags_cdc").overwritePartitions() // v2
      graft.ops.Compaction.tableChanges(s, "graft_dynv", "flags_cdc", 1L, 2L)
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          col("_change_type").as("change_type"))
        .orderBy(col("change_type"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             'delete' AS change_type
      FROM lineitem WHERE l_returnflag = 'R'
      GROUP BY l_returnflag, l_linestatus
      UNION ALL
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             'insert' AS change_type
      FROM lineitem WHERE l_returnflag = 'R' AND l_quantity < 25
      GROUP BY l_returnflag, l_linestatus
      ORDER BY change_type, l_linestatus"""))

  /** §2.9-ext: MULTI-LEVEL partitioning through the catalog — the
    * reference lake's own canonical layout is THREE-level hive nesting
    * (`flight_year/flight_month/flight_day`, extract_flights.py:96-99),
    * re-expressed here as a (year, month)-partitioned orders rollup:
    * `partitionedBy(col("o_year"), col("o_month"))` nests directories
    * in declared order, day 2 recomputes exactly ONE (year, month)
    * LEAF via dynamic overwrite (untouched leaves keep their files —
    * pinned byte-level in PartitionedSinkSpec), and the read filters
    * on the INNER column only (`o_month = 3`), which prunes at its own
    * level inside every year subtree — the subset-pruning shape a
    * single-column layout cannot express. The oracle recomputes from
    * orders directly: a mis-nested layout, a clobbered sibling leaf,
    * or an over/under-pruned month all flip it.
    */
  val qDsv2Multipart = Q(
    "q_dsv2_multipart",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.orders_ym")
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("o_year", year(col("o_orderdate")).cast(IntegerType))
        .withColumn("o_month", month(col("o_orderdate")).cast(IntegerType))
        .groupBy(col("o_year"), col("o_month"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
      agg(ord(s, d))
        .writeTo("graft_dyn.orders_ym")
        .partitionedBy(col("o_year"), col("o_month")).create()
      // day 2: one LEAF (1995, March) recomputed from a filtered subset
      agg(ord(s, d).filter(year(col("o_orderdate")) === 1995 &&
          month(col("o_orderdate")) === 3 && col("o_totalprice") < 150000))
        .writeTo("graft_dyn.orders_ym").overwritePartitions()
      s.table("graft_dyn.orders_ym")
        .filter(col("o_month") === 3) // inner-level subset prune
        .select(col("o_year"), col("o_month"), col("o_orderpriority"),
          col("n"), col("sum_price"))
        .orderBy(col("o_year"), col("o_orderpriority"))
    },
    Some("""
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(month(o_orderdate) AS INTEGER) AS o_month,
             o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE month(o_orderdate) = 3
        AND (year(o_orderdate) <> 1995 OR o_totalprice < 150000)
      GROUP BY 1, 2, 3
      ORDER BY o_year, o_orderpriority"""))

  /** §2.9-ext: ROW-LEVEL DELETE through SQL — `DELETE FROM` on a sink
    * table rewrites only the file GROUPS containing matches
    * (group-based copy-on-write via SupportsRowLevelOperations;
    * Catalyst's own RewriteDeleteFromTable plans the ReplaceData, the
    * connector contributes the COW scan + replace commit). The seed is
    * the three-band layout of q_dsv2_skip, so the delete's price
    * band statically SKIPS the low band's files (min/max manifests)
    * and runtime group filtering (`_file` IN matching-files) narrows
    * the rest to files that truly contain matches — at 100 TB the
    * difference between a surgical rewrite and recopying partitions.
    * The oracle recomputes the kept rows from orders: a lost
    * non-matching row in a rewritten file, a resurrected deleted row,
    * or a wrongly-skipped group all flip it. Surgical-rewrite file
    * identity is pinned in RowLevelOpsSpec.
    */
  val qDsv2Delete = Q(
    "q_dsv2_delete",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.del_orders")
      def band(lo: Double, hi: Double) = ord(s, d)
        .filter(col("o_totalprice") >= lo && col("o_totalprice") < hi)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
      band(0, 100000)
        .writeTo("graft_dyn.del_orders")
        .partitionedBy(col("o_orderpriority")).create()
      band(100000, 200000).writeTo("graft_dyn.del_orders").append()
      band(200000, Double.MaxValue).writeTo("graft_dyn.del_orders").append()
      s.sql("""DELETE FROM graft_dyn.del_orders
        WHERE o_totalprice >= 150000 AND o_totalprice < 250000
          AND o_orderstatus = 'F'""")
      s.table("graft_dyn.del_orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE NOT (o_totalprice >= 150000 AND o_totalprice < 250000
                 AND o_orderstatus = 'F')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    headline = true)

  /** §2.9-ext: ROW-LEVEL UPDATE through SQL — same group-based COW
    * machinery as q_dsv2_delete, exercised through
    * RewriteUpdateTable: matching rows rewrite with the SET applied,
    * non-matching rows of the same files are carried unchanged. The
    * update arithmetic is pure IEEE double (+50000), identical on
    * both engines, so the oracle's CASE recompute is bit-exact.
    */
  val qDsv2Update = Q(
    "q_dsv2_update",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.upd_orders")
      ord(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
        .writeTo("graft_dyn.upd_orders")
        .partitionedBy(col("o_orderpriority")).create()
      s.sql("""UPDATE graft_dyn.upd_orders
        SET o_totalprice = o_totalprice + 50000
        WHERE o_orderstatus = 'F' AND o_totalprice < 150000""")
      s.table("graft_dyn.upd_orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(
               CASE WHEN o_orderstatus = 'F' AND o_totalprice < 150000
                    THEN o_totalprice + 50000 ELSE o_totalprice END
               AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** §2.9-ext: MERGE INTO through SQL — the upsert primitive of a
    * warehouse correction job, through RewriteMergeIntoTable's
    * group-based rewrite: target = the sub-150k orders, source = the
    * 100k+ orders at doubled price; ON o_orderkey, matched rows take
    * the source price, unmatched source rows INSERT. The overlap band
    * [100k, 150k) exercises matched-update, (..100k) carry-through,
    * and [150k..) pure insert — per-priority totals recomputed from
    * orders by the oracle's CASE. (The dedicated upsert/SCD2 operators
    * q_upsert / q_scd2_merge are the DataFrame renditions of this
    * shape; this is the SQL MERGE surface on the engine's own table
    * format.)
    */
  val qDsv2Merge = Q(
    "q_dsv2_merge",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.mrg_orders")
      ord(s, d)
        .filter(col("o_totalprice") < 150000)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
        .writeTo("graft_dyn.mrg_orders")
        .partitionedBy(col("o_orderpriority")).create()
      ord(s, d)
        .filter(col("o_totalprice") >= 100000)
        .select(col("o_orderkey"),
          (col("o_totalprice") * 2).as("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
        .createOrReplaceTempView("mrg_src")
      s.sql("""MERGE INTO graft_dyn.mrg_orders t USING mrg_src s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
        WHEN NOT MATCHED THEN INSERT *""")
      s.table("graft_dyn.mrg_orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(
               CASE WHEN o_totalprice >= 100000 THEN o_totalprice * 2
                    ELSE o_totalprice END
               AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** §2.9-ext: BLOOM-FILTER file skipping on a sink table — the point-
    * lookup pruning min/max ranges cannot give: the three appends
    * interleave o_orderkey by residue (mod 3), so every file's
    * [min, max] spans the whole key domain and range skipping keeps
    * all of them, while the per-file Bloom filters (the table's
    * `graft.bloomColumns = 'o_orderkey'`, set at CREATE and written
    * into bloom blobs at commit) prove two of three files free of
    * each probed key. Bloom false positives only ever SCAN a file;
    * false negatives are impossible — so the oracle (the same keys
    * straight from orders) catches any wrongly-skipped file as a
    * missing row. Fewer-splits, string-column, overflow-degrade and
    * off-by-default pins live in BloomSkipSpec.
    */
  val qDsv2Bloom = Q(
    "q_dsv2_bloom",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.bloom_orders")
      def residue(r: Int) = ord(s, d)
        .filter(pmod(col("o_orderkey"), lit(3)) === r)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
      residue(0)
        .writeTo("graft_dyn.bloom_orders")
        .tableProperty(graft.sources.SinkBloomConf.PropColumns, "o_orderkey")
        .partitionedBy(col("o_orderpriority")).create()
      residue(1).writeTo("graft_dyn.bloom_orders").append()
      residue(2).writeTo("graft_dyn.bloom_orders").append()
      s.table("graft_dyn.bloom_orders")
        .filter(col("o_orderkey").isin(7L, 1234L, 9876L))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey IN (7, 1234, 9876)
      ORDER BY o_orderkey"""))

  /** §2.9-ext: STREAMING CHANGE FEED over a versioned sink table
    * (`graft.sources.SinkChangeFeed`) — the first oracle-gated
    * STREAMING entry in the registry: the query creates a versioned
    * table (v1), dynamically overwrites its R partition (v2), then
    * TAILS the commit log through readStream (offsets = version
    * numbers; each micro-batch is a manifest diff, so the overwrite
    * arrives as delete+insert of exactly the rewritten partition —
    * the CDC semantics the append-only file tail cannot express) into
    * a memory sink and returns the collected feed. The oracle
    * recomputes all three transitions from lineitem with their
    * version stamps; replay/resume and startingVersion semantics are
    * pinned in SinkChangeFeedSpec.
    */
  val qDsv2CdcStream = Q(
    "q_dsv2_cdc_stream",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dynv",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dynv.root", root)
      s.conf.set("spark.sql.catalog.graft_dynv.versioned", "true")
      s.sql("DROP TABLE IF EXISTS graft_dynv.flags_cdcs")
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
      agg(li(s, d))
        .writeTo("graft_dynv.flags_cdcs")
        .partitionedBy(col("l_returnflag")).create()            // v1
      agg(li(s, d).filter(col("l_returnflag") === "R" &&
          col("l_quantity") < 25))
        .writeTo("graft_dynv.flags_cdcs").overwritePartitions() // v2
      // fresh memory sink + checkpoint per invocation (a reused
      // checkpoint would correctly resume and emit nothing — replay
      // semantics are pinned in the spec, not re-tested here)
      s.catalog.dropTempView("cdc_stream_sink")
      val q = s.readStream
        .format("graft.sources.SinkChangeFeed")
        .option("path", s"$root/flags_cdcs")
        .load()
        .writeStream.format("memory").queryName("cdc_stream_sink")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("cdc_gate_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table("cdc_stream_sink")
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"))
        .orderBy(col("commit_version"), col("change_type"),
          col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      UNION ALL
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             'delete' AS change_type, CAST(2 AS BIGINT) AS commit_version
      FROM lineitem WHERE l_returnflag = 'R'
      GROUP BY l_returnflag, l_linestatus
      UNION ALL
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             'insert' AS change_type, CAST(2 AS BIGINT) AS commit_version
      FROM lineitem WHERE l_returnflag = 'R' AND l_quantity < 25
      GROUP BY l_returnflag, l_linestatus
      ORDER BY commit_version, change_type, l_returnflag, l_linestatus"""))

  /** §2.9-ext: MERGE-ON-READ row-level DELETE (`graft.deleteMode =
    * 'mor'`) — the same three-band seed and predicate as q_dsv2_delete,
    * but the commit writes a POSITION-DELETE manifest instead of
    * rewriting any file group (Spark's delta-based row-level API;
    * deleted rows are identified by their (_file, _pos) row identity
    * and anti-filtered at scan time). Same oracle as the COW
    * rendition — the two strategies must agree on WHAT is deleted and
    * differ only in HOW it's persisted; the O(1)-bytes write pin and
    * the fold-on-compact semantics live in RowLevelOpsSpec.
    */
  val qDsv2DeleteMor = Q(
    "q_dsv2_delete_mor",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.delm_orders")
      def band(lo: Double, hi: Double) = ord(s, d)
        .filter(col("o_totalprice") >= lo && col("o_totalprice") < hi)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
      band(0, 100000)
        .writeTo("graft_dyn.delm_orders")
        .tableProperty("graft.deleteMode", "mor")
        .partitionedBy(col("o_orderpriority")).create()
      band(100000, 200000).writeTo("graft_dyn.delm_orders").append()
      band(200000, Double.MaxValue).writeTo("graft_dyn.delm_orders").append()
      s.sql("""DELETE FROM graft_dyn.delm_orders
        WHERE o_totalprice >= 150000 AND o_totalprice < 250000
          AND o_orderstatus = 'F'""")
      s.table("graft_dyn.delm_orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE NOT (o_totalprice >= 150000 AND o_totalprice < 250000
                 AND o_orderstatus = 'F')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    headline = true)

  /** §2.9-ext: ROW-GRAIN CDC (`graft.rowChanges`) — COW row-level
    * commits persist their exact change rows (multiset diff of the
    * replaced groups vs the fresh files, written between the replace's
    * rename and CAS halves and linked by a manifest header), and the
    * change feed emits those instead of the file-grain diff: the
    * DELETE below streams exactly its matched rows (not the rewritten
    * files' thousands), the UPDATE streams update_preimage /
    * update_postimage pairs. The arithmetic (+1000) is pure IEEE
    * double, bit-identical on both engines.
    */
  val qDsv2CdcRows = Q(
    "q_dsv2_cdc_rows",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dynv",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dynv.root", root)
      s.conf.set("spark.sql.catalog.graft_dynv.versioned", "true")
      s.sql("DROP TABLE IF EXISTS graft_dynv.cdcr_orders")
      ord(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
        .writeTo("graft_dynv.cdcr_orders")
        .tableProperty("graft.rowChanges", "true")
        .partitionedBy(col("o_orderpriority")).create()            // v1
      s.sql("DELETE FROM graft_dynv.cdcr_orders WHERE o_orderkey % 100 = 7") // v2
      s.sql("""UPDATE graft_dynv.cdcr_orders
        SET o_totalprice = o_totalprice + 1000
        WHERE o_orderkey % 100 = 11""")                             // v3
      // endingVersion defaults to LATEST: on real input the three
      // commits above always land (v3); on an EMPTY seed the DELETE
      // and UPDATE match nothing, commit nothing, and the feed of
      // (1, latest=1] is a schema-correct empty frame, not an error
      s.read.format("graft.sources.SinkChangeFeed")
        .option("path", s"$root/cdcr_orders")
        .option("startingVersion", "1")
        .load()
        .select(col("o_orderkey"), col("o_totalprice"),
          col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"))
        .orderBy(col("commit_version"), col("change_type"),
          col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_totalprice, 'delete' AS change_type,
             CAST(2 AS BIGINT) AS commit_version
      FROM orders WHERE o_orderkey % 100 = 7
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'update_preimage', 3
      FROM orders WHERE o_orderkey % 100 = 11
      UNION ALL
      SELECT o_orderkey, o_totalprice + 1000, 'update_postimage', 3
      FROM orders WHERE o_orderkey % 100 = 11
      ORDER BY commit_version, change_type, o_orderkey"""))

  /** §2.9-ext: SCHEMA EVOLUTION on a parquet-format table — RENAME
    * COLUMN keeps the column's FIELD ID, so files written before the
    * rename resolve through it; DROP COLUMN retires an id that is
    * never reused. The query renames mid-life (half the rows written
    * under each name), drops an unrelated column, and aggregates
    * across both generations of files — a broken id mapping loses the
    * pre-rename half or transposes columns, flipping the oracle.
    */
  val qDsv2Evolve = Q(
    "q_dsv2_evolve",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.evo_orders")
      ord(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
        .writeTo("graft_dyn.evo_orders")
        .partitionedBy(col("o_orderpriority")).create()
      s.sql("ALTER TABLE graft_dyn.evo_orders RENAME COLUMN o_totalprice TO price")
      ord(s, d).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice").as("price"),
          col("o_orderstatus"), col("o_orderpriority"))
        .writeTo("graft_dyn.evo_orders").append()
      s.sql("ALTER TABLE graft_dyn.evo_orders DROP COLUMN o_orderstatus")
      s.table("graft_dyn.evo_orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("price")))).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** §2.9-ext: TYPE-WIDENING schema evolution — `ALTER COLUMN ... TYPE
    * BIGINT` on a parquet table whose files were written as INT32:
    * readers resolve by field id and decode-cast old files, so the
    * aggregate spans both generations with no rewrite. A growing
    * table's int key overflowing into long is the first widening a
    * real lake hits; narrows and partition columns keep rejecting
    * loudly (spec-pinned).
    */
  val qDsv2Widen = Q(
    "q_dsv2_widen",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.wid_orders")
      def half(parity: Int) = ord(s, d)
        .filter(col("o_orderkey") % 2 === parity)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast(IntegerType).as("o_year"),
          col("o_totalprice").cast(FloatType).as("price_f"),
          col("o_orderpriority"))
      half(0)
        .writeTo("graft_dyn.wid_orders")
        .partitionedBy(col("o_orderpriority")).create()
      s.sql("ALTER TABLE graft_dyn.wid_orders ALTER COLUMN o_year TYPE BIGINT")
      s.sql("ALTER TABLE graft_dyn.wid_orders ALTER COLUMN price_f TYPE DOUBLE")
      half(1)
        .select(col("o_orderkey"), col("o_year").cast(LongType),
          col("price_f").cast(DoubleType), col("o_orderpriority"))
        .writeTo("graft_dyn.wid_orders").append()
      // the aggregate spans pre-widen (INT32/FLOAT files) and
      // post-widen (INT64/DOUBLE files) generations: the LONG sum
      // proves int-file values decode into the widened column; the
      // float-widened doubles pin via min/max (IEEE widening is exact
      // and order-free, so both engines hold identical bits — a
      // decimal-cast SUM would instead diverge on rounding-tie
      // semantics for float-granular values)
      s.table("graft_dyn.wid_orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_year")).as("sum_year"),
          min(col("price_f")).as("min_price"),
          max(col("price_f")).as("max_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(year(o_orderdate) AS BIGINT)) AS BIGINT) AS sum_year,
             CAST(min(CAST(o_totalprice AS FLOAT)) AS DOUBLE) AS min_price,
             CAST(max(CAST(o_totalprice AS FLOAT)) AS DOUBLE) AS max_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** §2.9-ext: BINARY data columns on a parquet sink table — the
    * multimodal payload shape (opaque bytes under typed metadata):
    * write UTF-8 renderings of comments as BLOBs, read back length
    * and per-priority totals. Stats/bloom manifests never record the
    * binary column (skipping bytes by min/max is meaningless —
    * spec-pinned), and a binary column can never partition.
    */
  val qDsv2Binary = Q(
    "q_dsv2_binary",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.bin_orders")
      ord(s, d)
        .select(col("o_orderkey"),
          encode(concat(col("o_orderstatus"), lit("-"),
            col("o_orderkey").cast(StringType), lit("-"),
            col("o_orderpriority")), "UTF-8").as("payload"),
          col("o_orderpriority"))
        .writeTo("graft_dyn.bin_orders")
        .partitionedBy(col("o_orderpriority")).create()
      s.table("graft_dyn.bin_orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("payload"))).as("total_bytes"),
          count(when(length(col("payload")) > 18, lit(1))).as("long_payloads"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(octet_length(encode(
               o_orderstatus || '-' || CAST(o_orderkey AS VARCHAR) || '-'
               || o_orderpriority))) AS BIGINT) AS total_bytes,
             count(CASE WHEN octet_length(encode(
               o_orderstatus || '-' || CAST(o_orderkey AS VARCHAR) || '-'
               || o_orderpriority)) > 18 THEN 1 END) AS long_payloads
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** §2.9-ext: METADATA-ONLY AGGREGATE PUSHDOWN — a filterless
    * COUNT(*)/MIN/MAX over a sink table answers from the publish
    * manifests as a one-row driver-side LocalScan (exact per-file row
    * counts, exact numeric bounds; zero data splits planned). At
    * warehouse scale this is `count(*)` over a petabyte as a metadata
    * read. The oracle recomputes from raw orders; the LocalScan plan
    * shape, zero-chunk-bytes pin and every exactness-gate fallback
    * (filters / MOR deletes / string bounds / NaN stats) live in
    * SinkAggPushdownSpec.
    */
  val qDsv2AggPush = Q(
    "q_dsv2_agg_push",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.agg_orders")
      ord(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .writeTo("graft_dyn.agg_orders")
        .partitionedBy(col("o_orderpriority")).create()
      // grouped rendition: GROUP BY a partition column also answers
      // from the manifests (per-leaf counts/bounds) — the rollup a
      // partitioned table exists to serve
      s.table("graft_dyn.agg_orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             CAST(min(o_totalprice) AS DOUBLE) AS min_price,
             CAST(max(o_totalprice) AS DOUBLE) AS max_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** §2.9-ext: DYNAMIC PARTITION PRUNING on a sink table
    * (`SupportsRuntimeV2Filtering`): a fact partitioned on the join
    * key, joined to a dimension whose FILTER decides which partitions
    * matter — static pushdown can't see through the join, so the dim
    * side runs first and delivers the surviving keys to the scan,
    * which drops whole partitions before a fact byte is read. The
    * 100 TB star-join shape; file-skip observability and the
    * LIMIT-interplay opt-out are pinned in SinkDppSpec.
    */
  val qDsv2Dpp = Q(
    "q_dsv2_dpp",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.dpp_orders")
      ord(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
        .writeTo("graft_dyn.dpp_orders")
        .partitionedBy(col("o_orderpriority")).create()
      // parquet-backed dim with a selective predicate (a local
      // relation's filter would constant-fold away before the DPP
      // rule looks for it)
      val dim = ord(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
        .select(col("o_orderpriority").as("prio")).distinct()
      s.table("graft_dyn.dpp_orders")
        .join(dim, col("o_orderpriority") === col("prio"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o.o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders o
      JOIN (SELECT DISTINCT o_orderpriority AS prio FROM orders
            WHERE o_orderpriority IN ('1-URGENT','3-MEDIUM')) p
        ON o.o_orderpriority = p.prio
      GROUP BY o.o_orderpriority
      ORDER BY o.o_orderpriority"""),
    headline = true)

  /** §2.9-ext: SORT-ORDER CLUSTERING (`graft.sortOrder` +
    * `compact(recluster => true)`): three interleaved appends leave
    * every file spanning the whole key domain (min/max skipping
    * useless); the table THEN gains a sort order via ALTER — the
    * legacy-table-adopts-clustering story — and the recluster pass
    * range-redistributes on (partition, key) so files carve disjoint
    * key ranges and the subsequent range scan opens a fraction of the
    * table. Partitioning burns one low-cardinality column —
    * clustering is what makes every OTHER selective predicate cheap
    * at 100 TB. Disjointness and file-skip pins live in
    * SinkClusterSpec.
    */
  val qDsv2Cluster = Q(
    "q_dsv2_cluster",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.clus_orders")
      def residue(r: Int) = ord(s, d)
        .filter(pmod(col("o_orderkey"), lit(3)) === r)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
      // seed UNSORTED (plain appends, no range exchange), then adopt
      // the order — existing data reclusters in ONE maintenance pass
      residue(0)
        .writeTo("graft_dyn.clus_orders")
        .partitionedBy(col("o_orderpriority")).create()
      residue(1).writeTo("graft_dyn.clus_orders").append()
      residue(2).writeTo("graft_dyn.clus_orders").append()
      s.sql("""ALTER TABLE graft_dyn.clus_orders
        SET TBLPROPERTIES ('graft.sortOrder' = 'o_orderkey')""")
      s.sql("CALL graft_dyn.compact(table => 'clus_orders', recluster => true)")
      s.table("graft_dyn.clus_orders")
        .filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 3000)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE o_orderkey >= 1000 AND o_orderkey < 3000
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    headline = true)

  /** §2.9-ext: NESTED column types (struct / array / array-of-struct)
    * on a parquet sink table — typed payload records and list columns
    * (the embedding/token shapes) living inside the versioned table
    * format: write nested values derived from orders, read them back
    * through the sink's field-id-resolving reader, aggregate over
    * nested FIELD ACCESS and array elements. Roundtrip/null/evolution
    * pins live in SinkNestedSpec.
    */
  val qDsv2Nested = Q(
    "q_dsv2_nested",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.nest_orders")
      ord(s, d)
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("st"),
            col("o_totalprice").as("price")).as("info"),
          array(pmod(col("o_orderkey"), lit(7)),
            pmod(col("o_orderkey"), lit(11))).as("res"),
          col("o_orderpriority"))
        .writeTo("graft_dyn.nest_orders")
        .partitionedBy(col("o_orderpriority")).create()
      s.table("graft_dyn.nest_orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("info.price")))).as("sum_price"),
          sum(element_at(col("res"), 1) + element_at(col("res"), 2))
            .as("sum_res"),
          count(when(col("info.st") === "F", lit(1))).as("n_f"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             CAST(sum(o_orderkey % 7 + o_orderkey % 11) AS BIGINT) AS sum_res,
             count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""))

  /** §2.9-ext: STORAGE-PARTITIONED JOIN (`SupportsReportPartitioning` →
    * KeyGroupedPartitioning + per-split HasPartitionKey): two sink
    * tables co-partitioned on the same column join with ZERO shuffle —
    * each side's layout already clusters rows by the key, so the join's
    * distribution requirement is satisfied at the scan and only the
    * within-group sorts run. The `merge` hint pins a sort-merge plan so
    * co-partitioning (not a broadcast) is what carries the join — the
    * fact-⋈-fact shape where NEITHER side broadcasts at 100 TB and a
    * keyed shuffle of either would be the job's whole cost.
    * Zero-exchange pins live in PartitionedSinkSpec (equi-join on the
    * partition column) and SinkSpjSpec (this compound-key shape).
    */
  val qDsv2Spj = Q(
    "q_dsv2_spj",
    (s, d) => {
      val root = dynCatalogRoot
      s.conf.set("spark.sql.catalog.graft_dyn",
        classOf[graft.sources.PartitionedSinkCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_dyn.root", root)
      s.sql("DROP TABLE IF EXISTS graft_dyn.spj_facts")
      s.sql("DROP TABLE IF EXISTS graft_dyn.spj_status")
      ord(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .writeTo("graft_dyn.spj_facts")
        .partitionedBy(col("o_orderpriority")).create()
      ord(s, d)
        .select(col("o_orderkey").as("r_orderkey"), col("o_orderstatus"),
          col("o_orderpriority").as("r_prio"))
        .writeTo("graft_dyn.spj_status")
        .partitionedBy(col("r_prio")).create()
      val l = s.table("graft_dyn.spj_facts")
      val r = s.table("graft_dyn.spj_status")
        .filter(col("o_orderstatus") === "F")
      l.join(r.hint("merge"),
          col("o_orderpriority") === col("r_prio") &&
            col("o_orderkey") === col("r_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM orders
      WHERE o_orderstatus = 'F'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    headline = true)

  /** TPC-H Q6 shape (forecast revenue change): the pure single-table
    * scan-aggregate — every predicate (shipdate range, discount band,
    * quantity cap) is a pushable scan filter and the whole query is
    * one map-side-combined 1-row aggregate with NO join and NO
    * grouped shuffle. At 100 TB this is the query whose entire cost
    * is I/O: the date range prunes row groups via parquet min/max and
    * the projection reads 4 of 11 columns. Exact-DECIMAL sum.
    */
  val qTpchQ6 = Q(
    "q_tpch_q6",
    (s, d) => li(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(asDouble(sum(dec(col("l_extendedprice") * col("l_discount"))))
        .as("revenue")),
    Some("""
      SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount >= 0.05 AND l_discount <= 0.07
        AND l_quantity < 24"""),
    headline = true)

  /** TPC-H Q7 shape (volume shipping between two nations): the
    * symmetric-pair predicate `(s=A ∧ c=B) ∨ (s=B ∧ c=A)`, decomposed
    * as its semi-reduction form: BOTH sides pre-filter to the
    * two-nation universe (so the fact rows of 23/25 nations never
    * enter the join) and the disjunction collapses to the residual
    * `supp_nation <> cust_nation` applied post-join. Scale shape: the
    * two-nation supplier list broadcasts INTO the lineitem scan
    * before the one lineitem⋈orders shuffle; customer stays a keyed
    * shuffle join (customer does not broadcast at 100 TB — the
    * nation filter is carried as a projection, not a collect).
    */
  val qTpchQ7 = Q(
    "q_tpch_q7",
    (s, d) => {
      val nats = Tables.nation(s, d)
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey"), col("n_name"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(nats), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Tables.customer(s, d)
        .join(broadcast(nats), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      li(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(asDouble(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")))))
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    Some("""
      SELECT supp_nation, cust_nation, l_year,
             CAST(sum(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   l_extendedprice * (1.0 - l_discount) AS volume
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name IN ('NATION_1', 'NATION_2')
              AND n2.n_name IN ('NATION_1', 'NATION_2')
              AND n1.n_name <> n2.n_name
              AND l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01')
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year"""),
    headline = true)

  /** TPC-H Q9 shape (product-type profit): the widest join tree in
    * the family — part (infix-LIKE filtered), supplier→nation,
    * orders, all hanging off lineitem — grouped by nation × order
    * year. No partsupp in this schema, so supply cost proxies as
    * `p_retailprice · 0.1 · l_quantity` (per-unit cost a fixed
    * fraction of list price; the profit expression keeps the
    * original's revenue-minus-cost form and stays a per-row double
    * computed identically on both engines before the exact-DECIMAL
    * sum). Scale shape: the `%gear%` name filter is pushed to the
    * part scan (StringContains — plan-audited in PlanAuditSpec), the
    * filtered part list and the supplier→nation map broadcast INTO
    * the fact scan, and lineitem⋈orders is the single big shuffle.
    * The part-side collapses FIRST, so only ~13 % of fact rows reach
    * the join — the join-order decision the optimizer must get right
    * when nothing but lineitem is fact-sized.
    */
  val qTpchQ9 = Q(
    "q_tpch_q9",
    (s, d) => {
      val gearParts = Tables.part(s, d)
        .filter(col("p_name").like("%gear%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val supNation = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      li(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(gearParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
        .join(ord(s, d).select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), col("o_year"))
        .agg(asDouble(sum(dec(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            col("p_retailprice") * lit(0.1) * col("l_quantity"))))
          .as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
    Some("""
      SELECT nation, o_year,
             CAST(sum(CAST(amount AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
      FROM (SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   l_extendedprice * (1.0 - l_discount)
                     - p_retailprice * 0.1 * l_quantity AS amount
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%gear%')
      GROUP BY nation, o_year
      ORDER BY nation, o_year DESC"""),
    headline = true)

  /** TPC-H Q10 shape (returned-item reporting): filtered join +
    * customer-grained aggregate + top-20 — the "who cost us money
    * last quarter" report. Scale shape: both fact filters (quarter on
    * orders, returnflag on lineitem) are pushed scan predicates, the
    * aggregate collapses to customer grain BEFORE the enrichment
    * joins would widen it, nation broadcasts, and the top-20 is a
    * TakeOrdered — never a full sort of the customer universe.
    */
  val qTpchQ10 = Q(
    "q_tpch_q10",
    (s, d) => {
      val o = ord(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01")))
        .select(col("o_orderkey"), col("o_custkey"))
      val rev = li(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("rev"))
      rev
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"),
          asDouble(col("rev")).as("revenue"), col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""
      SELECT c_custkey, c_name,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             c_acctbal, n_name
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-04-01'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20"""),
    headline = true)

  /** TPC-H Q12 shape (shipping-mode priority counts): the two-bucket
    * conditional aggregation over a lateness join. This schema has no
    * l_shipmode/commitdate/receiptdate, so the mode dimension proxies
    * as the A/N returnflag classes and "received late" as shipped
    * ≥ 90 days after the order date (the Q4 lateness rendition, wider
    * lag). Scale shape: year range + flag both push into the lineitem
    * scan, one orderkey-keyed shuffle join, and the CASE'd counts are
    * a 2-row map-side-combined aggregate — the conditional-aggregation
    * pattern where one pass answers both priority classes (never two
    * filtered scans).
    */
  val qTpchQ12 = Q(
    "q_tpch_q12",
    (s, d) => {
      val highPri = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li(s, d)
        .filter(col("l_returnflag").isin("A", "N") &&
          col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
        .join(ord(s, d).select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAY"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(when(highPri, lit(1))).as("high_line_count"),
          count(when(!highPri, lit(1))).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 END) AS high_line_count,
             count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 END) AS low_line_count
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag IN ('A', 'N')
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))

  val all: Seq[Q] = Seq(
    q1Agg, qProjFilter, qSmartDateKey, qJoinDimTwice, qJoinLeft, qJoinAnti,
    qExcept, qUnionByName, qDropDup, qSurrogateKey, qDateDim, qUnpivot,
    qNullCanon, qCoalesce, qScalarSuite, qTopK, qOffset, qDropNa, qStarJoin,
    qSetOpsAll, qSaltedJoin, qScd2Merge, qZorder, qUnionEvolve, qUpsert,
    qPitJoin, qTableDiff, qFkAudit, qDocgenSource, qTpchQ3, qTpchQ5,
    qTpchQ18, qTpchQ21, qTpchQ17, qTpchQ8, qTpchQ19, qTpchQ22, qTpchQ20,
    qTpchQ13, qTpchQ2, qTpchQ14, qTpchQ4, qTpchQ16, qTpchQ15, qTpchQ11,
    qTpchQ6, qTpchQ7, qTpchQ9, qTpchQ10, qTpchQ12, qDsv2Roundtrip,
    qDsv2Dynamic, qDsv2CatalogRead, qDsv2Compact, qDsv2Skip, qDsv2TimeTravel,
    qDsv2History, qDsv2Multipart, qDsv2Changes, qDsv2Delete, qDsv2Update,
    qDsv2Merge, qDsv2Bloom, qDsv2CdcStream, qDsv2DeleteMor, qDsv2CdcRows,
    qDsv2Evolve, qDsv2Widen, qDsv2Binary, qDsv2AggPush, qDsv2Dpp,
    qDsv2Cluster, qDsv2Nested, qDsv2Spj)
}
