package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The incremental-idempotency primitive of the reference pipeline.
  *
  * Every append first diffs the candidate batch against what the target
  * partition already holds (reference: extract_flights.py:87;
  * load_dim_dates.py:35; load_fct_flights.py:105), so re-running a day
  * appends zero rows. `Dataset.except` is EXCEPT DISTINCT and resolves
  * columns POSITIONALLY — the reference reorders columns by hand before
  * every subtract (reference: load_fct_flights.py:92-100). We centralize
  * that here so column order can never silently drift.
  */
object IncrementalOps {

  /** `batch EXCEPT DISTINCT alreadyLoaded`, with both sides first
    * normalized to `alreadyLoaded`'s column order (by NAME, then applied
    * positionally — the safe rendition of the reference's manual reorder).
    *
    * NOTE (EXCEPT DISTINCT): duplicate rows inside `batch` are collapsed
    * by this path; they survive only on a first-ever write that skips the
    * diff (reference: extract_flights.py:87-92). Tests cover both branches.
    */
  def exceptNew(batch: DataFrame, alreadyLoaded: DataFrame): DataFrame = {
    val ordered = alreadyLoaded.columns.map(col).toSeq
    batch.select(ordered: _*).except(alreadyLoaded.select(ordered: _*))
  }

  /** True when the two frames hold the same row multiset — the *fixed*
    * rendition of the reference's dead object-identity comparison
    * (reference: load_dim_aircrafts.py:126, load_dim_airports.py:54,
    * always-false `==` on DataFrame objects). Used to skip dim rewrites.
    *
    * One Spark action: rows of `a` count +1, rows of `b` count −1, and a
    * group-by over every column keeps the rows whose counts do not
    * cancel. Grouping treats NULLs as equal and normalises NaN and -0.0,
    * the same row equality EXCEPT ALL uses, so this is exact multiset
    * equality (NULL and "" stay distinct).
    */
  def sameContent(a: DataFrame, b: DataFrame): Boolean = {
    import org.apache.spark.sql.functions.{lit, sum}
    val ordered = a.columns.sorted.map(col).toSeq
    val tag = "__same_content_tag"
    val x = a.select(ordered :+ lit(1L).as(tag): _*)
    val y = b.select(ordered :+ lit(-1L).as(tag): _*)
    x.union(y).groupBy(ordered: _*).agg(sum(col(tag)).as(tag))
      .filter(col(tag) =!= 0L).isEmpty
  }

  /** A SHA-256 (hex) over everything `df`'s rows are computed from, or
    * None when the plan alone cannot tell that. Two frames with equal
    * fingerprints hold equal rows, so a stored result recorded with a
    * fingerprint need not be recomputed while the fingerprint holds.
    *
    * Hashed, with no Spark job: the Spark version; `df`'s schema (the
    * canonical form below erases column names); the analyzed plan's
    * canonicalized tree string, every field of every node and expression
    * printed (`maxFields = Int.MaxValue`), so two plans with the same logic give the same text
    * across sessions; and for each leaf, the data the text leaves out:
    *   - a `HadoopFsRelation` (a file scan): its options and the (path,
    *     length, mtime) of the files its own file index holds — the
    *     files the scan reads, not a fresh listing;
    *   - a `LocalRelation`: its rows;
    *   - a `Range`: nothing beyond the plan text.
    * Any other leaf (an RDD, a V2 scan, a streaming source), a
    * nondeterministic expression, a current-time expression or a
    * user-defined function (its code is not in the text) gives None.
    */
  def fingerprint(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UserDefinedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, Range}
    import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    import org.apache.spark.sql.internal.SQLConf
    val plan = df.queryExecution.analyzed
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(bytes: Array[Byte]): Unit = {
      md.update(java.nio.ByteBuffer.allocate(4).putInt(bytes.length).array())
      md.update(bytes)
    }
    def putStr(s: String): Unit = put(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val opaque = plan.collectWithSubqueries { case p => p.expressions }.flatten.exists(e =>
      !e.deterministic || e.containsPattern(CURRENT_LIKE) ||
        e.exists(_.isInstanceOf[UserDefinedExpression]))
    val leavesHashed = !opaque && plan.collectWithSubqueries { case l: LeafNode => l }.forall {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location match {
        case index: PartitioningAwareFileIndex =>
          r.options.toSeq.sorted.foreach { case (k, v) => putStr(k); putStr(v) }
          index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
            .sorted.foreach { case (path, len, mtime) => putStr(s"$path $len $mtime") }
          true
        case _ => false
      }
      case l: LocalRelation =>
        val toBytes = UnsafeProjection.create(l.schema)
        l.data.foreach(row => put(toBytes(row).getBytes))
        true
      case _: Range => true
      case _ => false
    }
    if (!leavesHashed) None
    else {
      putStr(org.apache.spark.SPARK_VERSION)
      putStr(df.schema.json)
      // expressions print their own arguments under the session's
      // maxToStringFields, so lift that too: a long IN list must not be
      // cut short to the same "... N more fields"
      val untruncated = SQLConf.get.clone()
      untruncated.setConf(SQLConf.MAX_TO_STRING_FIELDS, Int.MaxValue)
      putStr(SQLConf.withExistingConf(untruncated) {
        plan.canonicalized.treeString(verbose = true, maxFields = Int.MaxValue)
      })
      Some(md.digest().map("%02x".format(_)).mkString)
    }
  }

  /** Incremental aggregate maintenance: merge an existing aggregate
    * with a delta aggregate over the same keys by re-summing the
    * mergeable measure columns. For sums/counts (and any commutative
    * monoid) this equals the from-scratch aggregate over the combined
    * input — the property that lets a daily rollup absorb one day's
    * partial instead of rescanning the full history at every load.
    * The merge input is two aggregate relations (keys-cardinality
    * rows), so the shuffle is tiny regardless of fact size.
    */
  def mergeAggregates(existing: DataFrame, delta: DataFrame,
                      keys: Seq[String], measures: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.sum
    val aggs = measures.map(m => sum(col(m)).as(m))
    existing.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** MERGE-INTO upsert semantics as one full-outer join: rows of
    * `updates` replace same-key rows of `target` (WHEN MATCHED THEN
    * UPDATE), new keys insert (WHEN NOT MATCHED THEN INSERT),
    * untouched target rows pass through. The presence MARKER — not
    * value non-nullness — decides who wins, so an update row carrying
    * a legitimate NULL attribute still replaces the target row (the
    * classic coalesce-based upsert bug). Schemas must match by name;
    * `updates` must be key-unique (enforced — a duplicate-key update
    * relation makes MERGE ambiguous, and Spark would emit both rows).
    * One shuffle on the key; at warehouse scale the target side is the
    * big one, so AQE broadcast-ises the update side when small.
    */
  def upsert(target: DataFrame, updates: DataFrame,
             keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{lit, when}
    // compare (name, type) pairs, not names alone: a type drift (e.g.
    // updates carrying a measure as string) must fail HERE with a clear
    // message, not later as a confusing when/otherwise coercion or an
    // analysis error far from the call site
    def sig(df: DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).sortBy(_._1).toSeq
    require(sig(target) == sig(updates),
      s"upsert schemas differ: target ${sig(target).mkString(",")} " +
        s"vs updates ${sig(updates).mkString(",")}")
    // one aggregation over the (small) update side — the guard that
    // keeps MERGE deterministic is worth the extra action
    require(updates.groupBy(keys.map(col): _*)
      .count().filter(col("count") > 1).isEmpty,
      s"updates not unique on (${keys.mkString(", ")}) — MERGE is ambiguous")
    val nonKeys = target.columns.filterNot(keys.contains).toSeq
    val u = nonKeys.foldLeft(updates)((d, c) => d.withColumnRenamed(c, s"__u_$c"))
      .withColumn("__upd", lit(1))
    target.join(u, keys, "full_outer")
      .select(keys.map(col) ++ nonKeys.map(c =>
        when(col("__upd").isNotNull, col(s"__u_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** CDC-style snapshot diff: classify every key as added / removed /
    * changed / unchanged between `current` and `snapshot`. The change
    * test is ONE md5 over the null-sentineled concatenation of the
    * non-key columns — per-row constant work however wide the table,
    * the generic change-data-capture shape (compare digests, not N
    * columns). Output carries the key, `status`, and `old_<c>` /
    * `new_<c>` for every non-key column.
    *
    * Scale shape: a single full-outer equi-join on the key — the one
    * unavoidable shuffle; with both sides bucketed on the key it plans
    * co-located. Presence is tracked by literal marker columns, never
    * by key nullness (a NULL business key must not read as "absent").
    */
  def snapshotDiff(current: DataFrame, snapshot: DataFrame,
                   keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, concat_ws, lit, md5, when}
    def sig(df: DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).sortBy(_._1).toSeq
    require(sig(current) == sig(snapshot),
      s"snapshotDiff schemas differ: current ${sig(current).mkString(",")} " +
        s"vs snapshot ${sig(snapshot).mkString(",")}")
    val nonKeys = current.columns.filterNot(keys.contains).toSeq
    def digest(df: DataFrame, pfx: String) =
      df.select(keys.map(col) ++ Seq(
        // control-char separator + null sentinel: without them
        // ("ab","c")/("a","bc") and NULL/"" digest identically
        md5(concat_ws("\u0001", nonKeys.map(c =>
          coalesce(col(c).cast("string"), lit("\u0000"))): _*)).as(s"__${pfx}_h"),
        lit(1).as(s"__${pfx}_present")) ++
        nonKeys.map(c => col(c).as(s"${pfx}_$c")): _*)
    digest(current, "old").join(digest(snapshot, "new"), keys, "full_outer")
      .withColumn("status",
        when(col("__old_present").isNull, lit("added"))
          .when(col("__new_present").isNull, lit("removed"))
          .when(col("__old_h") =!= col("__new_h"), lit("changed"))
          .otherwise(lit("unchanged")))
      .drop("__old_h", "__new_h", "__old_present", "__new_present")
  }

  /** Apply a [[snapshotDiff]] back onto `current`: drop removed keys,
    * upsert added/changed rows from the diff's `new_<c>` columns, pass
    * unchanged rows through untouched. The round-trip law — in spirit
    * `applyDiff(current, snapshotDiff(current, snap)) == snap` — is
    * what makes the diff a usable CHANGE FEED rather than a report: a
    * downstream replica can subscribe to diffs alone and stay exactly
    * in sync (held as a property test over generated snapshots).
    *
    * Scale shape: one left join current⋈diff on the key (the diff
    * carries only changed keys if pre-filtered, so AQE broadcasts it
    * on quiet days) plus a union of the added rows — no extra shuffle
    * beyond the join's.
    */
  def applyDiff(current: DataFrame, diff: DataFrame,
                keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{lit, when}
    val nonKeys = current.columns.filterNot(keys.contains).toSeq
    val changes = diff.filter(col("status") =!= "unchanged")
      .select(keys.map(col) ++ Seq(col("status")) ++
        nonKeys.map(c => col(s"new_$c")): _*)
    val marked = nonKeys.foldLeft(changes)((d, c) =>
      d.withColumnRenamed(s"new_$c", s"__n_$c")).withColumn("__hit", lit(1))
    val survived = current.join(marked, keys, "left")
      .filter(col("__hit").isNull || col("status") =!= "removed")
      .select(keys.map(col) ++ nonKeys.map(c =>
        when(col("__hit").isNotNull, col(s"__n_$c")).otherwise(col(c)).as(c)): _*)
    val added = marked.filter(col("status") === "added")
      .select(keys.map(col) ++ nonKeys.map(c => col(s"__n_$c").as(c)): _*)
    survived.unionByName(added)
  }
}
