package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of and point-in-time joins — the reference's core query
  * (FileFactualJob, aligned/local/job.py:406-701; JoinAsofJob,
  * retrieval_job.py:1795-1859). Spark has no native as-of join, so we use the
  * same physical shape the reference's own Spark path uses
  * (local/job.py:678-699): equi-join on keys with a range predicate, then
  * keep the latest right row per left row via a row_number window.
  *
  * Scale notes (100 TB): the join is a plain equi-join on the `by` keys, so
  * Catalyst/AQE pick broadcast/shuffle-hash/sort-merge and handle skew; the
  * dedup window partitions by the left row id, which is finer than the join
  * key, so AQE coalesces the extra exchange cheaply. When the right side is a
  * small dimension, callers can pass broadcast(right).
  */
object Joins {

  private val RowId = "__graft_row_id"
  private def tmp(n: String) = "__graft_r_" + n

  /** Rename every column of `right` to an internal prefixed name so the join
    * is never ambiguous regardless of overlapping schemas. Returns (renamed
    * df, originalName → tmpName). */
  private def renameAll(right: DataFrame): (DataFrame, Map[String, String]) = {
    val mapping = right.columns.map(c => c -> tmp(c)).toMap
    (right.select(right.columns.map(c => col(c).as(tmp(c))): _*), mapping)
  }

  /** As-of join: for each left row, the single best right row matched on
    * `by` keys — polars join_asof's three strategies
    * (retrieval_job.py:1795-1859 uses "backward"; forward/nearest complete
    * the family):
    *
    *  - `"backward"` (default): latest right with right.ts <= left.ts;
    *  - `"forward"`: earliest right with right.ts >= left.ts;
    *  - `"nearest"`: smallest |right.ts − left.ts| (ties → the earlier
    *    right row, i.e. backward wins).
    *
    * Left rows with no match are kept (left-join semantics). `tolerance`
    * bounds the window (lookback, lookahead, or both for nearest). NOTE:
    * nearest WITHOUT a tolerance joins each left row to its whole key group
    * before ranking — supply a tolerance at scale (backward/forward fan-in
    * is already clipped by Spark 4's WindowGroupLimit rewrite). Right value
    * columns keep their names (optionally prefixed); `by` keys and the
    * right timestamp are not duplicated in the output.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftTs: String,
      rightTs: String,
      by: Seq[String],
      tolerance: Option[java.time.Duration] = None,
      rightPrefix: String = "",
      direction: String = "backward"): DataFrame = {
    val l = left.withColumn(RowId, monotonically_increasing_id())
    val (r, m) = renameAll(right)
    val rTs = col(m(rightTs))
    def minus(t: java.time.Duration) = col(leftTs) - expr(s"INTERVAL ${t.getSeconds} SECOND")
    def plus(t: java.time.Duration) = col(leftTs) + expr(s"INTERVAL ${t.getSeconds} SECOND")
    val (cond, order) = direction match {
      case "backward" =>
        (tolerance.foldLeft(rTs <= col(leftTs))((c, t) => c && rTs >= minus(t)),
          Seq(rTs.desc_nulls_last))
      case "forward" =>
        (tolerance.foldLeft(rTs >= col(leftTs))((c, t) => c && rTs <= plus(t)),
          Seq(rTs.asc_nulls_last))
      case "nearest" =>
        // exact µs integer distance for timestamps; numeric ts columns
        // (epoch longs etc., accepted by backward/forward) subtract directly
        val isTimestamp = right.schema(rightTs).dataType
          .isInstanceOf[org.apache.spark.sql.types.TimestampType]
        val dist =
          if (isTimestamp) abs(unix_micros(rTs) - unix_micros(col(leftTs)))
          else abs(rTs.cast("double") - col(leftTs).cast("double"))
        (tolerance.foldLeft(rTs.isNotNull)((c, t) => c && rTs >= minus(t) && rTs <= plus(t)),
          // closest first; ties prefer the earlier (backward) row
          Seq(dist.asc_nulls_last, rTs.asc))
      case other => throw new IllegalArgumentException(
        s"asofJoin direction must be backward|forward|nearest, got '$other'")
    }
    val keyCond = by.map(k => col(k) === col(m(k))).foldLeft(cond)(_ && _)
    val joined = l.join(r, keyCond, "left")
    val w = Window.partitionBy(col(RowId)).orderBy(order: _*)
    val deduped = joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    // project: all left columns + right value columns under original (or prefixed) names
    val rightVals = right.columns.filterNot(c => by.contains(c) || c == rightTs)
    val outCols = left.columns.map(col) ++
      rightVals.map(c => col(m(c)).as(rightPrefix + c))
    deduped.select(outCols: _*)
  }

  /** Point-in-time ("fact") join: for each fact row (entity keys + fact
    * timestamp), attach the latest feature row per entity with
    * featureTs <= factTs, honouring an optional TTL window
    * (factTs - ttl <= featureTs). Null feature timestamps PASS the filter —
    * the reference treats untimestamped feature rows as always valid
    * (local/job.py:567-585). Output: all fact columns + feature value columns.
    */
  def pointInTimeJoin(
      facts: DataFrame,
      features: DataFrame,
      entityKeys: Seq[String],
      featureTs: String,
      factTs: String,
      ttl: Option[java.time.Duration] = None,
      featureCols: Seq[String] = Nil): DataFrame = {
    val f = facts.withColumn(RowId, monotonically_increasing_id())
    val (ft, m) = renameAll(features)
    val fts = col(m(featureTs))
    var timeOk: Column = fts.isNull || fts <= col(factTs)
    ttl.foreach { t =>
      timeOk = timeOk && (fts.isNull || fts >= col(factTs) - expr(s"INTERVAL ${t.getSeconds} SECOND"))
    }
    val cond = entityKeys.map(k => col(k) === col(m(k))).foldLeft(timeOk)(_ && _)
    val joined = f.join(ft, cond, "left")
    val w = Window.partitionBy(col(RowId)).orderBy(fts.desc_nulls_last)
    val deduped = joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    val vals =
      if (featureCols.nonEmpty) featureCols
      else features.columns.filterNot(c => entityKeys.contains(c) || c == featureTs).toSeq
    deduped.select(facts.columns.map(col) ++ vals.map(c => col(m(c)).as(c)): _*)
  }

  /** Scale-path point-in-time join: same contract as [[pointInTimeJoin]]
    * (backward match on entity keys, TTL window, null feature timestamps
    * always valid but outranked by any timestamped in-window match), executed
    * as UNION + one per-key sorted window pass instead of join + rank-dedup.
    *
    * Why: [[pointInTimeJoin]] materializes (fact × every earlier feature row
    * of the same key) before the `row_number()==1` filter. With F historical
    * feature rows per key that is O(facts·F) intermediate rows — at 100 TB a
    * hot entity with 10⁶ history rows explodes every fact it touches. Here
    * both inputs shuffle ONCE on the entity keys, sort by (ts, tag), and each
    * fact picks up the latest feature struct via `last(ignoreNulls)` —
    * O(facts + features) rows end to end.
    *
    * TTL note: the carried match is the latest with featureTs <= factTs; if
    * it is older than `ttl` then EVERY timestamped match is older (timestamps
    * only decrease going back), so "stale latest → fall back to the null-ts
    * row, else null" reproduces the join-path semantics exactly.
    */
  def pointInTimeSorted(
      facts: DataFrame,
      features: DataFrame,
      entityKeys: Seq[String],
      featureTs: String,
      factTs: String,
      ttl: Option[java.time.Duration] = None,
      featureCols: Seq[String] = Nil): DataFrame = {
    val vals =
      if (featureCols.nonEmpty) featureCols
      else features.columns.filterNot(c => entityKeys.contains(c) || c == featureTs).toSeq
    val payload = struct((vals.map(col) :+ col(featureTs).as("__fts")): _*)
    // timestamped feature rows → __tv; null-ts rows → __nv (always-valid fallback)
    val r2 = features.select(
      entityKeys.map(col) :+ col(featureTs).as("__ts") :+ lit(0).as("__tag") :+
        when(col(featureTs).isNotNull, payload).as("__tv") :+
        when(col(featureTs).isNull, payload).as("__nv"): _*)
    val l2 = facts.withColumn("__ts", col(factTs)).withColumn("__tag", lit(1))
    val unioned = l2.unionByName(r2, allowMissingColumns = true)
    // feature rows sort before facts at equal ts (tag 0 < 1 → inclusive <=);
    // null-ts feature rows sort first, visible to every fact of the key
    val w = Window.partitionBy(entityKeys.map(col): _*)
      .orderBy(col("__ts").asc_nulls_first, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("__last_tv", last(col("__tv"), ignoreNulls = true).over(w))
      .withColumn("__last_nv", last(col("__nv"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    val stale: Column = ttl match {
      case Some(t) => col("__last_tv.__fts") < col(factTs) - expr(s"INTERVAL ${t.getSeconds} SECOND")
      case None => lit(false)
    }
    val pick = when(col("__last_tv").isNotNull && !stale, col("__last_tv"))
      .otherwise(col("__last_nv"))
    carried.select(facts.columns.map(col) ++ vals.map(c => pick.getField(c).as(c)): _*)
  }

  /** Skew-salted equi-join: replicate the (smaller) `right` side `salt` ways
    * and scatter `left` rows uniformly across the replicas, so one hot key's
    * rows spread over `salt` reducers instead of one. Use when a known-skewed
    * key distribution defeats AQE's skew-join splitting (e.g. a single
    * pathological key at 100 TB); otherwise prefer plain join + AQE.
    * Inner/left semantics on equal key names, like `df.join(right, keys, how)`. */
  /** Point-in-interval RANGE JOIN as an equi-join: Spark plans a pure range
    * predicate (`pt BETWEEN start AND end`) as a nested-loop join — O(n·m)
    * once neither side fits a broadcast. Bucketizing the time axis turns it
    * into a shuffle-parallel hash join: every interval replicates to each
    * `bucketSeconds` bucket it overlaps, every point lands in exactly ONE
    * bucket, equality on the bucket id carries the join, and the exact
    * BETWEEN predicate filters inside the bucket. Interval replication =
    * ceil(len/bucketSeconds)+1 rows — pick `bucketSeconds` near the typical
    * interval length to keep it ≤2×. Points match via their single bucket,
    * so no pair dedup is needed. Inner semantics (each matching
    * point×interval pair once). */
  def rangeJoin(points: DataFrame, ptCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketSeconds: Long): DataFrame = {
    val b = lit(bucketSeconds)
    val iv = intervals.withColumn("__bkt",
      explode(sequence(floor(unix_timestamp(col(startCol)) / b),
        floor(unix_timestamp(col(endCol)) / b))))
    points.withColumn("__bkt", floor(unix_timestamp(col(ptCol)) / b))
      .join(iv, Seq("__bkt"))
      .filter(col(ptCol) >= col(startCol) && col(ptCol) <= col(endCol))
      .drop("__bkt")
  }

  /** Interval-OVERLAP join (interval × interval) with the same bucketing:
    * both sides replicate to their covered buckets; a pair of overlapping
    * intervals shares at least one bucket, and is emitted EXACTLY once by
    * pinning it to the first bucket both cover — `bkt ==
    * max(firstBucket(a), firstBucket(b))` — so no distinct/dedup pass is
    * needed after the join. Overlap is the closed-interval test
    * `aStart <= bEnd && bStart <= aEnd`. */
  def intervalOverlapJoin(left: DataFrame, leftStart: String, leftEnd: String,
      right: DataFrame, rightStart: String, rightEnd: String,
      bucketSeconds: Long): DataFrame = {
    val b = lit(bucketSeconds)
    def banded(df: DataFrame, s: String, e: String) = df.withColumn("__bkt",
      explode(sequence(floor(unix_timestamp(col(s)) / b), floor(unix_timestamp(col(e)) / b))))
    val (l, r) = (banded(left, leftStart, leftEnd), banded(right, rightStart, rightEnd))
    l.join(r, Seq("__bkt"))
      .filter(col(leftStart) <= col(rightEnd) && col(rightStart) <= col(leftEnd))
      .filter(col("__bkt") === greatest(
        floor(unix_timestamp(col(leftStart)) / b), floor(unix_timestamp(col(rightStart)) / b)))
      .drop("__bkt")
  }

  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      how: String = "inner", salt: Int = 16): DataFrame = {
    require(how == "inner" || how == "left", s"saltedJoin supports inner/left, got $how")
    val s = "__graft_salt"
    val l = left.withColumn(s, pmod(xxhash64(monotonically_increasing_id()), lit(salt)).cast("int"))
    val r = right.withColumn(s, explode(sequence(lit(0), lit(salt - 1))))
    l.join(r, keys :+ s, how).drop(s)
  }

  /** Merge N per-source feature frames onto one entity frame
    * (CombineFactualJob, retrieval_job.py:2961-3147): iterative left join on
    * the accumulated entity columns. */
  def combine(entityFrame: DataFrame, parts: Seq[(DataFrame, Seq[String])]): DataFrame =
    parts.foldLeft(entityFrame) { case (acc, (part, keys)) => acc.join(part, keys, "left") }
}
