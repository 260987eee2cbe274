package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** J5 — scalable point-in-interval range join.
  *
  * Spark has no native range-join operator: a bare
  * `points.join(intervals, ts >= start && ts < end)` has no equi-key, so
  * Catalyst plans a BroadcastNestedLoopJoin (or a cartesian product), which
  * is O(|points|·|intervals|) work and a broadcast of a whole side —
  * unusable when both sides scale. [[AsOfJoin.rangeJoin]] embraces that for
  * genuinely small interval sides; this operator is the large-large path.
  *
  * Bucket-replication rewrite: discretize time into `bucketSeconds` buckets;
  * each point lands in exactly one bucket, each interval is exploded to
  * every bucket it overlaps. The join becomes an EQUI-join on the bucket id
  * with the range predicate left as a residual filter — a plain shuffled
  * hash/sort-merge join Catalyst knows how to distribute (and AQE may still
  * broadcast if the exploded interval side turns out tiny). Work is
  * O(points + intervals · span/bucket + matches); choose `bucketSeconds`
  * near the typical interval span so the replication factor stays small
  * (span/bucket + 1 copies per interval) — or let
  * [[pointInIntervalAuto]] probe the span distribution and choose for you.
  * Bucket keys inherit the time distribution — time-skew shows up here
  * exactly as it does in any time-bucketed shuffle; [[pointInIntervalSalted]]
  * is the J4-style salted answer when one bucket goes hot.
  */
object RangeJoin {

  /** Join each point row to every interval row whose half-open
    * `[startCol, endCol)` contains `pointTs`. Column names must be disjoint
    * across the two frames (as with any Spark join); empty intervals
    * (`end <= start`) are dropped rather than exploded into a descending
    * bucket `sequence`.
    */
  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      pointTs: String,
      startCol: String,
      endCol: String,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val bUs = bucketSeconds * 1000000L
    val p = points.withColumn("__pbkt", expr(s"unix_micros($pointTs) div ${bUs}L"))
    val iv = intervals
      .filter(col(endCol) > col(startCol))
      .withColumn("__ibkt", explode(sequence(
        expr(s"unix_micros($startCol) div ${bUs}L"),
        expr(s"(unix_micros($endCol) - 1) div ${bUs}L"))))
    p.join(iv, p.col("__pbkt") === iv.col("__ibkt") &&
        col(pointTs) >= col(startCol) && col(pointTs) < col(endCol))
      .drop("__pbkt", "__ibkt")
  }

  /** Probed bucket width: the p75 of the interval-span distribution,
    * rounded UP to the next power-of-two seconds and clamped to
    * [1 s, 86400 s]. Rationale: replication per interval is
    * `span/bucket + 1`, so bucket ≈ typical span keeps ≥ 75% of intervals
    * at ≤ 2 copies while the tail pays proportionally to its own length —
    * bounded total blow-up of `Σ span / bucket + |intervals|` exploded
    * rows. p75 via `approx_percentile` (one pass, GK-sketch bounded state,
    * merge-safe — the same 100 TB contract as every sketch here); the
    * power-of-two rounding makes the chosen width stable under probe
    * wobble so plans don't flap between runs. One probe job per call: the
    * width is a plan-choice input only (every width yields bit-identical
    * join output), so no statistic is kept between calls.
    */
  def adaptiveBucketSeconds(
      intervals: DataFrame,
      startCol: String,
      endCol: String): Long = {
    val probe = intervals
      .filter(col(endCol) > col(startCol))
      .select(((unix_micros(col(endCol)) - unix_micros(col(startCol))) / lit(1000000L))
        .cast("long").as("__span_s"))
    val r = probe.agg(expr("approx_percentile(__span_s, 0.75)")).head()
    val p75 = if (r.isNullAt(0)) 3600L else math.max(1L, r.getLong(0))
    val clamped = math.min(86400L, math.max(1L, p75))
    java.lang.Long.highestOneBit(clamped * 2 - 1) // round UP to power of two
  }

  /** [[pointInInterval]] with the bucket width chosen by
    * [[adaptiveBucketSeconds]] — the default entry point when the span
    * distribution isn't known at authoring time.
    */
  def pointInIntervalAuto(
      points: DataFrame,
      intervals: DataFrame,
      pointTs: String,
      startCol: String,
      endCol: String): DataFrame =
    pointInInterval(points, intervals, pointTs, startCol, endCol,
      adaptiveBucketSeconds(intervals, startCol, endCol))

  /** Salted variant for time-skewed data (the J4 treatment, generalized):
    * when most points land in one hot bucket — a flash-crash hour, an
    * event-day burst — the equi-join key space collapses and one reducer
    * drags the stage. Points deterministically pick a salt in `[0, salt)`
    * (hash of the point timestamp by default — no `rand()`, so replays and
    * retries are stable); every exploded interval row is replicated across
    * ALL salt values, so each (bucket, salt) cell holds `1/salt` of the hot
    * bucket's points against a full copy of its intervals. Interval-side
    * cost multiplies by `salt` — the right trade exactly when the interval
    * side is the small one, which is the hot-bucket shape. Output is
    * bit-identical to the unsalted join (each point meets each interval
    * exactly once, in its own salt lane).
    */
  def pointInIntervalSalted(
      points: DataFrame,
      intervals: DataFrame,
      pointTs: String,
      startCol: String,
      endCol: String,
      bucketSeconds: Long,
      salt: Int,
      saltExpr: Option[Column] = None): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    require(salt > 0, "salt must be positive")
    val bUs = bucketSeconds * 1000000L
    val p = points
      .withColumn("__pbkt", expr(s"unix_micros($pointTs) div ${bUs}L"))
      .withColumn("__psalt",
        pmod(saltExpr.getOrElse(xxhash64(col(pointTs))), lit(salt.toLong)))
    val iv = intervals
      .filter(col(endCol) > col(startCol))
      .withColumn("__ibkt", explode(sequence(
        expr(s"unix_micros($startCol) div ${bUs}L"),
        expr(s"(unix_micros($endCol) - 1) div ${bUs}L"))))
      .withColumn("__isalt", explode(sequence(lit(0L), lit(salt.toLong - 1))))
    p.join(iv,
        p.col("__pbkt") === iv.col("__ibkt") &&
        p.col("__psalt") === iv.col("__isalt") &&
        col(pointTs) >= col(startCol) && col(pointTs) < col(endCol))
      .drop("__pbkt", "__ibkt", "__psalt", "__isalt")
  }
}
