package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bucket-replicated range join ≡ the naive BETWEEN join, including
  * intervals spanning multiple buckets, back-to-back half-open boundaries,
  * and empty intervals — and the plan must be an equi hash/merge join, not
  * the nested-loop Catalyst plans for a pure range predicate.
  */
class RangeJoinSpec extends SparkSpec {

  private val t0 = Timestamp.valueOf("2024-03-04 00:00:00").getTime

  private def mkData = {
    val session = spark
    import session.implicits._
    // points every 6 minutes over 20 h — point 40 sits exactly on the
    // 4 h boundary between the back-to-back half-open intervals
    val points = (0 until 200).map { i =>
      (new Timestamp(t0 + i * 360000L), i.toLong)
    }.toDF("ts", "point_id")
    // intervals: multi-bucket (3.5 h), sub-bucket (20 min), boundary-exact
    // half-open pair [2h,4h) + [4h,6h), and one empty (end == start)
    val intervals = Seq(
      (1L, new Timestamp(t0 + 1800000L), new Timestamp(t0 + 1800000L + 12600000L)),
      (2L, new Timestamp(t0 + 36000000L), new Timestamp(t0 + 36000000L + 1200000L)),
      (3L, new Timestamp(t0 + 7200000L), new Timestamp(t0 + 14400000L)),
      (4L, new Timestamp(t0 + 14400000L), new Timestamp(t0 + 21600000L)),
      (5L, new Timestamp(t0 + 50000000L), new Timestamp(t0 + 50000000L))
    ).toDF("iv_id", "ws", "we")
    (points, intervals)
  }

  test("pointInInterval matches the naive range join exactly") {
    val (points, intervals) = mkData
    val got = RangeJoin
      .pointInInterval(points, intervals, "ts", "ws", "we", bucketSeconds = 3600)
      .select("iv_id", "point_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val want = points.join(intervals, col("ts") >= col("ws") && col("ts") < col("we"))
      .select("iv_id", "point_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got === want)
    assert(want.nonEmpty && want.exists(_._1 == 1L) && want.exists(_._1 == 2L))
    // half-open: a point exactly at the 4 h boundary joins interval 4 only
    val boundary = got.filter(_._2 * 360000L == 14400000L).map(_._1)
    assert(boundary === Set(4L))
    assert(!got.exists(_._1 == 5L), "empty interval matches nothing")
  }

  test("randomized intervals: bucket rewrite ≡ naive join at several widths") {
    val session = spark
    import session.implicits._
    val rnd = new scala.util.Random(42)
    val points = (0 until 300).map { i =>
      (new Timestamp(t0 + rnd.nextInt(86400) * 1000L), i.toLong)
    }.toDF("ts", "point_id")
    // random starts; spans from sub-second to 9 h, plus some empty/backward
    val intervals = (0 until 60).map { i =>
      val ws = t0 + rnd.nextInt(86400) * 1000L
      val span = rnd.nextInt(6) match {
        case 0 => 0L                       // empty
        case 1 => -3600000L                // backward (end < start)
        case _ => rnd.nextInt(9 * 3600) * 1000L + rnd.nextInt(1000)
      }
      (i.toLong, new Timestamp(ws), new Timestamp(ws + span))
    }.toDF("iv_id", "ws", "we")
    val want = points.join(intervals, col("ts") >= col("ws") && col("ts") < col("we"))
      .select("iv_id", "point_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (width <- Seq(60L, 3600L, 7 * 3600L)) {
      val got = RangeJoin.pointInInterval(points, intervals, "ts", "ws", "we", width)
        .select("iv_id", "point_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"bucketSeconds=$width")
    }
    assert(want.size > 100, "fixture should produce a dense match set")
  }

  test("auto + salted variants ≡ naive join; adaptive width is a sane power of two") {
    val (points, intervals) = mkData
    val want = points.join(intervals, col("ts") >= col("ws") && col("ts") < col("we"))
      .select("iv_id", "point_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = RangeJoin.pointInIntervalAuto(points, intervals, "ts", "ws", "we")
      .select("iv_id", "point_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === want, "adaptive-width output must be bit-identical")
    for (salt <- Seq(1, 3, 8)) {
      val got = RangeJoin
        .pointInIntervalSalted(points, intervals, "ts", "ws", "we", 3600L, salt)
        .select("iv_id", "point_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"salt=$salt")
    }
    // spans here: 3.5 h, 20 min, 2 h, 2 h (+ empty dropped) → p75 = 2 h
    // rows to 8192 s; power-of-two and within the clamp
    val w = RangeJoin.adaptiveBucketSeconds(intervals, "ws", "we")
    assert(w >= 1L && w <= 86400L && java.lang.Long.bitCount(w) == 1,
      s"adaptive width must be a clamped power of two, got $w")
  }

  test("plan is an equi-join on the bucket, not a nested-loop join") {
    val (points, intervals) = mkData
    val joined = RangeJoin
      .pointInInterval(points, intervals, "ts", "ws", "we", bucketSeconds = 3600)
    val ep = joined.queryExecution.executedPlan.toString
    assert(!ep.contains("BroadcastNestedLoopJoin") && !ep.contains("CartesianProduct"),
      s"range join must not plan as a nested loop:\n$ep")
    assert(ep.contains("Join") && ep.contains("__pbkt"),
      s"expected an equi-join keyed on the time bucket:\n$ep")
  }
}
