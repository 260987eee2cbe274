package graft.plans

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.calc.{IndicatorPass, PeaksPass}
import graft.operators.SuffixArray

/** Degenerate inputs through every native pass: an empty frame keeps the
  * schema of a non-empty one, and a single row comes out alone, at index
  * and rank 0. The anchor mode has its own cases in AnchorSnapshotsSpec.
  */
class NativePassSpec extends SparkSpec {

  private def candles(n: Int): DataFrame = {
    val session = spark
    import session.implicits._
    (0 until n).map(i => ("A", new Timestamp(1700000000000L + i * 1000L), 1.0, 2.0, 0.5, 1.5))
      .toDF("symbol", "timestamp", "open", "high", "low", "close")
  }

  private val passes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "withIndicators flat" -> (IndicatorPass.withIndicators(_, patterns = true)),
    "withIndicators bucketed" -> (IndicatorPass.withIndicators(_, patterns = true,
      bucket = Some(IndicatorPass.BucketSpec(bucketSeconds = 10, warmupRows = 3)))),
    "withPeakFlags" -> (PeaksPass.withPeakFlags(_)),
    "withGlobalIdx" -> (SuffixArray.withGlobalIdx(_, Seq("symbol", "timestamp"))),
    "rankBy" -> (SuffixArray.rankBy(_, Seq("symbol"))))

  test("empty frame: no rows, and the schema of a non-empty input") {
    for ((name, pass) <- passes) {
      val out = pass(candles(0))
      assert(out.schema == pass(candles(3)).schema, name)
      assert(out.collect().isEmpty, name)
    }
  }

  test("single row: one row out, at index 0 and rank 0") {
    for ((name, pass) <- passes) assert(pass(candles(1)).count() == 1, name)
    val one = candles(1)
    assert(SuffixArray.withGlobalIdx(one, Seq("timestamp")).select("__idx").collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
    assert(SuffixArray.rankBy(one, Seq("symbol")).select("__rank").collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
  }
}
