package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TickOps

/** S5 CSV ingest (schema assert, %f UTC parse, F4 regex divert) and the
  * A1/A3 sink lifecycle, at unit grain.
  */
class IngestSpec extends SparkSpec {

  private def stage(dir: Path, name: String, lines: Seq[String]): String = {
    val f = dir.resolve(name)
    Files.write(f, lines.mkString("\n").getBytes)
    f.toString
  }

  test("CsvTickSource parses the wire format, diverts bad timestamps, asserts schema") {
    withTempDir("graft_ingest") { dir =>
      val path = stage(dir, "ticks.csv", Seq(
        "symbol,timestamp,price,volume",
        "AAA,2024-01-02 09:30:00.000001 UTC,10.5,2.0",
        "AAA,2024-01-02 09:30:00.500000 UTC,10.6,1.0",
        "AAA,2024-01-02 09:30:01 UTC,10.7,1.0", // second precision: regex fails
        "AAA,not-a-timestamp,10.8,1.0",
        "AAA,2024-01-02 09:30:02.000000 UTC,-1.0,1.0" // numeric invalid
      ))
      val vf = CsvTickSource.read(spark, path)
      assert(vf.valid.count() == 2)
      val reasons = vf.invalid.groupBy("reject_reason").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(reasons == Map("bad_timestamp_format" -> 2L, "nonpositive_price" -> 1L))
      // parsed timestamps carry microsecond precision
      val ts = vf.valid.agg(min(col("timestamp"))).collect()(0).getTimestamp(0)
      assert(ts.toString == "2024-01-02 09:30:00.000001")

      val badHeader = stage(dir, "bad.csv", Seq("symbol,ts,price,volume", "AAA,x,1,1"))
      val e = intercept[IllegalArgumentException](CsvTickSource.read(spark, badHeader))
      assert(e.getMessage.contains("schema mismatch"))
    }
  }

  test("Sinks.writeValidated persists both streams and reports counts") {
    val session = spark
    import session.implicits._
    withTempDir("graft_sink") { dir =>
      val ticks = Seq(
        ("AAA", java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 1.0, 1.0),
        ("AAA", java.sql.Timestamp.valueOf("2024-01-02 10:00:01"), -1.0, 1.0),
        ("AAA", java.sql.Timestamp.valueOf("2024-01-02 10:00:02"), 2.0, -3.0)
      ).toDF("symbol", "timestamp", "price", "volume")
      val (nv, ni) = Sinks.writeValidated(TickOps.validate(ticks),
        s"$dir/valid", s"$dir/invalid")
      assert((nv, ni) == (1L, 2L))
      assert(spark.read.parquet(s"$dir/valid").count() == 1)
      val inv = spark.read.parquet(s"$dir/invalid")
      assert(inv.columns.contains("reject_reason") && inv.count() == 2)
    }
  }

  test("filterWeekdays drops Eastern-weekend rows only (P6)") {
    val session = spark
    import session.implicits._
    // 2024-01-06 = Saturday, 2024-01-07 = Sunday (Eastern);
    // 2024-01-06 03:00 UTC is still Friday 22:00 Eastern -> kept
    val rows = Seq(
      ("AAA", java.sql.Timestamp.valueOf("2024-01-05 12:00:00")), // Fri
      ("AAA", java.sql.Timestamp.valueOf("2024-01-06 03:00:00")), // Fri Eastern
      ("AAA", java.sql.Timestamp.valueOf("2024-01-06 12:00:00")), // Sat
      ("AAA", java.sql.Timestamp.valueOf("2024-01-07 12:00:00")), // Sun
      ("AAA", java.sql.Timestamp.valueOf("2024-01-08 12:00:00")) // Mon
    ).toDF("symbol", "timestamp")
    val kept = TickOps.filterWeekdays(rows).select("timestamp")
      .collect().map(_.getTimestamp(0).toString).sorted
    assert(kept.toSeq == Seq(
      "2024-01-05 12:00:00.0", "2024-01-06 03:00:00.0", "2024-01-08 12:00:00.0"))
  }
}
