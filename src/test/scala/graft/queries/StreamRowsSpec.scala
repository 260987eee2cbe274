package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.{StreamingAnchoredVwap, StreamingAnchoredVwapTws}

/** The `stream_*` registry rows under the local test session: what a run
  * leaves behind, and the twin rows that share one oracle SQL computing
  * the same rows.
  */
class StreamRowsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(!a.isEmpty && !b.isEmpty, "both sides must be non-empty")
    assert(a.except(b).isEmpty && b.except(a).isEmpty, "rows must be equal")
  }

  test("stream_state_bounds leaves no scratch directory and no temp view") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratchDirs = tmp.listFiles().map(_.getName).filter(_.startsWith("graft_state_")).toSet
    def tempViews = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val (dirsBefore, viewsBefore) = (scratchDirs, tempViews)

    val rows = Registry.queries("stream_state_bounds")(spark, dir).collect()

    assert(rows.length === 1)
    assert(scratchDirs -- dirsBefore === Set.empty[String], "scratch directory left behind")
    assert(tempViews -- viewsBefore === Set.empty[String], "memory-sink table left behind")
  }

  test("stream_topk ≡ q14_topk_per_group") {
    sameRows(Registry.queries("stream_topk")(spark, dir),
      Registry.queries("q14_topk_per_group")(spark, dir))
  }

  test("anchored VWAP: sentinel-flushed fMGWS ≡ timer-flushed transformWithState") {
    val session = spark
    import session.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = session.sqlContext

    // the sf0.001 candles hit no trigger minute, so two symbols trade
    // synthetic days around a 30-day chunk boundary E (UTC midnight,
    // 19:00 New York): two days before E, one row an hour past E (a new
    // chunk, still the same New York day) and two days after. UTC 09:00 /
    // 14:30 / 21:00 are the 4am / 9:30 / 4pm New York triggers in February.
    // The two feed slices split between AAA's and BBB's first chunk-2 row,
    // so on the timer side BBB's first chunk flushes by timer and AAA's by
    // arrival rollover.
    val dayUs = 86400L * 1000000L
    val hourUs = 3600L * 1000000L
    val chunkUs = graft.calc.AnchorSnapshots.chunkUs()
    val e = (Math.floorDiv(Timestamp.valueOf("2024-01-20 00:00:00").getTime * 1000L,
      chunkUs) + 1) * chunkUs
    val times = (Seq(-2L, -1L, 0L, 1L).flatMap(d =>
      Seq(9 * 60L, 9 * 60L + 1, 14 * 60L + 30, 15 * 60L, 21 * 60L, 22 * 60L)
        .map(min => e + d * dayUs + min * 60L * 1000000L)) :+ (e + hourUs)).sorted
    val candles = times.zipWithIndex.flatMap { case (us, i) =>
      Seq(("AAA", StreamingAnchoredVwap.usTs(us), 10.0 + i, 100.0 + i),
        ("BBB", StreamingAnchoredVwap.usTs(us + 1), 50.25 - i, 7.5 * (i % 3 + 1)))
    }
    val (first, second) = candles.splitAt(candles.length / 2)
    val later = e + chunkUs + 12 * hourUs

    def run(name: String, op: DataFrame => DataFrame,
            tail: Seq[(String, Timestamp, Double, Double)]): DataFrame = {
      val in = MemoryStream[(String, Timestamp, Double, Double)]
      val q = op(in.toDF().toDF("symbol", "timestamp", "close", "volume"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try Seq(first, second, tail).foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      session.table(name).filter(col("symbol") =!= "\u0000WM")
    }

    val fmgws = run(s"avwap_fmgws_${System.nanoTime}",
      StreamingAnchoredVwap.anchoredVwapStream(_),
      Seq("AAA", "BBB").map(s => (s, StreamingAnchoredVwap.usTs(later), 1.0, 1.0)))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = session.conf.getOption(providerKey)
    session.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val tws = try run(s"avwap_tws_${System.nanoTime}",
        in => StreamingAnchoredVwapTws.anchoredVwapStream(
          in.withWatermark("timestamp", "10 seconds")),
        Seq(("\u0000WM", StreamingAnchoredVwap.usTs(later), 1.0, 1.0)))
      finally prev match {
        case Some(v) => session.conf.set(providerKey, v)
        case None => session.conf.unset(providerKey)
      }

    sameRows(fmgws, tws)
    // each chunk flushes the three triggers of its last New York day, per
    // symbol: the day before E and the second day after it
    assert(fmgws.count() === 12L)
    assert(fmgws.select(to_date(from_utc_timestamp(col("anchor_timestamp"),
      "America/New_York"))).distinct().count() === 2L)
  }
}
