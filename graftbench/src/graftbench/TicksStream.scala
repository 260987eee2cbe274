package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.calc.IndicatorPass
import graft.core.Tables
import graft.operators.{CandleAggregator, TickOps}
import graft.streaming.{StreamingCandles, StreamingIndicators}

/** One micro-batch: wall and process CPU in ns, the candles hop 1 emitted
  * (its foreachBatch sink reports no row count) and the progress updates
  * each hop made for it.
  */
final case class StreamBatch(wallNs: Long, cpuNs: Long, candles: Long,
                             hop1: Seq[StreamingQueryProgress], hop2: Seq[StreamingQueryProgress])

/** `ticks_stream`: the same ticks, fed in arrival (event_id) order as
  * fixed-size micro-batches through two chained streaming queries —
  * hop 1: validate → StreamingCandles.dedupedCandles1s (10 s watermark),
  * hop 2: StreamingIndicators.indicatorStream(patterns = true).
  *
  * Closed loop, one feeder: a batch goes into the tick MemoryStream, hop 1
  * runs until idle (its watermark-driven no-data batch included, so every
  * candle the batch closed is emitted), the emitted candles go into the
  * candle MemoryStream, hop 2 runs until idle; only then is the next batch
  * added. A batch's latency is that whole interval.
  */
final class TicksStream(spark: SparkSession, dir: String, batchTicks: Int, maxBatches: Int,
                        scratch: String) {
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val ticks = Tables.ticks(spark, dir)
  private val tickSchema = ticks.schema
  /** The first `maxBatches` batches of arrivals, read once. */
  private lazy val feed: Array[Row] =
    ticks.filter(col("seq") < maxBatches.toLong * batchTicks).orderBy(col("seq")).collect()

  final class Session(tag: String, tracer: Option[Tracer]) {
    private val tickIn = MemoryStream[Row](Encoders.row(tickSchema), sqlCtx)
    private val candleSchema = StreamingCandles.dedupedCandles1s(
      TickOps.validate(tickIn.toDF()).valid).schema
    private val candleIn = MemoryStream[Row](Encoders.row(candleSchema), sqlCtx)
    private val emitted = mutable.ArrayBuffer[Row]()
    private val outName = s"graftbench_stream_$tag"

    val hop1: StreamingQuery = StreamingCandles.dedupedCandles1s(
        TickOps.validate(tickIn.toDF()).valid)
      .writeStream
      .option("checkpointLocation", s"$scratch/$tag/hop1")
      .foreachBatch { (df: DataFrame, _: Long) => emitted ++= df.collect(); () }
      .start()
    val hop2: StreamingQuery = StreamingIndicators.indicatorStream(candleIn.toDF(), patterns = true)
      .writeStream.format("memory").queryName(outName)
      .option("checkpointLocation", s"$scratch/$tag/hop2")
      .outputMode("append").start()

    var fed = 0L
    val batches: mutable.ArrayBuffer[StreamBatch] = mutable.ArrayBuffer()

    private def progressSince(q: StreamingQuery, n: Int): Seq[StreamingQueryProgress] =
      q.recentProgress.toSeq.drop(n)

    private def runHop(name: String, q: StreamingQuery): Unit = tracer match {
      case Some(t) => t.span(name)(q.processAllAvailable())
      case None => q.processAllAvailable()
    }

    /** Feeds one batch of `batchTicks` arrivals; false if the feed ran out. */
    def step(): Boolean = {
      if (fed + batchTicks > feed.length) return false
      val rows = feed.slice(fed.toInt, fed.toInt + batchTicks).toSeq
      val (n1, n2) = (hop1.recentProgress.length, hop2.recentProgress.length)
      val cpu0 = Proc.cpuNanos()
      val t0 = System.nanoTime()
      tickIn.addData(rows)
      runHop("streaming.candles", hop1)
      val candles = emitted.length.toLong
      if (emitted.nonEmpty) {
        candleIn.addData(emitted.toSeq)
        emitted.clear()
      }
      runHop("streaming.indicators", hop2)
      batches += StreamBatch(System.nanoTime() - t0, Proc.cpuNanos() - cpu0, candles,
        progressSince(hop1, n1), progressSince(hop2, n2))
      fed += rows.length
      true
    }

    /** Pushes the watermark past every real window, then stops both hops
      * and returns the indicator rows emitted for the fed ticks.
      */
    def finish(): DataFrame = {
      val last = ticks.agg(max(col("timestamp"))).head().getTimestamp(0).getTime
      tickIn.addData(Seq(Row.fromSeq(tickSchema.map(_.name).map {
        case "symbol" => Sentinel
        case "timestamp" => new Timestamp(last + 3600L * 1000)
        case "seq" => Long.MaxValue
        case _ => 1.0
      })))
      hop1.processAllAvailable()
      candleIn.addData(emitted.toSeq)
      emitted.clear()
      hop2.processAllAvailable()
      stop()
      spark.table(outName).filter(col("symbol") =!= Sentinel)
    }

    def stop(): Unit = {
      hop1.stop()
      hop2.stop()
    }

    /** Plan-shape counts of each hop's last micro-batch. */
    def planCounts(): PlanProbe = {
      val p = new PlanProbe
      Seq(hop1, hop2).foreach {
        case w: StreamingQueryWrapper => p.countPlan(w.streamingQuery.lastExecution.executedPlan)
        case _ =>
      }
      p
    }
  }

  private val Sentinel = "\u0000SENTINEL"

  def newSession(tag: String, tracer: Option[Tracer]): Session = new Session(tag, tracer)

  /** Planted late ticks among the first `fed` arrivals that pass validation
    * (invalid ones never reach the watermarked operators).
    */
  def validLate(fed: Long, lateIds: Seq[Long]): Long =
    TickOps.validate(ticks.filter(col("seq") < fed && col("seq").isin(lateIds: _*))).valid.count()

  /** The batch composition over the ticks the stream was fed, minus the
    * planted late ticks the watermark must drop, in the stream's columns.
    */
  def batchReference(fed: Long, lateIds: Seq[Long], cols: Seq[String]): DataFrame = {
    val kept = ticks.filter(col("seq") < fed && !col("seq").isin(lateIds: _*))
    val deduped = TickOps.dedupKeepLast(TickOps.validate(kept).valid,
      Seq("symbol", "timestamp"), Seq(col("seq")))
    IndicatorPass.withIndicators(CandleAggregator.aggregate(deduped), patterns = true)
      .select(cols.map(c => col(s"`$c`")): _*)
  }
}
