package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.calc.{AnchorSnapshots, IndicatorPass}
import graft.core.Tables
import graft.operators.{CandleAggregator, TickOps}
import graft.queries.Det.tsMicros

/** `ticks_batch`: the paper's three-stage composition, exactly as the
  * `pipeline_full` registry row composes it: validate → keep-last dedup →
  * 1 s candles → H-pass with the 59 CDL patterns → W14 anchors → left join.
  */
final class TicksBatch(spark: SparkSession, dir: String) extends BatchWorkload {

  private def dedup(valid: DataFrame): DataFrame =
    TickOps.dedupKeepLast(valid, Seq("symbol", "timestamp"), Seq(col("seq")))

  private def join(calcs: DataFrame, anchors: DataFrame): DataFrame = {
    val counts = anchors
      .groupBy(col("symbol"), tsMicros(col("anchor_timestamp")).as("ts"))
      .agg(count(lit(1)).as("n_anchors"))
    calcs.select((col("symbol") +: tsMicros(col("timestamp")).as("ts") +:
        (IndicatorPass.indicatorFields.map(f => col(f.name))
          :+ col("candle_pattern_sum"))): _*)
      .join(counts, Seq("symbol", "ts"), "left")
      .withColumn("n_anchors", coalesce(col("n_anchors"), lit(0L)))
  }

  def result(): DataFrame = {
    val valid = TickOps.validate(Tables.ticks(spark, dir)).valid
    val c = CandleAggregator.aggregate(dedup(valid)).cache()
    join(IndicatorPass.withIndicators(c, patterns = true), AnchorSnapshots.anchoredVwapPoints(c))
  }

  def tracedResult(t: Tracer): Long = {
    val scan = t.stage("core.scan")(Tables.ticks(spark, dir))
    val valid = t.stage("operators.validate")(TickOps.validate(scan.df).valid)
    val deduped = t.stage("operators.dedup")(dedup(valid.df))
    val candles = t.stage("operators.candles")(CandleAggregator.aggregate(deduped.df))
    val calcs = t.stage("calc.indicators")(
      IndicatorPass.withIndicators(candles.df, patterns = true))
    val anchors = t.stage("calc.anchors")(AnchorSnapshots.anchoredVwapPoints(candles.df))
    valid.span.metrics("rows_invalid") = scan.rows - valid.rows
    deduped.span.metrics("dup_ratio") = (valid.rows - deduped.rows) / valid.rows.max(1.0)
    candles.span.metrics("ticks_per_candle") = deduped.rows / candles.rows.max(1.0)
    t.stage("queries.join")(join(calcs.df, anchors.df)).hash
  }

  def inputRows: Long = Tables.ticks(spark, dir).count()
}
