package graft.calc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, StructField}

import graft.calc.ta.PeakFinder
import graft.plans.{AnchorEmit, NativePass, PassKernel}

/** W11 — peak/valley flags at three granularities
  * (label_peaks_valleys_multi, candle_to_calcs.py:528-558): find_peaks on
  * `high` for peaks and on −`low` for valleys, with (distance, prominence) =
  * major (10, 0.9), minor (7, 0.7), micro (5, 0.5).
  *
  * Prominence needs an unbounded two-sided scan, so this cannot stream with
  * O(1) state: each (symbol [, chunk]) group is buffered in memory for the
  * scan — exactly the reference's per-chunk shape. At scale the group key
  * MUST include a time bucket (the reference's own 30-day chunks, via
  * `extraGroupCols`) so a group never exceeds executor memory; flags near
  * bucket edges then match the reference's chunked output (it computes peaks
  * per chunk slice too, candle_to_calcs.py:535).
  */
object PeaksPass {

  val configs: Seq[(String, Int, Double)] =
    Seq(("major", 10, 0.9), ("minor", 7, 0.7), ("micro", 5, 0.5))

  val peakFields: Seq[StructField] = configs.flatMap { case (name, _, _) =>
    Seq(StructField(s"is_${name}_peak", IntegerType),
      StructField(s"is_${name}_valley", IntegerType))
  }

  /** Computes the 6 flag arrays for one group's highs/lows. */
  def flags(high: Array[Double], low: Array[Double]): Array[Array[Int]] = {
    val n = high.length
    val negLow = low.map(-_)
    configs.flatMap { case (_, dist, prom) =>
      val pk = Array.fill(n)(0)
      PeakFinder.findPeaks(high, dist, prom).foreach(pk(_) = 1)
      val vl = Array.fill(n)(0)
      PeakFinder.findPeaks(negLow, dist, prom).foreach(vl(_) = 1)
      Seq(pk, vl)
    }.toArray
  }

  /** Appends the 6 flag columns; groups by symbol (+ extraGroupCols), rows
    * ordered by timestamp within a group.
    *
    * Physically this plans the native [[graft.plans.PassKernel.Peaks]]
    * pass (strategy injected by GraftSession): the planner inserts the
    * declared (symbol[, chunk]) exchange+sort, the kernel consumes
    * InternalRows directly (no external-Row encode), and the exchange and
    * sort survive the node — downstream (symbol, chunk) windows reuse them
    * instead of re-shuffling (the old mapPartitions route paid both the
    * Row encoder and a second wide exchange).
    */
  def withPeakFlags(df: DataFrame, extraGroupCols: Seq[String] = Nil): DataFrame =
    NativePass.over(df, PassKernel.Peaks(extraGroupCols))

  /** The same pass in its anchor-emitting mode: one row per W14 anchor of
    * each (symbol, chunk) group of `df`, which must carry the columns of
    * [[AnchorEmit]]'s input contract ([[AnchorSnapshots]] builds them).
    */
  private[calc] def anchorRows(df: DataFrame, spec: AnchorEmit): DataFrame =
    NativePass.over(df, PassKernel.Peaks(Seq("chunk"), Some(spec)))
}
