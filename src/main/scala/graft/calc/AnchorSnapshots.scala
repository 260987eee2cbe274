package graft.calc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.plans.AnchorEmit

/** W14 — the anchored_vwap_points output table
  * (compute_anchor_snapshots + flush loops, candle_to_calcs.py:226-249,
  * 657-686), batch form.
  *
  * Deterministic variant of the reference's flush policy: the reference
  * flushes every 300 s of PROCESSING time and at each 30-day chunk end,
  * clearing active anchors after each flush; wall-clock flushes are
  * irreproducible, so this operator emits exactly the chunk-end flushes —
  * what the reference produces when a chunk computes in under 5 minutes.
  * Pinned semantics per flush (= per (symbol, chunk)):
  *
  *  - peak/valley anchors: every row the per-chunk find_peaks flags
  *    (the reference also runs find_peaks on the chunk slice);
  *  - daily_4am/daily_930/daily_4pm: the FIRST row of the day at the trigger
  *    minute — and only in the chunk containing that row (the `*_added`
  *    day-flags persist across a flush, so a later chunk of the same day
  *    does NOT re-anchor);
  *  - daily_high/daily_low: the LAST row in the chunk that set a new
  *    running extreme for the chunk's last local day (anchors of earlier
  *    days are cleared by the day-change reset; a day whose extreme was set
  *    before the chunk boundary yields no anchor after it);
  *  - snapshot row = anchor × the chunk's last row; `anchored_vwap` is NULL
  *    always — the reference never computes it (:245-246);
  *  - `anchor_idx`/`current_idx` reproduce indices into the reference's
  *    buffer+chunk frame: global per-symbol row number rebased to the chunk
  *    start plus min(priorRows, bufferSize);
  *  - keep-last dedup on (symbol, timeframe, anchor_timestamp) by snapshot
  *    time (deduplicate_anchored_vwap_points, :183-193), ties by
  *    [[typePriority]].
  *
  * Chunks are 30-day spans of event time anchored at the Unix epoch (the
  * reference anchors at the job's --start-date; pass `chunkOriginUs` to
  * reproduce a specific run).
  */
object AnchorSnapshots {

  val Triggers: Seq[(String, Int, Int)] =
    Seq(("daily_4am", 4, 0), ("daily_930", 9, 30), ("daily_4pm", 16, 0))

  /** Default chunking (matches the reference's 30-day accumulation window,
    * aggregator_candles.py). Oracle SQL derives its `// divisor` from
    * [[chunkUs]] so the Scala defaults and the replay can't drift.
    */
  val DefaultChunkDays: Int = 30

  /** Chunk width in microseconds for a given day count. */
  def chunkUs(chunkDays: Int = DefaultChunkDays): Long =
    chunkDays * 86400L * 1000000L

  /** The snapshot rows BEFORE the keep-last dedup — the full anchor × last
    * row cross per (symbol, chunk). Exposed separately so the daily-anchor
    * subset can be oracle-checked without the peak flags (which can steal a
    * colliding anchor_timestamp in the dedup).
    */
  def snapshots(candles: DataFrame, timeframe: String = "1s",
                chunkDays: Int = DefaultChunkDays, bufferSize: Int = 10000,
                chunkOriginUs: Long = 0L, withTails: Boolean = false): DataFrame =
    anchors(candles, timeframe, chunkDays, bufferSize, chunkOriginUs, withTails, keepLast = false)

  /** The deduped table: one row per (symbol, timeframe, anchor_timestamp).
    * Different anchor TYPES can share an anchor_timestamp (a peak row that
    * is also the daily high). The reference's keep-last then depends on
    * dict-insertion order — irreproducible — so the survivor is pinned by
    * [[typePriority]]: peak/valley beats daily types, larger granularity
    * beats smaller.
    */
  def anchoredVwapPoints(candles: DataFrame, timeframe: String = "1s",
                         chunkDays: Int = DefaultChunkDays, bufferSize: Int = 10000,
                         chunkOriginUs: Long = 0L, withTails: Boolean = false): DataFrame =
    anchors(candles, timeframe, chunkDays, bufferSize, chunkOriginUs, withTails, keepLast = true)

  /** Collision-tiebreak order, lowest first (see [[anchoredVwapPoints]]). */
  val typePriority: Seq[String] = Seq(
    "daily_4am", "daily_930", "daily_4pm", "daily_high", "daily_low",
    "micro_peak", "micro_valley", "minor_peak", "minor_valley",
    "major_peak", "major_valley")

  /** Both entry points are ONE native pass: the peaks exec in its
    * anchor-emitting mode ([[graft.plans.AnchorEmit]]) buffers each
    * timestamp-sorted (symbol, chunk) group for find_peaks and, from the
    * same buffer, computes the row indices, the chunk's last row and last
    * local date, the daily flags, the first triggers, the last-hit
    * extremes and the suffix sums, emitting only anchor rows (deduped
    * in-pass under `keepLast`). One hash(symbol, chunk) exchange and one
    * sort feed it; everything it reads is attached map-side, before the
    * exchange, and only those columns cross it.
    *
    * The daily state runs per (symbol, chunk, local_date). An
    * epoch-aligned 30-day chunk boundary (UTC midnight) always splits a
    * New York local date, so the dates straddling a boundary are patched
    * with a broadcast CARRY: per (symbol, chunk, local_date), the
    * max-high/min-low/trigger-hit totals of the same date's rows in EARLIER
    * chunks, rolled up on a symbols × dates grain table. Comparing against
    * the date's strict prefix in this chunk and the carry is exactly
    * [[WindowCalcs.withDailyRunningExtremes]]'s flag (strict >/< against
    * the lagged running extreme). The same grain table yields `prior_rows`,
    * the row count of the symbol's earlier chunks, for the cidx rebase: one
    * support branch and one broadcast join attach everything (a second
    * support branch would re-run the candle aggregation, which exchange
    * reuse cannot dedupe across two different-keyed aggregations). No
    * per-symbol window over the full history anywhere: at 100 TB no task
    * sees more than one (symbol, chunk).
    */
  private def anchors(candles: DataFrame, timeframe: String, chunkDays: Int,
                      bufferSize: Int, chunkOriginUs: Long, withTails: Boolean,
                      keepLast: Boolean): DataFrame = {
    val sess = SessionLabels.withSessionLabels(candles)
      .withColumn("chunk", expr(s"(unix_micros(timestamp) - ${chunkOriginUs}L) div ${chunkUs(chunkDays)}L"))
    val hits: Seq[(String, Column)] = Triggers.map { case (name, h, m) =>
      name -> (col("local_hour") === h && col("local_minute") === m)
    }
    val grainAggs =
      Seq(max(col("high")).as("g_high"), min(col("low")).as("g_low"),
        count(lit(1)).as("g_cnt")) ++
        hits.map { case (name, hit) => sum(hit.cast("long")).as(s"g_$name") }
    val grain = sess.groupBy(col("symbol").as("ds"), col("chunk").as("dc"),
        col("local_date").as("dd"))
      .agg(grainAggs.head, grainAggs.tail: _*)
    val wDatePrev = Window.partitionBy("ds", "dd").orderBy("dc")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wChunkPrior = Window.partitionBy("ds").orderBy("dc")
      .rangeBetween(Window.unboundedPreceding, -1)
    val carry = grain
      .withColumn("prior_rows",
        coalesce(sum(col("g_cnt")).over(wChunkPrior), lit(0L)))
      .select(
        Seq(col("ds"), col("dc"), col("dd"), col("prior_rows"),
          max(col("g_high")).over(wDatePrev).as("c_high"),
          min(col("g_low")).over(wDatePrev).as("c_low")) ++
          hits.map { case (name, _) =>
            coalesce(sum(col(s"g_$name")).over(wDatePrev), lit(0L)).as(s"c_$name")
          }: _*)

    // Per-row tail terms for [[anchoredVwapReal]], in Spark's own decimal
    // arithmetic; the pass sums them exactly over each anchor's chunk
    // suffix (see the scaladoc there for the exactness contract).
    val tailTerms = if (!withTails) Nil else {
      val vD = col("volume").cast(DecimalType(18, 4))
      Seq((col("close").cast(DecimalType(18, 2)) * vD).as("row_pv"), vD.as("row_v"))
    }
    val input = sess
      .select(Seq(col("symbol"), col("chunk"), col("timestamp"), col("high"), col("low"),
        col("close"), col("local_date")) ++
        hits.map { case (name, hit) => hit.as(s"hit_$name") } ++ tailTerms: _*)
      .join(broadcast(carry),
        col("symbol") === col("ds") && col("chunk") === col("dc") &&
          col("local_date") === col("dd"))
      .drop("ds", "dc", "dd")

    val tailCols = if (withTails) Seq(col("tail_pv"), col("tail_v")) else Nil
    PeaksPass.anchorRows(input, AnchorEmit(bufferSize, keepLast, withTails))
      .select(Seq(
        col("symbol"), lit(timeframe).as("timeframe"), col("anchor_type"),
        col("anchor_timestamp"), col("anchor_idx"), col("price_at_anchor"),
        col("current_snapshot_timestamp"), col("current_idx"),
        lit(null).cast("double").as("anchored_vwap")) ++ tailCols: _*)
  }

  /** M4 extension — [[anchoredVwapPoints]] with the `anchored_vwap` column
    * actually computed: Σ close·volume / Σ volume over [anchor row ..
    * chunk's last row] inclusive. The reference allocates the column but
    * never fills it (candle_to_calcs.py:245-246); SURVEY M4 flags the real
    * computation as the natural extension.
    *
    * Because every snapshot is its chunk's LAST row, the anchored range is
    * exactly a per-(symbol, chunk) SUFFIX — the anchor pass sums it for
    * each anchor row in the same buffered chunk. No range join, no re-scan
    * per anchor; partitions stay chunk-bounded at any scale.
    * Arithmetic is exact-decimal so the result is accumulation-order-
    * independent and the DuckDB oracle hash-compares bit-for-bit; the
    * single double division happens last.
    *
    * Exactness precondition (stated once, relied on below): close carries
    * ≤2 decimals and volume is a WHOLE number — then every close·volume
    * product is a cent multiple and the scale-2 recast of the sums is
    * lossless. With genuinely fractional volume (the tick API caps it at 4
    * decimals) the recast rounds half-away-from-zero; both engines round
    * identically so oracle parity survives, but the value is then a
    * cent-rounded VWAP numerator/denominator, not the exact one.
    */
  def anchoredVwapReal(candles: DataFrame, timeframe: String = "1s",
                       chunkDays: Int = DefaultChunkDays, bufferSize: Int = 10000,
                       chunkOriginUs: Long = 0L): DataFrame = {
    // The suffix sums come out of the anchor pass itself (`withTails`: one
    // backward scan of the buffered chunk), on the anchor's own row. The
    // scale-2 recast is lossless under the whole-number-volume precondition
    // (scaladoc above) and keeps the scaled numerator under 2^53 so the
    // final decimal→double casts are exact in both engines (see
    // Det.centsDouble for the failure mode).
    anchoredVwapPoints(candles, timeframe, chunkDays, bufferSize, chunkOriginUs,
        withTails = true)
      .drop("anchored_vwap")
      .withColumn("anchored_vwap",
        when(col("tail_v") > 0, col("tail_pv").cast("double") / col("tail_v").cast("double")))
      .drop("tail_pv", "tail_v")
  }
}
