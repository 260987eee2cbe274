package graft.calc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W-family: frame-expressible rolling/lag analytics over per-symbol,
  * time-ordered candles. Everything here compiles to Spark's sort-based
  * window exec — one exchange on symbol, one in-partition sort, all
  * expressions whole-stage-codegen'd.
  */
object WindowCalcs {

  private def w = Window.partitionBy("symbol").orderBy("timestamp")

  /** W1 — volume spike: volume > 1.5 × rolling-60 mean (min_periods=1, so
    * partial leading frames count)
    * (reference: detect_volume_spikes candle_to_calcs.py:517-526).
    */
  def withVolumeSpikes(df: DataFrame, window: Int = 60, mult: Double = 1.5,
                       exact: Boolean = false): DataFrame = {
    val frame = w.rowsBetween(-(window - 1), 0)
    // `exact`: decimal window sum → identical bits in any engine/partitioning
    // (Spark sums frames sequentially, DuckDB uses segment trees — double
    // sums would differ in last ulps). Default: codegen'd avg.
    val avgVol =
      if (exact) sum(col("volume").cast("decimal(18,4)")).over(frame).cast("double") /
        count(col("volume")).over(frame)
      else avg(col("volume")).over(frame)
    // reference column names + operand order: volume > avg * mult
    // (candle_to_calcs.py:524-525)
    df.withColumn("rolling_avg_volume", avgVol)
      .withColumn("is_volume_spike",
        (col("volume") > col("rolling_avg_volume") * lit(mult)).cast("int"))
  }

  /** W2 — lag difference, nulls→0 per the reference's fillna(0)
    * (reference: candle_to_calcs.py:411,437).
    */
  def withLagDiff(df: DataFrame, src: String, out: String, n: Int = 1): DataFrame =
    df.withColumn(out, coalesce(col(src) - lag(col(src), n).over(w), lit(0.0)))

  /** W3 — rolling mean with pandas default min_periods=window: rows before
    * the window fills emit NaN which the reference collapses to 0/false
    * (reference: high_volatility candle_to_calcs.py:412).
    */
  def rollingMeanFull(df: DataFrame, src: String, out: String, window: Int,
                      exact: Boolean = false, scale: Int = 2): DataFrame = {
    val frame = w.rowsBetween(-(window - 1), 0)
    val filled = count(col(src)).over(frame) >= window
    val mean =
      if (exact) sum(col(src).cast(s"decimal(18,$scale)")).over(frame).cast("double") /
        count(col(src)).over(frame)
      else avg(col(src)).over(frame)
    df.withColumn(out, when(filled, mean))
  }

  /** W4 — Bollinger Bands BBANDS(close, 20, 2, 2, matype=SMA): 20-row SMA ±
    * 2·population σ; TA-Lib emits NaN for the first 19 rows, which the
    * reference backfills with `close` (reference: candle_to_calcs.py:419-425).
    * Pinned semantics, matching the reference column-for-column:
    *  - bb_width = bb_upper - bb_lower (absolute, NOT normalized);
    *  - bb_pos = (close - lower)/(upper - lower), which in pandas is 0/0=NaN
    *    on zero-width bands (warm-up rows where all three = close) → we emit
    *    null there;
    *  - bb_breakout is ONE combined flag (close outside either band).
    */
  def withBollinger(df: DataFrame, period: Int = 20, nbDev: Double = 2.0,
                    exact: Boolean = false): DataFrame = {
    val frame = w.rowsBetween(-(period - 1), 0)
    val filled = count(col("close")).over(frame) >= period
    // `exact`: moments from exact decimal window sums (bit-reproducible under
    // any partitioning; what the oracle queries use). Default: codegen'd
    // avg/stddev_pop (Welford), faster and numerically stabler for deep
    // frames.
    val (meanE, devE) =
      if (exact) {
        val cD = col("close").cast("decimal(18,2)")
        val m = sum(cD).over(frame).cast("double") / count(col("close")).over(frame)
        val ex2 = sum(cD * cD).over(frame).cast("double") / count(col("close")).over(frame)
        (m, sqrt(greatest(ex2 - m * m, lit(0.0))))
      } else (avg(col("close")).over(frame), stddev_pop(col("close")).over(frame))
    bollingerTail(df, filled, meanE, devE, nbDev)
  }

  /** The shared Bollinger column chain from (filled, mean, σ) — used by the
    * global-window path above and the bucketed path below so their derived
    * semantics cannot drift.
    */
  private def bollingerTail(df: DataFrame, filled: Column, meanE: Column,
                            devE: Column, nbDev: Double): DataFrame = {
    val mid = when(filled, meanE).otherwise(col("close"))
    val dev = when(filled, devE).otherwise(lit(0.0))
    val upper = mid + lit(nbDev) * dev
    val lower = mid - lit(nbDev) * dev
    df.withColumn("bb_mid", mid)
      .withColumn("bb_upper", upper)
      .withColumn("bb_lower", lower)
      .withColumn("bb_width", col("bb_upper") - col("bb_lower"))
      .withColumn("bb_pos",
        when(col("bb_upper") =!= col("bb_lower"),
          (col("close") - col("bb_lower")) / (col("bb_upper") - col("bb_lower"))))
      .withColumn("bb_breakout",
        (col("close") > col("bb_upper") || col("close") < col("bb_lower")).cast("int"))
  }

  // ------------------------------------------------- bucketed rolling frames

  /** Exact bucketed ROW-based rolling sums — the few-symbol-skew scale path
    * for the fixed-width W frames (W1's rolling-60, W4's rolling-20).
    *
    * Unlike the H-pass's warm-up-overlap (whose exponential kernels force an
    * approximation bound), fixed-width rolling DECIMAL sums admit an EXACT
    * bucketed form via global prefix sums:
    *
    *   1. bucket rows by (symbol, time bucket); in-bucket running decimal
    *      sums + row numbers — bounded window partitions;
    *   2. per-(symbol, bucket) totals roll up on the tiny grain table
    *      (symbols × buckets rows) and broadcast back: global row index
    *      `__g` and global prefix sums;
    *   3. rolling_sum over the last `window` rows = S(g) − S(g−window),
    *      attached by an equality self-join on (symbol, g−window) — scalar
    *      shuffle, no range explosion; rows with g ≤ window subtract 0.
    *
    *   Decimal arithmetic is exact, so S(g) − S(g−window) equals the direct
    *   frame sum BIT-FOR-BIT (WindowCalcsSpec pins equivalence against the
    *   global-window exact path). Parallelism is symbols × buckets
    *   everywhere: no task ever sees a symbol's full history, so one hot
    *   symbol cannot serialize the stage.
    *
    * Emits `__g` (global per-symbol row index, 1-based), `__rs_<name>`
    * (rolling decimal sum) and `__rc_<name>` (rolling NON-NULL count — the
    * same `count(expr)` the global frame path divides by, so null inputs
    * keep the two paths bit-identical) for each (name, expr, window) in
    * `sums`.
    */
  private def withBucketedRollingSums(df: DataFrame, bucketSeconds: Long,
                                      sums: Seq[(String, Column, Int)],
                                      countFor: Set[String] = Set.empty): DataFrame = {
    // requested sums also roll their non-null count through the exact same
    // prefix machinery (integer sums, exact in either mode); callers name
    // only the counts they consume — e.g. W4's c and c² share close's
    // null pattern, so one count serves both
    val counted = if (countFor.isEmpty) sums.map(_._1).toSet else countFor
    val all = sums.flatMap { case (n, e, w) =>
      if (counted(n))
        Seq((n, e, w), (s"${n}__nn", when(e.isNotNull, 1L).otherwise(0L), w))
      else Seq((n, e, w))
    }
    sums.filter(s => counted(s._1))
      .foldLeft(withBucketedRollingSumsImpl(df, bucketSeconds, all)) {
        case (d, (n, _, _)) => d.withColumnRenamed(s"__rs_${n}__nn", s"__rc_$n")
      }
  }

  private def withBucketedRollingSumsImpl(df: DataFrame, bucketSeconds: Long,
                                          sums: Seq[(String, Column, Int)]): DataFrame = {
    val bUs = bucketSeconds * 1000000L
    val base = df.withColumn("__bkt", expr(s"unix_micros(timestamp) div ${bUs}L"))
    val wInOrd = Window.partitionBy("symbol", "__bkt").orderBy("timestamp")
    val wIn = wInOrd.rowsBetween(Window.unboundedPreceding, 0)
    val withCum = sums.foldLeft(base.withColumn("__crn", row_number().over(wInOrd))) {
      case (d, (n, e, _)) => d.withColumn(s"__cum_$n", sum(e).over(wIn))
    }
    val aggs = count(lit(1)).as("__cnt") +:
      sums.map { case (n, e, _) => sum(e).as(s"__tot_$n") }
    val grain = base.groupBy(col("symbol").as("gs"), col("__bkt").as("gb"))
      .agg(aggs.head, aggs.tail: _*)
    val wCum = Window.partitionBy("gs").orderBy("gb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prior = grain.select(
      col("gs") +: col("gb") +:
        coalesce(sum(col("__cnt")).over(wCum), lit(0L)).as("__prior_cnt") +:
        sums.map { case (n, _, _) => sum(col(s"__tot_$n")).over(wCum).as(s"__prior_$n") }: _*)
    val prefixed = sums.foldLeft(
      withCum.join(broadcast(prior), col("symbol") === col("gs") && col("__bkt") === col("gb"))
        .withColumn("__g", col("__crn") + col("__prior_cnt"))) {
      case (d, (n, _, _)) =>
        d.withColumn(s"__S_$n",
          col(s"__cum_$n") + coalesce(col(s"__prior_$n"), lit(0)))
          .drop(s"__cum_$n", s"__prior_$n")
    }.drop("gs", "gb", "__prior_cnt")

    // one lagged frame per distinct window width; scalar equality joins
    val widths = sums.map(_._3).distinct
    widths.foldLeft(prefixed) { (d, wdt) =>
      val names = sums.filter(_._3 == wdt).map(_._1)
      val lagged = prefixed.select(
        col("symbol").as(s"__ls_$wdt") +: (col("__g") + wdt).as(s"__lg_$wdt") +:
          names.map(n => col(s"__S_$n").as(s"__L_$n")): _*)
      val joined = d.join(lagged,
        col("symbol") === col(s"__ls_$wdt") && col("__g") === col(s"__lg_$wdt"), "left")
        .drop(s"__ls_$wdt", s"__lg_$wdt")
      names.foldLeft(joined) { (dd, n) =>
        dd.withColumn(s"__rs_$n", col(s"__S_$n") - coalesce(col(s"__L_$n"), lit(0)))
          .drop(s"__L_$n", s"__S_$n")
      }
    }.drop("__bkt", "__crn")
  }

  /** Cheap few-symbol-skew probe deciding global-window vs bucketed: max
    * rows per symbol above `threshold` means some single window partition
    * would serialize a long history on one task. One count aggregation over
    * the symbol column only — pass `probe` = a cheaper upstream frame (e.g.
    * raw ticks, a column-pruned parquet scan) when `df` is itself an
    * aggregation that would otherwise materialize just to decide; tick
    * counts upper-bound candle counts, which is all a threshold needs.
    *
    * Default threshold 150k: a ~150k-row serial window task costs ~0.1-0.3 s
    * — the same order as the bucketed path's two extra exchanges — so below
    * it the 1-exchange global plan wins (measured at sf0.1: 5 uniform
    * symbols × 20k rows, bucketed ≈ 2× global), and above it the global
    * plan degrades linearly with the hottest symbol while bucketed stays
    * flat at symbols × buckets parallelism (sf1: 500k-row hot symbol).
    */
  def fewSymbolSkew(probe: DataFrame, threshold: Long = 150000L): Boolean =
    maxRowsPerSymbol(probe) > threshold

  /** One probe job per call: the result only picks a plan (both window
    * paths are bit-identical), so no statistic is kept between calls.
    */
  private def maxRowsPerSymbol(probe: DataFrame): Long =
    probe.groupBy("symbol").count()
      .agg(coalesce(max("count"), lit(0L))).head().getLong(0)

  /** W1 with runtime path selection (see [[fewSymbolSkew]]). */
  def withVolumeSpikesAuto(df: DataFrame, window: Int = 60, mult: Double = 1.5,
                           bucketSeconds: Long = 86400L, exact: Boolean = false,
                           probe: Option[DataFrame] = None,
                           threshold: Long = 150000L): DataFrame =
    if (fewSymbolSkew(probe.getOrElse(df), threshold))
      withVolumeSpikesBucketed(df, window, mult, bucketSeconds, exact)
    else withVolumeSpikes(df, window, mult, exact)

  /** W4 with runtime path selection (see [[fewSymbolSkew]]). */
  def withBollingerAuto(df: DataFrame, period: Int = 20, nbDev: Double = 2.0,
                        bucketSeconds: Long = 86400L, exact: Boolean = false,
                        probe: Option[DataFrame] = None,
                        threshold: Long = 150000L): DataFrame =
    if (fewSymbolSkew(probe.getOrElse(df), threshold))
      withBollingerBucketed(df, period, nbDev, bucketSeconds, exact)
    else withBollinger(df, period, nbDev, exact)

  /** W1 via [[withBucketedRollingSums]], symbols × buckets parallelism.
    * `exact = true`: decimal sums, bit-identical to
    * `withVolumeSpikes(df, exact = true)` (same decimal sum, same
    * double-cast division) — the oracle path. `exact = false`: double
    * prefix sums (codegen'd, no decimal cost) — the production/bench path;
    * S(g) − S(g−w) in doubles differs from the direct frame sum in last
    * ulps, same class of divergence as the plain `exact = false` variant.
    */
  def withVolumeSpikesBucketed(df: DataFrame, window: Int = 60, mult: Double = 1.5,
                               bucketSeconds: Long = 86400L,
                               exact: Boolean = true): DataFrame = {
    val vol = if (exact) col("volume").cast("decimal(18,4)") else col("volume")
    withBucketedRollingSums(df, bucketSeconds, Seq(("vol", vol, window)))
      // divide by the rolling NON-NULL count (= the global path's
      // count(volume) over the frame); an all-null frame yields NULL, not
      // the 0/0 NaN a row-index denominator would produce
      .withColumn("rolling_avg_volume",
        when(col("__rc_vol") > 0, col("__rs_vol").cast("double") / col("__rc_vol")))
      .withColumn("is_volume_spike",
        (col("volume") > col("rolling_avg_volume") * lit(mult)).cast("int"))
      .drop("__g", "__rs_vol", "__rc_vol")
  }

  /** W4 via [[withBucketedRollingSums]], symbols × buckets parallelism.
    * `exact = true`: mean and E[x²] from exact decimal rolling sums —
    * bit-identical to `withBollinger(df, exact = true)`. `exact = false`:
    * double prefix sums, the production/bench path (E[x²]−m² in doubles is
    * the same moment arithmetic the exact path uses, minus the decimal
    * exactness).
    */
  def withBollingerBucketed(df: DataFrame, period: Int = 20, nbDev: Double = 2.0,
                            bucketSeconds: Long = 86400L,
                            exact: Boolean = true): DataFrame = {
    val c = if (exact) col("close").cast("decimal(18,2)") else col("close")
    val pre = withBucketedRollingSums(df, bucketSeconds,
      Seq(("c", c, period), ("c2", c * c, period)), countFor = Set("c"))
    // denominator/fill gate = the rolling non-null count, mirroring the
    // global path's count(close) over the frame — null closes keep the two
    // paths bit-identical instead of silently relying on dense input
    val cnt = col("__rc_c")
    val filled = cnt >= period
    val m = col("__rs_c").cast("double") / cnt
    val ex2 = col("__rs_c2").cast("double") / cnt
    bollingerTail(pre, filled, m, sqrt(greatest(ex2 - m * m, lit(0.0))), nbDev)
      .drop("__g", "__rs_c", "__rs_c2", "__rc_c", "__rc_c2")
  }

  /** W12 — per NY-local-day running high/low with new-extreme flags
    * (reference: check_daily_anchors candle_to_calcs.py:276-311). Requires a
    * `local_date` column (see [[SessionLabels.withSessionLabels]]).
    *
    * The day's FIRST row initializes the daily state without counting as a
    * new extreme (the reference registers an anchor only when a later row
    * strictly exceeds the running value), so both flags require a non-null
    * lag and a strict comparison.
    */
  def withDailyRunningExtremes(df: DataFrame): DataFrame = {
    val wd = Window.partitionBy("symbol", "local_date").orderBy("timestamp")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wLag = Window.partitionBy("symbol", "local_date").orderBy("timestamp")
    val runHigh = max(col("high")).over(wd)
    val runLow = min(col("low")).over(wd)
    df.withColumn("daily_running_high", runHigh)
      .withColumn("daily_running_low", runLow)
      .withColumn("is_new_daily_high",
        (col("high") > lag(col("daily_running_high"), 1).over(wLag)).cast("int"))
      .withColumn("is_new_daily_low",
        (col("low") < lag(col("daily_running_low"), 1).over(wLag)).cast("int"))
      .withColumn("is_new_daily_high", coalesce(col("is_new_daily_high"), lit(0)))
      .withColumn("is_new_daily_low", coalesce(col("is_new_daily_low"), lit(0)))
  }

  /** W13 — time-trigger daily anchors: the FIRST row whose NY-local (hour,
    * minute) equals a trigger, once per (symbol, local day, trigger)
    * (reference: candle_to_calcs.py:289-299). Minute-exact on purpose: a day
    * with no 04:00:xx candle gets no 4am anchor — reference quirk preserved.
    * Requires local_date/local_hour/local_minute columns.
    */
  def timeTriggerAnchors(df: DataFrame,
                         triggers: Seq[(String, Int, Int)] = Seq(
                           ("daily_4am", 4, 0), ("daily_930", 9, 30), ("daily_4pm", 16, 0))): DataFrame = {
    val frames = triggers.map { case (name, h, m) =>
      val hit = df.filter(col("local_hour") === h && col("local_minute") === m)
      val first = Window.partitionBy("symbol", "local_date").orderBy("timestamp")
      hit.withColumn("__rn", row_number().over(first))
        .filter(col("__rn") === 1)
        .select(col("symbol"), lit(name).as("anchor_type"),
          col("timestamp").as("anchor_timestamp"), col("close").as("price_at_anchor"))
    }
    frames.reduce(_ unionByName _)
  }
}
