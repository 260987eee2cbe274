package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.calc.{AnchorSnapshots, IndicatorPass, PeaksPass, SessionLabels, WindowCalcs}
import graft.core.Tables
import graft.operators.{CandleAggregator, TickOps}
import graft.queries.Det._

/** The declared reference surface (SURVEY §2) as oracle-checked queries over
  * the ticks projection of `events` (see [[Tables.ticks]]).
  *
  * Every query here has a DuckDB-equivalent oracle; both sides follow the
  * exact-decimal discipline of [[Det]] so results hash-compare bit-for-bit.
  * Window aggregates in particular MUST use decimal sums: Spark evaluates
  * bounded frames by sequential re-accumulation while DuckDB uses segment
  * trees, so double sums would differ in final ulps.
  */
object QueriesDomain {

  // ---------------------------------------------------------------- DuckDB CTEs

  /** ticks projection, shared by every oracle below. `ts::TIMESTAMP`
    * truncates the parquet ns timestamps to µs exactly like the Spark-side
    * `div 1000` (verified: DuckDB truncates, not rounds).
    */
  private def ticksCteWhere(where: String) =
    s"""ticks AS (
       |  SELECT event_type AS symbol, ts::TIMESTAMP AS tstamp, value AS price,
       |         CAST(user_id + 1 AS DOUBLE) AS volume, event_id AS seq
       |  FROM events $where
       |)""".stripMargin

  private val ticksCte = ticksCteWhere("")

  /** Stage-1 CTEs for the end-to-end pipeline oracle: the P1 validity
    * predicate in ticks terms (price > 0, non-null volume source and ts —
    * `value > 0` is NULL-rejecting on its own) and the exact-timestamp
    * keep-last dedup (QUALIFY keep max seq per (symbol, µs-tstamp)).
    */
  private[queries] val pipelineTickWhere =
    "WHERE value > 0 AND user_id IS NOT NULL AND ts IS NOT NULL"

  private[queries] val pipelineDedupCte =
    """tdd AS (
      |  SELECT * FROM ticks
      |  QUALIFY row_number() OVER (PARTITION BY symbol, tstamp
      |    ORDER BY seq DESC) = 1
      |)""".stripMargin

  /** G1 candles (1-second) as a CTE. arg_min/arg_max pin open/close by time —
    * (symbol, tstamp) is unique in the testdata so ties cannot occur.
    */
  private def candlesCteFrom(src: String) =
    s"""candles AS (
       |  SELECT symbol,
       |    min(tstamp) AS tstamp,
       |    arg_min(price, tstamp) AS open,
       |    max(price) AS high,
       |    min(price) AS low,
       |    arg_max(price, tstamp) AS close,
       |    CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS volume,
       |    COUNT(*) AS number_of_trades,
       |    CASE WHEN SUM(CAST(volume AS DECIMAL(18,4))) > 0 THEN
       |      CAST(SUM(CAST(price AS DECIMAL(18,4)) * CAST(volume AS DECIMAL(18,4))) AS DOUBLE)
       |        / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) END AS vwap
       |  FROM $src GROUP BY symbol, date_trunc('second', tstamp)
       |)""".stripMargin

  private val candlesCte = candlesCteFrom("ticks")

  private[queries] val withTicks = s"WITH $ticksCte"
  private[queries] val withCandles = s"WITH $ticksCte, $candlesCte"

  /** `withCandles` with stage 1 in front: validated ticks → keep-last
    * dedup → candles — the pipeline-full preamble (plain and RECURSIVE
    * forms; the latter feeds the recursive H-state-machine CTEs).
    */
  private[queries] val withCandlesPipeline =
    s"WITH ${ticksCteWhere(pipelineTickWhere)}, $pipelineDedupCte, ${candlesCteFrom("tdd")}"

  private[queries] val withCandlesPipelineRec =
    s"WITH RECURSIVE ${ticksCteWhere(pipelineTickWhere)}, $pipelineDedupCte, ${candlesCteFrom("tdd")}"

  private[queries] val fmt = "%Y-%m-%d %H:%M:%S.%f"

  // ---------------------------------------------------------------- Spark helpers

  private[queries] def ticks(s: SparkSession, dir: String): DataFrame = Tables.ticks(s, dir)

  private[queries] def candles(s: SparkSession, dir: String): DataFrame =
    CandleAggregator.aggregate(ticks(s, dir))

  private val candleCols = Seq("open", "high", "low", "close", "volume", "number_of_trades", "vwap")

  private def candleSelect(df: DataFrame): DataFrame =
    df.select((col("symbol") +: tsMicros(col("timestamp")).as("ts") +: candleCols.map(col)): _*)

  // ---------------------------------------------------------------- G1 / G2

  /** G1/F2 — 1-second OHLCV+VWAP candle aggregation, the reference's core
    * operator (aggregator_candles.py:181-226).
    */
  private def g1(s: SparkSession, dir: String): DataFrame = candleSelect(candles(s, dir))

  private val g1Sql =
    s"""$withCandles
       |SELECT symbol, strftime(tstamp, '$fmt') AS ts,
       |  open, high, low, close, volume, number_of_trades, vwap
       |FROM candles""".stripMargin

  /** G2 — `use_raw` rollup: candles re-aggregated into 60-second candles over
    * the close price (aggregator_candles.py:196,312).
    */
  private def g2(s: SparkSession, dir: String): DataFrame =
    candleSelect(CandleAggregator.aggregate(candles(s, dir), seconds = 60, priceCol = "close"))

  private val g2Sql =
    s"""$withCandles
       |SELECT symbol, strftime(min(tstamp), '$fmt') AS ts,
       |  arg_min(close, tstamp) AS open, max(close) AS high, min(close) AS low,
       |  arg_max(close, tstamp) AS close,
       |  CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS volume,
       |  COUNT(*) AS number_of_trades,
       |  CASE WHEN SUM(CAST(volume AS DECIMAL(18,4))) > 0 THEN
       |    CAST(SUM(CAST(close AS DECIMAL(18,4)) * CAST(volume AS DECIMAL(18,4))) AS DOUBLE)
       |      / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) END AS vwap
       |FROM candles GROUP BY symbol, epoch_us(tstamp) // 60000000""".stripMargin

  /** G2 chained — the multi-timeframe rollup the reference scaffolds but
    * never activates (aggregator_candles.py:30,196): 1s → 1m → 1h, each
    * level aggregating the previous level's close. Candle timestamps stay
    * first-input timestamps at every level (the G1 quirk composes).
    */
  private def g2chain(s: SparkSession, dir: String): DataFrame =
    candleSelect(CandleAggregator.aggregate(
      CandleAggregator.aggregate(candles(s, dir), seconds = 60, priceCol = "close"),
      seconds = 3600, priceCol = "close"))

  private def rollupSelect(src: String, divUs: Long): String =
    s"""SELECT symbol, min(tstamp) AS tstamp,
       |  arg_min(close, tstamp) AS open, max(close) AS high, min(close) AS low,
       |  arg_max(close, tstamp) AS close,
       |  CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS volume,
       |  COUNT(*) AS number_of_trades,
       |  CASE WHEN SUM(CAST(volume AS DECIMAL(18,4))) > 0 THEN
       |    CAST(SUM(CAST(close AS DECIMAL(18,4)) * CAST(volume AS DECIMAL(18,4))) AS DOUBLE)
       |      / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) END AS vwap
       |FROM $src GROUP BY symbol, epoch_us(tstamp) // $divUs""".stripMargin

  private val g2chainSql =
    s"""$withCandles,
       |c1m AS (${rollupSelect("candles", 60000000L)}),
       |c1h AS (${rollupSelect("c1m", 3600000000L)})
       |SELECT symbol, strftime(tstamp, '$fmt') AS ts,
       |  open, high, low, close, volume, number_of_trades, vwap
       |FROM c1h""".stripMargin

  /** W15 (extension) — a TIME-range window frame: trailing 5-minute mean
    * close per candle. Row frames (w1-w4) assume regular spacing; range
    * frames are the correct rolling form for irregular series, and Spark
    * plans them in the same sort-based window exec.
    */
  private def w15(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy(unix_micros(col("timestamp")))
      .rangeBetween(-300000000L, 0)
    candles(s, dir)
      .withColumn("close_5m_avg",
        sum(col("close").cast("decimal(18,2)")).over(w).cast("double") /
          count(lit(1)).over(w))
      .select(col("symbol"), tsMicros(col("timestamp")).as("ts"),
        col("close"), col("close_5m_avg"))
  }

  private val w15Sql =
    s"""$withCandles
       |SELECT symbol, strftime(tstamp, '$fmt') AS ts, close,
       |  CAST(SUM(CAST(close AS DECIMAL(18,2))) OVER w AS DOUBLE)
       |    / COUNT(*) OVER w AS close_5m_avg
       |FROM candles
       |WINDOW w AS (PARTITION BY symbol ORDER BY epoch_us(tstamp)
       |             RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** W17 (extension) — robust per-symbol anomaly detection: median/MAD
    * outliers (Leys et al. 2013, the robust replacement for z-scores — W1's
    * mean/stddev spike flags are themselves dragged by the outliers they
    * hunt). Both medians use q13's exact ceil-rank selection (type-1
    * quantile, value AT rank ⌈n/2⌉ — a selected input, never interpolated
    * arithmetic, so the doubles are bit-identical cross-engine), and the
    * flag is `|price − med| > 4.4478·mad` (3σ-equivalent: 3 × the 1.4826
    * normal-consistency constant). On this corpus the heavy value tail
    * yields ~5 % outliers per symbol.
    *
    * Scale: two per-symbol sort-window passes (the same shape every W row
    * plans) + one broadcast-sized (symbol, med, mad) frame joined back;
    * a pathological hot symbol takes the h1_bucketed treatment — median
    * selection distributes as a rank-select ([[graft.functions.RankSelect]])
    * without the window sort.
    */
  private def w17(s: SparkSession, dir: String): DataFrame = {
    def medOf(df: DataFrame, valueCol: String, tieCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("symbol"))
        .orderBy(col(valueCol).asc, col(tieCol).asc)
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("symbol"))))
        .groupBy(col("symbol"))
        .agg(max(when(col("rn") === ceil(col("n") * lit(0.5)), col(valueCol))).as(out))
    }
    val t = ticks(s, dir).select(col("symbol"), col("price"), col("seq"))
    val med = medOf(t, "price", "seq", "med")
    val dev = t.join(broadcast(med), Seq("symbol"))
      .withColumn("dev", abs(col("price") - col("med")))
    val mad = medOf(dev, "dev", "seq", "mad")
    dev.join(broadcast(mad), Seq("symbol"))
      .withColumn("is_out", (col("dev") > lit(4.4478) * col("mad")).cast("long"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(col("is_out")).as("n_outliers"),
        sum(when(col("is_out") === 1L, col("seq"))).as("sum_outlier_seq"))
  }

  /** W17's hot-symbol form — the treatment the w17 scaladoc promises: both
    * medians via [[graft.functions.RankSelect.selectCeilHalf]] histogram
    * selection (one map-side-combinable histogram pass + a boundary-bucket
    * window) instead of the per-symbol full window sort, so a pathological
    * hot symbol costs a bucket sort, not a symbol sort. Cent buckets
    * (`floor(value·100)`): monotone, so bucket order refines value order
    * and the selected doubles are bit-identical — proven by hashing against
    * the SAME oracle as the flat row (the h1_bucketed convention).
    */
  private def w17Bucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.RankSelect
    val t = ticks(s, dir).select(col("symbol"), col("price"), col("seq"))
    val med = RankSelect.selectCeilHalf(t, Seq("symbol"), "price", "seq",
      floor(col("price") * 100), "med")
    val dev = t.join(broadcast(med), Seq("symbol"))
      .withColumn("dev", abs(col("price") - col("med")))
    val mad = RankSelect.selectCeilHalf(dev, Seq("symbol"), "dev", "seq",
      floor(col("dev") * 100), "mad")
    dev.join(broadcast(mad), Seq("symbol"))
      .withColumn("is_out", (col("dev") > lit(4.4478) * col("mad")).cast("long"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(col("is_out")).as("n_outliers"),
        sum(when(col("is_out") === 1L, col("seq"))).as("sum_outlier_seq"))
  }

  private val w17Sql =
    s"""$withTicks, r AS (
       |  SELECT symbol, price, seq,
       |    ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY price ASC, seq ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY symbol) AS n
       |  FROM ticks),
       |med AS (
       |  SELECT symbol, MAX(CASE WHEN rn = CEIL(n * 0.5) THEN price END) AS med
       |  FROM r GROUP BY symbol),
       |d AS (
       |  SELECT t.symbol, t.price, t.seq, abs(t.price - m.med) AS dev, m.med
       |  FROM ticks t JOIN med m USING (symbol)),
       |r2 AS (
       |  SELECT symbol, dev, seq,
       |    ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY dev ASC, seq ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY symbol) AS n
       |  FROM d),
       |mad AS (
       |  SELECT symbol, MAX(CASE WHEN rn = CEIL(n * 0.5) THEN dev END) AS mad
       |  FROM r2 GROUP BY symbol)
       |SELECT d.symbol, COUNT(*) AS n_ticks,
       |  MAX(d.med) AS med, MAX(m.mad) AS mad,
       |  CAST(SUM(CASE WHEN d.dev > 4.4478 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_outliers,
       |  CAST(SUM(CASE WHEN d.dev > 4.4478 * m.mad THEN d.seq END) AS BIGINT)
       |    AS sum_outlier_seq
       |FROM d JOIN mad m USING (symbol) GROUP BY d.symbol""".stripMargin

  // ---------------------------------------------------------------- G5 / J2

  /** G5 — keep-last dedup: one tick per (symbol, second), latest wins
    * (fetch_historical_trades_nvda.py:239-245, aggregator_candles.py:120-124).
    */
  private def g5(s: SparkSession, dir: String): DataFrame = {
    val t = ticks(s, dir).withColumn("bucket", date_trunc("second", col("timestamp")))
    TickOps.dedupKeepLast(t, Seq("symbol", "bucket"), Seq(col("timestamp"), col("seq")))
      .select(col("symbol"), tsMicros(col("timestamp")).as("ts"),
        col("price"), col("volume"), col("seq"))
  }

  private val g5Sql =
    s"""$withTicks, r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY symbol, date_trunc('second', tstamp)
       |    ORDER BY tstamp DESC, seq DESC) AS rn
       |  FROM ticks)
       |SELECT symbol, strftime(tstamp, '$fmt') AS ts, price, volume, seq
       |FROM r WHERE rn = 1""".stripMargin

  /** J2/U1/G5 — upsert merge: old ∪ new, new side wins on key collision
    * (merge_temp_to_final_csv, fetch_historical_trades_nvda.py:203-258).
    * "New" = every 5th tick with a doubled price; the merged result must show
    * the doubled price exactly on those keys.
    */
  private def j2(s: SparkSession, dir: String): DataFrame = {
    val t = ticks(s, dir)
    val fresh = t.filter(col("seq") % 5 === 0).withColumn("price", col("price") * 2)
    TickOps.mergeKeepNew(t, fresh, Seq("symbol", "timestamp"))
      .select(col("symbol"), tsMicros(col("timestamp")).as("ts"),
        col("price"), col("volume"), col("seq"))
  }

  private val j2Sql =
    s"""$withTicks
       |SELECT symbol, strftime(tstamp, '$fmt') AS ts,
       |  CASE WHEN seq % 5 = 0 THEN price * 2 ELSE price END AS price,
       |  volume, seq
       |FROM ticks""".stripMargin

  // ---------------------------------------------------------------- P1 / P3 / P7

  /** P1/P2/A3 — tick validity split with per-reason counts. The testdata is
    * all-valid, so invalid rows are injected deterministically by seq before
    * the operator runs (negative/null price, negative volume).
    */
  private def p1(s: SparkSession, dir: String): DataFrame = {
    val t = ticks(s, dir)
      .withColumn("price",
        when(col("seq") % 97 === 0, -col("price"))
          .when(col("seq") % 101 === 0, lit(null))
          .otherwise(col("price")))
      .withColumn("volume", when(col("seq") % 89 === 0, -col("volume")).otherwise(col("volume")))
    val vf = TickOps.validate(t)
    val inv = vf.invalid.groupBy(col("reject_reason"))
      .agg(count(lit(1)).as("n"), sum(col("seq")).as("sum_seq"))
    val ok = vf.valid.agg(count(lit(1)).as("n"), sum(col("seq")).as("sum_seq"))
      .select(lit("valid").as("reject_reason"), col("n"), col("sum_seq"))
    inv.unionByName(ok)
  }

  private val p1Sql =
    s"""$withTicks, t AS (
       |  SELECT seq,
       |    CASE WHEN seq % 97 = 0 THEN -price WHEN seq % 101 = 0 THEN NULL ELSE price END AS price,
       |    CASE WHEN seq % 89 = 0 THEN -volume ELSE volume END AS volume,
       |    tstamp
       |  FROM ticks),
       |lab AS (
       |  SELECT seq,
       |    CASE WHEN price IS NULL OR volume IS NULL OR tstamp IS NULL THEN 'null_field'
       |         WHEN price <= 0 THEN 'nonpositive_price'
       |         WHEN volume < 0 THEN 'negative_volume'
       |         ELSE 'valid' END AS reject_reason
       |  FROM t)
       |SELECT reject_reason, COUNT(*) AS n, CAST(SUM(seq) AS BIGINT) AS sum_seq
       |FROM lab GROUP BY reject_reason""".stripMargin

  /** P3 — candle validity divert with per-reason counts
    * (candle_to_calcs.py:76-136); corruption injected by timestamp µs
    * residues to hit every rule (high<low, nonpositive open, negative volume,
    * zero trades with volume).
    */
  private def p3(s: SparkSession, dir: String): DataFrame = {
    val us = unix_micros(col("timestamp"))
    val c = candles(s, dir)
      .withColumn("high", when(us % 13 === 0, col("low") - 1).otherwise(col("high")))
      .withColumn("open", when(us % 17 === 0, -col("open")).otherwise(col("open")))
      .withColumn("volume", when(us % 19 === 0, -col("volume")).otherwise(col("volume")))
      .withColumn("number_of_trades", when(us % 23 === 0, lit(0L)).otherwise(col("number_of_trades")))
    val vf = CandleAggregator.validateCandles(c)
    val inv = vf.invalid.groupBy(col("reject_reason")).agg(count(lit(1)).as("n"))
    val ok = vf.valid.agg(count(lit(1)).as("n"))
      .select(lit("valid").as("reject_reason"), col("n"))
    inv.unionByName(ok)
  }

  private val p3Sql =
    s"""$withCandles, c AS (
       |  SELECT
       |    CASE WHEN epoch_us(tstamp) % 13 = 0 THEN low - 1 ELSE high END AS high,
       |    low,
       |    CASE WHEN epoch_us(tstamp) % 17 = 0 THEN -open ELSE open END AS open,
       |    close,
       |    CASE WHEN epoch_us(tstamp) % 19 = 0 THEN -volume ELSE volume END AS volume,
       |    CASE WHEN epoch_us(tstamp) % 23 = 0 THEN 0 ELSE number_of_trades END AS number_of_trades
       |  FROM candles),
       |lab AS (
       |  SELECT CASE
       |    WHEN open IS NULL OR high IS NULL OR low IS NULL OR close IS NULL
       |      OR volume IS NULL OR number_of_trades IS NULL THEN 'null_field'
       |    WHEN high < low THEN 'high_lt_low'
       |    WHEN open <= 0 OR close <= 0 THEN 'nonpositive_price'
       |    WHEN volume < 0 THEN 'negative_volume'
       |    WHEN number_of_trades <= 0 AND volume > 0 THEN 'trades_volume_mismatch'
       |    ELSE 'valid' END AS reject_reason
       |  FROM c)
       |SELECT reject_reason, COUNT(*) AS n FROM lab GROUP BY reject_reason""".stripMargin

  /** P7 — per-symbol timestamp-gap stats over candles
    * (candle_to_calcs.py:114-128), exact integer-µs gaps.
    */
  private def p7(s: SparkSession, dir: String): DataFrame =
    CandleAggregator.gapStats(candles(s, dir))

  private val p7Sql =
    s"""$withCandles, g AS (
       |  SELECT symbol,
       |    epoch_us(tstamp) - lag(epoch_us(tstamp)) OVER (PARTITION BY symbol ORDER BY tstamp) AS gap
       |  FROM candles)
       |SELECT symbol,
       |  CAST(SUM(CASE WHEN gap > 1500000 THEN 1 ELSE 0 END) AS BIGINT) AS gap_count,
       |  MAX(CASE WHEN gap > 1500000 THEN gap END) AS max_gap_us
       |FROM g GROUP BY symbol""".stripMargin

  // ---------------------------------------------------------------- G3 / G6

  /** G3 — final-output audit aggregates
    * (validate_final_csv, fetch_historical_trades_nvda.py:286-325).
    */
  private def g3(s: SparkSession, dir: String): DataFrame =
    TickOps.audit(ticks(s, dir))
      .withColumn("min_ts", tsMicros(col("min_ts")))
      .withColumn("max_ts", tsMicros(col("max_ts")))

  private val g3Sql =
    s"""$withTicks
       |SELECT COUNT(*) AS total_rows,
       |  CAST(SUM(CASE WHEN price IS NULL OR volume IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_price_volume,
       |  CAST(SUM(CASE WHEN price <= 0 OR volume < 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_price_volume,
       |  COUNT(DISTINCT tstamp) AS distinct_timestamps,
       |  strftime(MIN(tstamp), '$fmt') AS min_ts,
       |  strftime(MAX(tstamp), '$fmt') AS max_ts
       |FROM ticks""".stripMargin

  /** G6/O3 — distinct symbols, sorted, head-N (aggregator_candles.py:464-465).
    * Plans as TakeOrderedAndProject after a partial distinct — no global sort.
    */
  private def g6(s: SparkSession, dir: String): DataFrame =
    ticks(s, dir).select("symbol").distinct().orderBy("symbol").limit(3)

  private val g6Sql =
    s"""$withTicks
       |SELECT DISTINCT symbol FROM ticks ORDER BY symbol LIMIT 3""".stripMargin

  // ---------------------------------------------------------------- F6 / F7

  /** F6/F3 — one-hot session labels over NY wall-clock, aggregated per symbol
    * (label_session_binary, candle_to_calcs.py:352-379).
    */
  private def f6(s: SparkSession, dir: String): DataFrame = {
    val labeled = SessionLabels.withSessionLabels(candles(s, dir))
    val sums = SessionLabels.labelNames.map(n => sum(col(n)).cast("long").as(n))
    labeled.groupBy(col("symbol")).agg(sums.head, sums.tail :+ count(lit(1)).as("n_candles"): _*)
  }

  private val f6Sql = {
    val cases = SessionLabels.minuteRanges.map { case (name, lo, hi) =>
      s"  CAST(SUM(CASE WHEN m >= $lo AND m < $hi THEN 1 ELSE 0 END) AS BIGINT) AS $name"
    }.mkString(",\n")
    s"""$withCandles, loc AS (
       |  SELECT symbol, timezone('America/New_York', timezone('UTC', tstamp)) AS lt
       |  FROM candles),
       |hm AS (SELECT symbol, hour(lt) * 60 + minute(lt) AS m FROM loc)
       |SELECT symbol,
       |$cases,
       |  COUNT(*) AS n_candles
       |FROM hm GROUP BY symbol""".stripMargin
  }

  /** F7 — JSON extraction over events.props via from_json (extension surface,
    * SURVEY §1.1); aggregated per event_type.
    */
  private def f7(s: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    Tables.events(s, dir)
      .withColumn("k", from_json(col("props"), schema).getField("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k").cast("long")).as("sum_k"), count(col("k")).as("n_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
  }

  private val f7Sql =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(json_extract_string(props, '$.k')) AS n_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- W-family

  /** W1 — rolling-60 average volume + spike flag
    * (detect_volume_spikes, candle_to_calcs.py:517-526).
    *
    * The oracle row runs the BUCKETED scale path: bit-identical to the
    * exact global-window form (WindowCalcsSpec pins it), so a hash-green
    * row is a driver-visible proof that the symbols × buckets plan computes
    * the same rolling-60 frame as the per-symbol window.
    */
  private def w1(s: SparkSession, dir: String): DataFrame =
    WindowCalcs.withVolumeSpikesBucketed(candles(s, dir))
      .select(col("symbol"), tsMicros(col("timestamp")).as("ts"),
        col("volume"), col("rolling_avg_volume"), col("is_volume_spike"))

  private val w1Sql =
    s"""$withCandles, w AS (
       |  SELECT symbol, tstamp, volume,
       |    CAST(SUM(CAST(volume AS DECIMAL(18,4))) OVER win AS DOUBLE)
       |      / COUNT(*) OVER win AS rolling_avg_volume
       |  FROM candles
       |  WINDOW win AS (PARTITION BY symbol ORDER BY tstamp
       |                 ROWS BETWEEN 59 PRECEDING AND CURRENT ROW))
       |SELECT symbol, strftime(tstamp, '$fmt') AS ts, volume, rolling_avg_volume,
       |  CASE WHEN volume > rolling_avg_volume * 1.5 THEN 1 ELSE 0 END AS is_volume_spike
       |FROM w""".stripMargin

  /** W2 — lag-diff with the reference's nulls→0 collapse
    * (candle_to_calcs.py:411,437).
    */
  private def w2(s: SparkSession, dir: String): DataFrame =
    WindowCalcs.withLagDiff(candles(s, dir), "close", "close_diff")
      .select(col("symbol"), tsMicros(col("timestamp")).as("ts"),
        col("close"), col("close_diff"))

  private val w2Sql =
    s"""$withCandles
       |SELECT symbol, strftime(tstamp, '$fmt') AS ts, close,
       |  COALESCE(close - lag(close, 1) OVER (PARTITION BY symbol ORDER BY tstamp), 0.0) AS close_diff
       |FROM candles""".stripMargin

  /** W3 — rolling mean with pandas min_periods=window (null until the frame
    * fills; candle_to_calcs.py:412).
    */
  private def w3x(exact: Boolean)(s: SparkSession, dir: String): DataFrame =
    WindowCalcs.rollingMeanFull(candles(s, dir), "close", "close_ma14", 14, exact = exact)
      .select(col("symbol"), tsMicros(col("timestamp")).as("ts"),
        col("close"), col("close_ma14"))

  private def w3(s: SparkSession, dir: String): DataFrame = w3x(exact = true)(s, dir)

  private val w3Sql =
    s"""$withCandles, w AS (
       |  SELECT symbol, tstamp, close,
       |    COUNT(*) OVER win AS cnt,
       |    CAST(SUM(CAST(close AS DECIMAL(18,2))) OVER win AS DOUBLE) AS s1
       |  FROM candles
       |  WINDOW win AS (PARTITION BY symbol ORDER BY tstamp
       |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
       |SELECT symbol, strftime(tstamp, '$fmt') AS ts, close,
       |  CASE WHEN cnt >= 14 THEN s1 / cnt END AS close_ma14
       |FROM w""".stripMargin

  /** W4 — Bollinger Bands with the reference's exact derived columns
    * (candle_to_calcs.py:419-425).
    */
  private def w4x(exact: Boolean)(s: SparkSession, dir: String): DataFrame =
    WindowCalcs.withBollinger(candles(s, dir), exact = exact)
      .select(col("symbol"), tsMicros(col("timestamp")).as("ts"), col("close"),
        col("bb_mid"), col("bb_upper"), col("bb_lower"),
        col("bb_width"), col("bb_pos"), col("bb_breakout"))

  private def w4(s: SparkSession, dir: String): DataFrame = w4x(exact = true)(s, dir)

  /** Bucketed W4 (same projection as [[w4x]]) — the few-symbol-skew bench
    * path: double prefix sums, symbols × buckets parallelism. The decimal
    * `exact = true` twin is bit-identical to w4's global form per
    * WindowCalcsSpec.
    */
  private def w4b(s: SparkSession, dir: String): DataFrame =
    WindowCalcs.withBollingerAuto(candles(s, dir), exact = false,
        probe = Some(ticks(s, dir)))
      .select(col("symbol"), tsMicros(col("timestamp")).as("ts"), col("close"),
        col("bb_mid"), col("bb_upper"), col("bb_lower"),
        col("bb_width"), col("bb_pos"), col("bb_breakout"))

  private val w4Sql =
    s"""$withCandles, b AS (
       |  SELECT symbol, tstamp, close,
       |    COUNT(*) OVER win AS cnt,
       |    CAST(SUM(CAST(close AS DECIMAL(18,2))) OVER win AS DOUBLE) AS s1,
       |    CAST(SUM(CAST(close AS DECIMAL(18,2)) * CAST(close AS DECIMAL(18,2))) OVER win AS DOUBLE) AS s2
       |  FROM candles
       |  WINDOW win AS (PARTITION BY symbol ORDER BY tstamp
       |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
       |m AS (
       |  SELECT symbol, tstamp, close,
       |    CASE WHEN cnt >= 20 THEN s1 / cnt ELSE close END AS bb_mid,
       |    CASE WHEN cnt >= 20 THEN sqrt(greatest(s2 / cnt - (s1 / cnt) * (s1 / cnt), 0.0)) ELSE 0.0 END AS dev
       |  FROM b)
       |SELECT symbol, strftime(tstamp, '$fmt') AS ts, close,
       |  bb_mid,
       |  bb_mid + 2.0 * dev AS bb_upper,
       |  bb_mid - 2.0 * dev AS bb_lower,
       |  (bb_mid + 2.0 * dev) - (bb_mid - 2.0 * dev) AS bb_width,
       |  CASE WHEN (bb_mid + 2.0 * dev) <> (bb_mid - 2.0 * dev)
       |    THEN (close - (bb_mid - 2.0 * dev)) / ((bb_mid + 2.0 * dev) - (bb_mid - 2.0 * dev)) END AS bb_pos,
       |  CASE WHEN close > bb_mid + 2.0 * dev OR close < bb_mid - 2.0 * dev THEN 1 ELSE 0 END AS bb_breakout
       |FROM m""".stripMargin

  /** W12 — per NY-local-day running extremes + new-extreme flags, aggregated
    * per (symbol, day) (check_daily_anchors, candle_to_calcs.py:276-311).
    */
  private def w12(s: SparkSession, dir: String): DataFrame = {
    val labeled = SessionLabels.withSessionLabels(candles(s, dir))
    WindowCalcs.withDailyRunningExtremes(labeled)
      .groupBy(col("symbol"), date_format(col("local_date"), "yyyy-MM-dd").as("local_date"))
      .agg(
        max(col("daily_running_high")).as("daily_high"),
        min(col("daily_running_low")).as("daily_low"),
        sum(col("is_new_daily_high")).cast("long").as("n_new_highs"),
        sum(col("is_new_daily_low")).cast("long").as("n_new_lows"),
        count(lit(1)).as("n"))
  }

  private val w12Sql =
    s"""$withCandles, loc AS (
       |  SELECT symbol, tstamp, high, low,
       |    CAST(timezone('America/New_York', timezone('UTC', tstamp)) AS DATE) AS ld
       |  FROM candles),
       |r AS (
       |  SELECT symbol, ld, tstamp, high, low,
       |    max(high) OVER w AS rh,
       |    min(low) OVER w AS rl
       |  FROM loc
       |  WINDOW w AS (PARTITION BY symbol, ld ORDER BY tstamp
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |f AS (
       |  SELECT symbol, ld, rh, rl,
       |    CASE WHEN high > lag(rh) OVER (PARTITION BY symbol, ld ORDER BY tstamp) THEN 1 ELSE 0 END AS inh,
       |    CASE WHEN low < lag(rl) OVER (PARTITION BY symbol, ld ORDER BY tstamp) THEN 1 ELSE 0 END AS inl
       |  FROM r)
       |SELECT symbol, strftime(ld, '%Y-%m-%d') AS local_date,
       |  max(rh) AS daily_high, min(rl) AS daily_low,
       |  CAST(SUM(inh) AS BIGINT) AS n_new_highs,
       |  CAST(SUM(inl) AS BIGINT) AS n_new_lows,
       |  COUNT(*) AS n
       |FROM f GROUP BY symbol, ld""".stripMargin

  /** W13 — minute-exact time-trigger daily anchors
    * (candle_to_calcs.py:289-299); a day with no candle at the trigger minute
    * gets no anchor — reference quirk preserved.
    */
  private def w13(s: SparkSession, dir: String): DataFrame = {
    val labeled = SessionLabels.withSessionLabels(candles(s, dir))
    WindowCalcs.timeTriggerAnchors(labeled)
      .select(col("symbol"), col("anchor_type"),
        tsMicros(col("anchor_timestamp")).as("anchor_ts"), col("price_at_anchor"))
  }

  private val w13Sql =
    s"""$withCandles, loc AS (
       |  SELECT symbol, tstamp, close,
       |    CAST(timezone('America/New_York', timezone('UTC', tstamp)) AS DATE) AS ld,
       |    hour(timezone('America/New_York', timezone('UTC', tstamp))) AS h,
       |    minute(timezone('America/New_York', timezone('UTC', tstamp))) AS mi
       |  FROM candles),
       |hits AS (
       |  SELECT *, CASE WHEN h = 4 AND mi = 0 THEN 'daily_4am'
       |                 WHEN h = 9 AND mi = 30 THEN 'daily_930'
       |                 WHEN h = 16 AND mi = 0 THEN 'daily_4pm' END AS anchor_type
       |  FROM loc),
       |rk AS (
       |  SELECT symbol, anchor_type, tstamp, close,
       |    row_number() OVER (PARTITION BY symbol, ld, anchor_type ORDER BY tstamp) AS rn
       |  FROM hits WHERE anchor_type IS NOT NULL)
       |SELECT symbol, anchor_type, strftime(tstamp, '$fmt') AS anchor_ts,
       |  close AS price_at_anchor
       |FROM rk WHERE rn = 1""".stripMargin

  /** H-family (W5–W9) — the full per-symbol indicator pass: MACD, ADX/±DI,
    * ATR, SAR, T3 + trend labels (candle_to_calcs.py:381-452). Exponential
    * recurrences are not SQL-expressible, so this entry has no DuckDB oracle
    * (rows-only check); fidelity is covered by TaGoldenSpec +
    * IndicatorPassSpec.
    */
  private def h1(s: SparkSession, dir: String): DataFrame = {
    val out = IndicatorPass.withIndicators(candles(s, dir))
    out.select((col("symbol") +: tsMicros(col("timestamp")).as("ts") +:
      IndicatorPass.indicatorFields.map(f => col(f.name))): _*)
  }


  /** W10/G7 — CDL candlestick patterns + candle_pattern_sum, fused into the
    * same single-shuffle pass as the H-family (candle_to_calcs.py:454-515).
    * Rows-only check (TA-Lib geometry is not DuckDB-expressible); shape
    * fidelity covered by PatternsSpec.
    */
  private def h2(s: SparkSession, dir: String): DataFrame = {
    val out = IndicatorPass.withIndicators(candles(s, dir), patterns = true)
    out.select((col("symbol") +: tsMicros(col("timestamp")).as("ts") +:
      IndicatorPass.patternFields.map(f => col(f.name))): _*)
  }

  /** Bench variant with runtime path selection ([[WindowCalcs.fewSymbolSkew]]
    * probe): flat single-exchange pass on uniform symbol layouts,
    * warm-up-overlap bucketed pass with the density-derived
    * [[IndicatorPass.autoBucket]] spec when a hot symbol would serialize —
    * parallelism symbols × buckets instead of symbols.
    * autoBucket (not a fixed 1-day bucket): on the
    * sparse test candles (~130 s apart at sf0.1) a fixed spec's 960 s warm-up
    * window covered ~7 rows — short of even the patterns' 10-row trailing
    * averages — so the bench variant was NOT the same answer near bucket
    * boundaries. The derived spec is bit-identical, proven by the
    * h1_bucketed/h2_bucketed hash rows below.
    */
  private def h2Bench(s: SparkSession, dir: String): DataFrame = {
    // auto path selection, same skew probe as W1/W4: below the
    // threshold the flat 1-exchange pass wins (no overlap replay, no
    // explode); above it the bucketed pass buys symbols × buckets
    // parallelism against a hot symbol's serial window
    if (!WindowCalcs.fewSymbolSkew(ticks(s, dir))) {
      val out = IndicatorPass.withIndicators(candles(s, dir), patterns = true)
      out.select((col("symbol") +: tsMicros(col("timestamp")).as("ts") +:
        IndicatorPass.patternFields.map(f => col(f.name))): _*)
    } else {
      // cache: the autoBucket stats pre-pass and the main pass share one
      // candle aggregation (cleared between bench reps by the harness)
      val c = candles(s, dir).cache()
      // h2 emits PATTERN columns only; the CDL kernels look back <= 13 rows
      // (10-row trailing averages + 4-candle context), so the bench variant
      // warms up 64 rows — not the 2600 the (discarded) exponential
      // indicator columns would need — with a wider bucket factor to keep
      // the overlap tax ~6%. Pattern outputs stay bit-identical (proven by
      // h2_bucketed's hash row, which runs the full-warm-up spec).
      val out = IndicatorPass.withIndicators(c, patterns = true,
        bucket = Some(IndicatorPass.autoBucket(c, warmupRows = 64, bucketFactor = 16)))
      out.select((col("symbol") +: tsMicros(col("timestamp")).as("ts") +:
        IndicatorPass.patternFields.map(f => col(f.name))): _*)
    }
  }

  /** The bucketed (warm-up-overlap) H-family pass on the CORRECTNESS
    * scoreboard: same fused single-shuffle engine as h1/h2, physical plan
    * symbols × buckets (the reference's own few-symbol scale scheme,
    * candle_to_calcs.py:647-691), checked hash-exact against the SAME
    * full-replay oracles as the flat rows. Bit-identity holds by
    * [[IndicatorPass.autoBucket]]'s two-regime argument: ≥2600 true warm-up
    * rows lock every exponential kernel's state to the ulp, or the clamp
    * degenerates to a full-history replay. Stats pre-pass + main pass = two
    * candle scans — deliberate: at scale a cheap extra scan beats caching
    * the whole candle frame.
    */
  private def h1Bucketed(s: SparkSession, dir: String): DataFrame = {
    val c = candles(s, dir).cache()
    // patterns = false: the bench pair h1_indicator_pass vs h1_bucketed
    // must compare the SAME kernel work (the fused pattern evaluator is
    // h2's own row)
    val out = IndicatorPass.withIndicators(c,
      bucket = Some(IndicatorPass.autoBucket(c)))
    out.select((col("symbol") +: tsMicros(col("timestamp")).as("ts") +:
      IndicatorPass.indicatorFields.map(f => col(f.name))): _*)
  }

  private def h2Bucketed(s: SparkSession, dir: String): DataFrame = {
    val c = candles(s, dir).cache()
    val out = IndicatorPass.withIndicators(c, patterns = true,
      bucket = Some(IndicatorPass.autoBucket(c)))
    out.select((col("symbol") +: tsMicros(col("timestamp")).as("ts") +:
      IndicatorPass.patternFields.map(f => col(f.name))): _*)
  }

  /** W11 — peak/valley flags (find_peaks port); oracle below replays scipy
    * in SQL, fidelity also in PeakFinderSpec.
    */
  private def w11(s: SparkSession, dir: String): DataFrame =
    PeaksPass.withPeakFlags(candles(s, dir))
      .select((col("symbol") +: tsMicros(col("timestamp")).as("ts") +:
        PeaksPass.peakFields.map(f => col(f.name))): _*)

  /** W11 oracle — scipy find_peaks replayed in DuckDB SQL (PeakFinder.scala
    * is the spec; reference: candle_to_calcs.py:528-558):
    *
    *  - local maxima via equal-value runs: a run is a peak iff both adjacent
    *    runs exist (signal edges excluded) and are strictly lower; the flag
    *    lands on the run midpoint `(a+b)//2`, scipy's plateau rule;
    *  - prominence: nearest strictly-higher bar on each side bounds the scan
    *    (signal edge fallback); prominence = height − the larger of the two
    *    side minima; independent of which other peaks survive thinning, so
    *    computed once per candidate;
    *  - greedy distance thinning as a recursive CTE stepping candidates in
    *    scipy's priority order (height DESC, index DESC — stable argsort
    *    iterated in reverse) carrying the kept-set as a LIST per
    *    (config, symbol, side): a candidate survives iff no surviving
    *    higher-priority candidate lies within `distance`. This fixpoint
    *    equals the sequential greedy because removal never cascades — a
    *    removed peak removes nothing.
    *
    * Valleys are peaks of the negated lows; the three granularities share
    * maxima + prominences and differ only in (distance, prominence floor).
    * All comparisons are on bit-identical doubles (the candle CTE is the
    * hash-green g1 oracle), so the flags match exactly.
    */
  /** The sig→flagged CTE chain implementing find_peaks over a caller-defined
    * relation `b(keys..., tstamp, pos, high, low)` with `pos` 0-based within
    * each key group. `flagged` = (cname, keys, side, p) — one row per kept
    * peak per granularity. Key-parameterized so W11 (per symbol) and the W14
    * peak anchors (per symbol × 30-day chunk, the reference's own chunked
    * find_peaks, candle_to_calcs.py:535) share one implementation.
    */
  private def peaksCtes(keys: Seq[String]): String = {
    val K = keys.mkString(", ")
    def eq(a: String, b: String) = keys.map(k => s"$a.$k = $b.$k").mkString(" AND ")
    s"""sig AS MATERIALIZED (
       |  SELECT $K, 'pk' AS side, pos, high AS x FROM b
       |  UNION ALL
       |  SELECT $K, 'vl' AS side, pos, -low AS x FROM b),
       |sr1 AS (
       |  SELECT *, CASE WHEN lag(x) OVER (PARTITION BY $K, side ORDER BY pos)
       |    IS DISTINCT FROM x THEN 1 ELSE 0 END AS st
       |  FROM sig),
       |sr2 AS (
       |  SELECT *, SUM(st) OVER (PARTITION BY $K, side ORDER BY pos) AS runid
       |  FROM sr1),
       |runs AS MATERIALIZED (
       |  SELECT $K, side, runid, MIN(pos) AS a, MAX(pos) AS b2, ANY_VALUE(x) AS h
       |  FROM sr2 GROUP BY ALL),
       |maxima AS MATERIALIZED (
       |  SELECT ${keys.map(k => s"r.$k").mkString(", ")}, r.side, (r.a + r.b2) // 2 AS p, r.h
       |  FROM runs r
       |  JOIN runs pv ON ${eq("pv", "r")} AND pv.side = r.side AND pv.runid = r.runid - 1
       |  JOIN runs nx ON ${eq("nx", "r")} AND nx.side = r.side AND nx.runid = r.runid + 1
       |  WHERE pv.h < r.h AND nx.h < r.h),
       |pb AS MATERIALIZED (
       |  SELECT ${keys.map(k => s"m.$k").mkString(", ")}, m.side, m.p, m.h,
       |    COALESCE((SELECT MAX(s.pos) FROM sig s WHERE ${eq("s", "m")}
       |      AND s.side = m.side AND s.pos < m.p AND s.x > m.h), -1) AS lb,
       |    COALESCE((SELECT MIN(s.pos) FROM sig s WHERE ${eq("s", "m")}
       |      AND s.side = m.side AND s.pos > m.p AND s.x > m.h), 1099511627776) AS rb
       |  FROM maxima m),
       |prom AS MATERIALIZED (
       |  SELECT ${keys.map(k => s"pb.$k").mkString(", ")}, pb.side, pb.p,
       |    pb.h - GREATEST(
       |      COALESCE((SELECT MIN(s.x) FROM sig s WHERE ${eq("s", "pb")}
       |        AND s.side = pb.side AND s.pos > pb.lb AND s.pos < pb.p), pb.h),
       |      COALESCE((SELECT MIN(s.x) FROM sig s WHERE ${eq("s", "pb")}
       |        AND s.side = pb.side AND s.pos > pb.p AND s.pos < pb.rb), pb.h)) AS prm
       |  FROM pb),
       |cfg(cname, dist, pthr) AS (VALUES ('major', 10, 0.9::DOUBLE),
       |  ('minor', 7, 0.7::DOUBLE), ('micro', 5, 0.5::DOUBLE)),
       |grp AS MATERIALIZED (
       |  SELECT cfg.cname, cfg.dist, ${keys.map(k => s"c.$k").mkString(", ")}, c.side, c.p,
       |    row_number() OVER (PARTITION BY cfg.cname, $K, side
       |      ORDER BY c.h DESC, c.p DESC) AS prio
       |  FROM maxima c CROSS JOIN cfg),
       |ng AS MATERIALIZED (
       |  SELECT cname, $K, side, MAX(prio) AS np FROM grp GROUP BY ALL),
       |thin AS (
       |  SELECT cname, $K, side, 0 AS step, CAST([] AS BIGINT[]) AS kept FROM ng
       |  UNION ALL
       |  SELECT t.cname, ${keys.map(k => s"t.$k").mkString(", ")}, t.side, t.step + 1,
       |    CASE WHEN len(list_filter(t.kept, q -> abs(q - g.p) < g.dist)) > 0
       |         THEN t.kept ELSE list_append(t.kept, g.p) END
       |  FROM thin t
       |  JOIN grp g ON g.cname = t.cname AND ${eq("g", "t")}
       |    AND g.side = t.side AND g.prio = t.step + 1),
       |fin AS (
       |  SELECT t.cname, ${keys.map(k => s"t.$k").mkString(", ")}, t.side, UNNEST(t.kept) AS p
       |  FROM thin t JOIN ng ON ng.cname = t.cname AND ${eq("ng", "t")}
       |    AND ng.side = t.side AND t.step = ng.np),
       |flagged AS (
       |  SELECT f.cname, ${keys.map(k => s"f.$k").mkString(", ")}, f.side, f.p
       |  FROM fin f
       |  JOIN prom ON ${eq("prom", "f")} AND prom.side = f.side AND prom.p = f.p
       |  JOIN cfg ON cfg.cname = f.cname
       |  WHERE prom.prm >= cfg.pthr)""".stripMargin
  }

  private val w11Sql =
    s"""WITH RECURSIVE $ticksCte, $candlesCte,
       |b AS MATERIALIZED (
       |  SELECT symbol, tstamp, high, low,
       |    row_number() OVER (PARTITION BY symbol ORDER BY tstamp) - 1 AS pos
       |  FROM candles),
       |${peaksCtes(Seq("symbol"))}
       |SELECT b.symbol, strftime(b.tstamp, '$fmt') AS ts,
       |  MAX(CASE WHEN fl.cname = 'major' AND fl.side = 'pk' THEN 1 ELSE 0 END) AS is_major_peak,
       |  MAX(CASE WHEN fl.cname = 'major' AND fl.side = 'vl' THEN 1 ELSE 0 END) AS is_major_valley,
       |  MAX(CASE WHEN fl.cname = 'minor' AND fl.side = 'pk' THEN 1 ELSE 0 END) AS is_minor_peak,
       |  MAX(CASE WHEN fl.cname = 'minor' AND fl.side = 'vl' THEN 1 ELSE 0 END) AS is_minor_valley,
       |  MAX(CASE WHEN fl.cname = 'micro' AND fl.side = 'pk' THEN 1 ELSE 0 END) AS is_micro_peak,
       |  MAX(CASE WHEN fl.cname = 'micro' AND fl.side = 'vl' THEN 1 ELSE 0 END) AS is_micro_valley
       |FROM b LEFT JOIN flagged fl ON fl.symbol = b.symbol AND fl.p = b.pos
       |GROUP BY b.symbol, b.tstamp""".stripMargin

  /** W14 — the anchored_vwap_points output table, fully oracle-checked
    * (w14fullSql); semantics also in AnchorSnapshotsSpec.
    */
  private def w14(s: SparkSession, dir: String): DataFrame =
    AnchorSnapshots.anchoredVwapPoints(candles(s, dir))
      .withColumn("anchor_timestamp", tsMicros(col("anchor_timestamp")))
      .withColumn("current_snapshot_timestamp", tsMicros(col("current_snapshot_timestamp")))

  /** W14 daily subset, oracle-checked: the pre-dedup snapshot rows for the
    * daily trigger + extreme anchors — chunking, the buffer-rebased cidx
    * arithmetic, day-first trigger selection, last-new-extreme selection and
    * the anchor × chunk-last-row cross all replicated in window SQL. Peak
    * anchors are excluded (see w14p) and the final keep-last dedup is
    * covered by the full-table oracle (w14fullSql).
    */
  private def w14d(s: SparkSession, dir: String): DataFrame =
    AnchorSnapshots.snapshots(candles(s, dir))
      .filter(col("anchor_type").startsWith("daily"))
      .select(col("symbol"), col("anchor_type"),
        tsMicros(col("anchor_timestamp")).as("anchor_ts"), col("anchor_idx"),
        col("price_at_anchor"),
        tsMicros(col("current_snapshot_timestamp")).as("snapshot_ts"), col("current_idx"))

  /** Shared W14 oracle machinery: localized candles, 30-day chunking, the
    * buffer-rebased cidx arithmetic and each chunk's last row — used by both
    * the daily-anchor subset (w14dSql) and the peak-anchor subset (w14pSql).
    */
  private[queries] val w14CommonCtes =
    s"""loc AS (
       |  SELECT symbol, tstamp, high, low, close,
       |    CAST(timezone('America/New_York', timezone('UTC', tstamp)) AS DATE) AS ld,
       |    hour(timezone('America/New_York', timezone('UTC', tstamp))) AS h,
       |    minute(timezone('America/New_York', timezone('UTC', tstamp))) AS mi,
       |    epoch_us(tstamp) // ${AnchorSnapshots.chunkUs()} AS chunk
       |  FROM candles),
       |cnts AS (SELECT symbol, chunk, COUNT(*) AS cnt FROM loc GROUP BY 1, 2),
       |pri AS (
       |  SELECT symbol AS ps, chunk AS pc,
       |    COALESCE(SUM(cnt) OVER (PARTITION BY symbol ORDER BY chunk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_rows
       |  FROM cnts),
       |r1 AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY symbol, chunk ORDER BY tstamp) AS crn,
       |    COUNT(*) OVER (PARTITION BY symbol, chunk) AS chunk_cnt,
       |    MAX(ld) OVER (PARTITION BY symbol, chunk) AS last_date,
       |    MAX(high) OVER (PARTITION BY symbol, ld ORDER BY tstamp
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rh,
       |    MIN(low) OVER (PARTITION BY symbol, ld ORDER BY tstamp
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rl
       |  FROM loc),
       |r2 AS (
       |  SELECT r1.*, p.prior_rows,
       |    CAST(crn - 1 + LEAST(p.prior_rows, 10000) AS BIGINT) AS cidx,
       |    CASE WHEN high > lag(rh) OVER (PARTITION BY symbol, ld ORDER BY tstamp)
       |      THEN 1 ELSE 0 END AS inh,
       |    CASE WHEN low < lag(rl) OVER (PARTITION BY symbol, ld ORDER BY tstamp)
       |      THEN 1 ELSE 0 END AS inl
       |  FROM r1 JOIN pri p ON r1.symbol = p.ps AND r1.chunk = p.pc),
       |last_rows AS (
       |  SELECT symbol AS lsym, chunk AS lchunk, tstamp AS snap_ts,
       |    cidx AS current_idx
       |  FROM r2 WHERE crn = chunk_cnt)""".stripMargin

  /** The daily-trigger + running-extreme anchor CTEs (shared by the daily
    * subset and the full-table oracle).
    */
  private[queries] val w14DailyAnchorCtes =
    s"""trig AS (
       |  SELECT symbol, chunk, anchor_type, tstamp, cidx, close AS price_at_anchor
       |  FROM (
       |    SELECT *, CASE WHEN h = 4 AND mi = 0 THEN 'daily_4am'
       |                   WHEN h = 9 AND mi = 30 THEN 'daily_930'
       |                   WHEN h = 16 AND mi = 0 THEN 'daily_4pm' END AS anchor_type
       |    FROM r2) x
       |  WHERE anchor_type IS NOT NULL
       |  QUALIFY row_number() OVER (PARTITION BY symbol, ld, anchor_type ORDER BY tstamp) = 1
       |    AND ld = last_date),
       |ext AS (
       |  SELECT symbol, chunk, 'daily_high' AS anchor_type, tstamp, cidx,
       |    high AS price_at_anchor
       |  FROM r2 WHERE inh = 1 AND ld = last_date
       |  QUALIFY row_number() OVER (PARTITION BY symbol, chunk ORDER BY tstamp DESC) = 1
       |  UNION ALL
       |  SELECT symbol, chunk, 'daily_low', tstamp, cidx, low
       |  FROM r2 WHERE inl = 1 AND ld = last_date
       |  QUALIFY row_number() OVER (PARTITION BY symbol, chunk ORDER BY tstamp DESC) = 1)""".stripMargin

  private val w14dSql =
    s"""$withCandles,
       |$w14CommonCtes,
       |$w14DailyAnchorCtes
       |SELECT a.symbol, a.anchor_type, strftime(a.tstamp, '$fmt') AS anchor_ts,
       |  a.cidx AS anchor_idx, a.price_at_anchor,
       |  strftime(l.snap_ts, '$fmt') AS snapshot_ts, l.current_idx
       |FROM (SELECT * FROM trig UNION ALL SELECT * FROM ext) a
       |JOIN last_rows l ON a.symbol = l.lsym AND a.chunk = l.lchunk""".stripMargin

  /** W14 FULL table oracle — daily triggers + running extremes + per-chunk
    * find_peaks anchors, each crossed with its chunk's last row, then the
    * keep-last dedup on (symbol, timeframe, anchor_timestamp) ordered by
    * (snapshot time, documented type priority) — the complete
    * anchored_vwap_points output replayed in SQL.
    */
  /** Anchor-union + last-row join + type-priority CTEs shared by the full
    * W14 oracle and the anchored-VWAP extension oracle.
    */
  private val w14JoinedCtes =
    s"""b AS MATERIALIZED (
       |  SELECT symbol, chunk, tstamp, high, low, crn - 1 AS pos FROM r2),
       |${peaksCtes(Seq("symbol", "chunk"))},
       |pk AS (
       |  SELECT r2.symbol, r2.chunk,
       |    fl.cname || '_' || (CASE WHEN fl.side = 'pk' THEN 'peak' ELSE 'valley' END) AS anchor_type,
       |    r2.tstamp, r2.cidx,
       |    CASE WHEN fl.side = 'pk' THEN r2.high ELSE r2.low END AS price_at_anchor
       |  FROM flagged fl
       |  JOIN r2 ON r2.symbol = fl.symbol AND r2.chunk = fl.chunk AND r2.crn - 1 = fl.p),
       |joined AS (
       |  SELECT a.symbol, '1s' AS timeframe, a.anchor_type, a.tstamp AS ats,
       |    a.cidx AS anchor_idx, a.price_at_anchor, l.snap_ts, l.current_idx,
       |    CASE a.anchor_type
       |      WHEN 'daily_4am' THEN 0 WHEN 'daily_930' THEN 1 WHEN 'daily_4pm' THEN 2
       |      WHEN 'daily_high' THEN 3 WHEN 'daily_low' THEN 4
       |      WHEN 'micro_peak' THEN 5 WHEN 'micro_valley' THEN 6
       |      WHEN 'minor_peak' THEN 7 WHEN 'minor_valley' THEN 8
       |      WHEN 'major_peak' THEN 9 WHEN 'major_valley' THEN 10 ELSE -1 END AS prio
       |  FROM (SELECT * FROM trig UNION ALL SELECT * FROM ext UNION ALL SELECT * FROM pk) a
       |  JOIN last_rows l ON a.symbol = l.lsym AND a.chunk = l.lchunk)""".stripMargin

  private[queries] def w14fullSqlFrom(preamble: String): String =
    s"""$preamble,
       |$w14CommonCtes,
       |$w14DailyAnchorCtes,
       |$w14JoinedCtes
       |SELECT symbol, timeframe, anchor_type,
       |  strftime(ats, '$fmt') AS anchor_timestamp, anchor_idx, price_at_anchor,
       |  strftime(snap_ts, '$fmt') AS current_snapshot_timestamp, current_idx,
       |  CAST(NULL AS DOUBLE) AS anchored_vwap
       |FROM joined
       |QUALIFY row_number() OVER (PARTITION BY symbol, timeframe, ats
       |  ORDER BY snap_ts DESC, prio DESC) = 1""".stripMargin

  private val w14fullSql =
    w14fullSqlFrom(s"WITH RECURSIVE $ticksCte, $candlesCte")

  /** Anchored-VWAP extension (SURVEY M4): the deduped W14 snapshot rows
    * with `anchored_vwap` actually computed — exact-decimal suffix sums per
    * (symbol, chunk), divided once at the end; see
    * [[graft.calc.AnchorSnapshots.anchoredVwapReal]].
    */
  private def avr(s: SparkSession, dir: String): DataFrame =
    AnchorSnapshots.anchoredVwapReal(candles(s, dir))
      .withColumn("anchor_timestamp", tsMicros(col("anchor_timestamp")))
      .withColumn("current_snapshot_timestamp", tsMicros(col("current_snapshot_timestamp")))

  private val avrSql =
    s"""WITH RECURSIVE $ticksCte, $candlesCte,
       |$w14CommonCtes,
       |$w14DailyAnchorCtes,
       |$w14JoinedCtes,
       |dedup AS (
       |  SELECT * FROM joined
       |  QUALIFY row_number() OVER (PARTITION BY symbol, timeframe, ats
       |    ORDER BY snap_ts DESC, prio DESC) = 1),
       |tails AS (
       |  SELECT symbol AS vsym, tstamp AS vts,
       |    ROUND(SUM(CAST(close AS DECIMAL(18,2)) * CAST(volume AS DECIMAL(18,4))) OVER wt,
       |      2) AS tail_pv,
       |    ROUND(SUM(CAST(volume AS DECIMAL(18,4))) OVER wt, 2) AS tail_v
       |  FROM candles
       |  WINDOW wt AS (PARTITION BY symbol, epoch_us(tstamp) // ${AnchorSnapshots.chunkUs()}
       |    ORDER BY tstamp ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT d.symbol, d.timeframe, d.anchor_type,
       |  strftime(d.ats, '$fmt') AS anchor_timestamp, d.anchor_idx, d.price_at_anchor,
       |  strftime(d.snap_ts, '$fmt') AS current_snapshot_timestamp, d.current_idx,
       |  CASE WHEN t.tail_v > 0 THEN CAST(t.tail_pv AS DOUBLE) / CAST(t.tail_v AS DOUBLE)
       |    END AS anchored_vwap
       |FROM dedup d JOIN tails t ON d.symbol = t.vsym AND d.ats = t.vts""".stripMargin

  /** PIPELINE — the reference's full stage 1→2→3 composition as ONE job:
    * raw ticks → P1 validity filter → exact-timestamp keep-last dedup →
    * G1 1-second candles → the fused H1+H2 indicator/pattern pass → W14
    * anchor emission, the end-to-end chain of
    * fetch_historical_trades_nvda.py → aggregator_candles.py:181-226 →
    * candle_to_calcs.py:560-575. Output: one row per candle carrying all
    * 20 H1 indicator columns, `candle_pattern_sum` (pinning the 59-pattern
    * layer), and `n_anchors` (whether a deduped W14 anchor lands on this
    * candle) — so every cross-operator contract (schema, ordering, the
    * µs-truncation/dedup handoff into candling, candle order into the
    * state machines, chunk arithmetic into anchors) is exercised in one
    * verified result.
    *
    * The oracle is the existing H1/H2/W14 full machinery re-rooted on the
    * validated+deduped tick set ([[QueriesH.recPreambleFrom]] /
    * [[withCandlesPipeline]]) — three independent DuckDB replays joined
    * per (symbol, ts), so the composition is checked against composed
    * single-operator oracles, not against itself.
    *
    * Scale shape: stage 1 is map-side until the hash(symbol, timestamp)
    * dedup shuffle; candling adds its own hash(symbol, bucket) exchange;
    * the H pass is the native single-exchange Catalyst operator over
    * hash(symbol); anchors are one native pass over hash(symbol, chunk) of
    * the SAME candle frame (cached — each branch would otherwise recompute
    * the whole upstream chain), fed by a broadcast carry rolled up from it,
    * and come back through a per-(symbol, ts) count and a broadcast-sized
    * join. No branch re-reads the raw ticks.
    */
  private def pipelineFull(s: SparkSession, dir: String): DataFrame = {
    val valid = TickOps.validate(ticks(s, dir)).valid
    val deduped = TickOps.dedupKeepLast(
      valid, Seq("symbol", "timestamp"), Seq(col("seq")))
    val c = CandleAggregator.aggregate(deduped).cache()
    val calcs = IndicatorPass.withIndicators(c, patterns = true)
    val anchors = AnchorSnapshots.anchoredVwapPoints(c)
      .groupBy(col("symbol"), tsMicros(col("anchor_timestamp")).as("ts"))
      .agg(count(lit(1)).as("n_anchors"))
    calcs.select((col("symbol") +: tsMicros(col("timestamp")).as("ts") +:
        (IndicatorPass.indicatorFields.map(f => col(f.name))
          :+ col("candle_pattern_sum"))): _*)
      .join(anchors, Seq("symbol", "ts"), "left")
      .withColumn("n_anchors", coalesce(col("n_anchors"), lit(0L)))
  }

  private val pipelineFullSql = {
    val h1 = H1FullOracle.sqlFrom(
      QueriesH.recPreambleFrom(pipelineTickWhere, dedup = true))
    val h2 = H2FullOracle.sqlFrom(withCandlesPipeline)
    val w14 = w14fullSqlFrom(withCandlesPipelineRec)
    // The /*H1*/ /*H2*/ /*W14*/ markers are load-bearing for the scale
    // sweep: scripts/linear_replay.py extracts each sub-oracle by marker
    // and substitutes its linear replay (recursive state machines and the
    // quadratic peak-prominence subqueries don't finish at sf1 in DuckDB).
    s"""SELECT h1.*, h2.candle_pattern_sum,
       |  CAST(COALESCE(a.n_anchors, 0) AS BIGINT) AS n_anchors
       |FROM (/*H1*/ $h1 /*ENDH1*/) h1
       |JOIN (SELECT symbol, ts, candle_pattern_sum FROM (/*H2*/ $h2 /*ENDH2*/)) h2 USING (symbol, ts)
       |LEFT JOIN (SELECT symbol, anchor_timestamp AS ts, COUNT(*) AS n_anchors
       |           FROM (/*W14*/ $w14 /*ENDW14*/) GROUP BY 1, 2) a USING (symbol, ts)""".stripMargin
  }

  /** W14 peak subset, oracle-checked: every (symbol, chunk)-local find_peaks
    * flag becomes an anchor crossed with the chunk's last row — the peak half
    * of the reference's anchor emission (candle_to_calcs.py:660-662). With
    * w14d this closes W14: daily triggers + extremes + peaks all hash-checked
    * pre-dedup; the final keep-last dedup is checked by the full-table
    * oracle (w14fullSql).
    */
  private def w14p(s: SparkSession, dir: String): DataFrame =
    AnchorSnapshots.snapshots(candles(s, dir))
      .filter(col("anchor_type").endsWith("_peak") || col("anchor_type").endsWith("_valley"))
      .select(col("symbol"), col("anchor_type"),
        tsMicros(col("anchor_timestamp")).as("anchor_ts"), col("anchor_idx"),
        col("price_at_anchor"),
        tsMicros(col("current_snapshot_timestamp")).as("snapshot_ts"), col("current_idx"))

  private val w14pSql =
    s"""WITH RECURSIVE $ticksCte, $candlesCte,
       |$w14CommonCtes,
       |b AS MATERIALIZED (
       |  SELECT symbol, chunk, tstamp, high, low, crn - 1 AS pos FROM r2),
       |${peaksCtes(Seq("symbol", "chunk"))},
       |anchors AS (
       |  SELECT r2.symbol, r2.chunk,
       |    fl.cname || '_' || (CASE WHEN fl.side = 'pk' THEN 'peak' ELSE 'valley' END) AS anchor_type,
       |    r2.tstamp, r2.cidx,
       |    CASE WHEN fl.side = 'pk' THEN r2.high ELSE r2.low END AS price_at_anchor
       |  FROM flagged fl
       |  JOIN r2 ON r2.symbol = fl.symbol AND r2.chunk = fl.chunk AND r2.crn - 1 = fl.p)
       |SELECT a.symbol, a.anchor_type, strftime(a.tstamp, '$fmt') AS anchor_ts,
       |  a.cidx AS anchor_idx, a.price_at_anchor,
       |  strftime(l.snap_ts, '$fmt') AS snapshot_ts, l.current_idx
       |FROM anchors a JOIN last_rows l ON a.symbol = l.lsym AND a.chunk = l.lchunk""".stripMargin

  /** Session-window extension (SURVEY §2.9 names it as cheap built-in
    * surface): gap-based sessionization of the tick stream — a session
    * closes after 5 minutes of per-symbol silence; the window is
    * [first tick, last tick + gap). Spark's built-in `session_window`
    * runs it as a single merging-sessions aggregation (one shuffle on
    * symbol, sessions merged within partitions — no global window); the
    * oracle replays it with the classic gaps-and-islands SQL. A tick at
    * EXACTLY prev + gap still MERGES (Spark treats the session range as
    * closed on touch: next.start <= session.end extends it; the oracle
    * therefore breaks only on strictly-greater gaps) — pinned empirically
    * by SessionWindowSpec. Volume sums are exact-decimal.
    */
  private def sessw(s: SparkSession, dir: String): DataFrame =
    graft.core.Tables.ticks(s, dir)
      .groupBy(col("symbol"), session_window(col("timestamp"), "5 minutes").as("sw"))
      .agg(count(lit(1)).as("n_ticks"),
        dsum(col("volume"), 4).as("total_volume"),
        max(col("price")).as("max_price"))
      .select(col("symbol"),
        tsMicros(col("sw.start")).as("session_start"),
        tsMicros(col("sw.end")).as("session_end"),
        col("n_ticks"), col("total_volume"), col("max_price"))

  private val sesswSql =
    s"""$withTicks,
       |m AS (
       |  SELECT symbol, tstamp, price, volume,
       |    CASE WHEN lag(tstamp) OVER w IS NULL
       |         OR tstamp - lag(tstamp) OVER w > INTERVAL 5 MINUTE
       |      THEN 1 ELSE 0 END AS brk
       |  FROM ticks WINDOW w AS (PARTITION BY symbol ORDER BY tstamp)),
       |g AS (
       |  SELECT *, SUM(brk) OVER (PARTITION BY symbol ORDER BY tstamp
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM m)
       |SELECT symbol,
       |  strftime(MIN(tstamp), '$fmt') AS session_start,
       |  strftime(MAX(tstamp) + INTERVAL 5 MINUTE, '$fmt') AS session_end,
       |  COUNT(*) AS n_ticks,
       |  CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS total_volume,
       |  MAX(price) AS max_price
       |FROM g GROUP BY symbol, grp""".stripMargin

  /** Resample to a fixed 1-minute grid with forward-fill — the canonical
    * pandas `resample('1min').ffill()` of the reference's domain, Spark-
    * first: per-symbol bucket bounds → `sequence()` grid (size = time span
    * ÷ granularity × symbols, INDEPENDENT of tick count — at 100 TB the
    * grid is still 43k rows per symbol-month), left join of the bucketed
    * closes, then one `last(ignoreNulls)` running window per symbol = one
    * sort. `is_gap` marks synthesized rows; volume zero-fills (a gap has
    * no trades). First grid bucket always has a candle (bounds come FROM
    * the candles), so the fill never emits a leading null.
    */
  private def g8(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.ticks(s, dir)
    val c1m = t.groupBy(col("symbol"),
        expr("unix_micros(timestamp) div 60000000").as("bucket"))
      .agg(max_by(col("price"), col("timestamp")).as("close"),
        dsum(col("volume"), scale = 4).as("volume"))
    val bounds = c1m.groupBy(col("symbol"))
      .agg(min(col("bucket")).as("mnb"), max(col("bucket")).as("mxb"))
    val grid = bounds.select(col("symbol"),
      explode(sequence(col("mnb"), col("mxb"))).as("bucket"))
    val w = Window.partitionBy(col("symbol")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(c1m, Seq("symbol", "bucket"), "left")
      .select(col("symbol"),
        tsSec(timestamp_micros(col("bucket") * lit(60000000L))).as("ts"),
        last(col("close"), ignoreNulls = true).over(w).as("close_ffill"),
        coalesce(col("volume"), lit(0.0)).as("volume"),
        col("close").isNull.as("is_gap"))
  }

  private val g8Sql =
    s"""$withTicks,
       |c AS (SELECT symbol, epoch_us(tstamp) // 60000000 AS bucket,
       |    arg_max(price, tstamp) AS close,
       |    CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS volume
       |  FROM ticks GROUP BY 1, 2),
       |b AS (SELECT symbol, min(bucket) AS mnb, max(bucket) AS mxb FROM c GROUP BY 1),
       |g AS (SELECT symbol, unnest(generate_series(mnb, mxb)) AS bucket FROM b),
       |j AS (SELECT g.symbol, g.bucket, c.close, c.volume
       |  FROM g LEFT JOIN c USING (symbol, bucket))
       |SELECT symbol,
       |  strftime(make_timestamp(bucket * 60000000), '%Y-%m-%d %H:%M:%S') AS ts,
       |  last_value(close IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill,
       |  COALESCE(volume, 0.0) AS volume,
       |  close IS NULL AS is_gap
       |FROM j""".stripMargin

  /** Resample with LINEAR interpolation — pandas `resample('1min')
    * .interpolate('linear')`: gap buckets take
    * `prev + (next − prev) · (b − pb)/(nb − pb)` between the nearest real
    * closes. Same tick-count-independent grid as [[g8]]. Both fills are
    * running frames (unboundedPreceding..currentRow), each one pass over
    * its sorted partition: the backward last-non-null in bucket order, the
    * forward next-non-null as a last-non-null in DESCENDING bucket order
    * (a currentRow..unboundedFollowing frame re-aggregates to the partition
    * end per row, O(n²) per symbol grid). One exchange, two sorts. Both
    * grid ends are real candles (bounds come from the data), so prev/next
    * always exist.
    * The interpolation arithmetic is the same IEEE expression tree in both
    * engines: one integer-ratio division, one multiply, one add.
    */
  private def g9(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.ticks(s, dir)
    val c1m = t.groupBy(col("symbol"),
        expr("unix_micros(timestamp) div 60000000").as("bucket"))
      .agg(max_by(col("price"), col("timestamp")).as("close"))
    val bounds = c1m.groupBy(col("symbol"))
      .agg(min(col("bucket")).as("mnb"), max(col("bucket")).as("mxb"))
    val grid = bounds.select(col("symbol"),
      explode(sequence(col("mnb"), col("mxb"))).as("bucket"))
    val back = Window.partitionBy(col("symbol")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("symbol")).orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val j = grid.join(c1m, Seq("symbol", "bucket"), "left")
      .select(col("symbol"), col("bucket"), col("close"),
        last(col("close"), ignoreNulls = true).over(back).as("pc"),
        last(when(col("close").isNotNull, col("bucket")), ignoreNulls = true)
          .over(back).as("pb"),
        last(col("close"), ignoreNulls = true).over(fwd).as("nc"),
        last(when(col("close").isNotNull, col("bucket")), ignoreNulls = true)
          .over(fwd).as("nb"))
    val frac = (col("bucket") - col("pb")).cast("double") /
      (col("nb") - col("pb")).cast("double")
    j.select(col("symbol"),
      tsSec(timestamp_micros(col("bucket") * lit(60000000L))).as("ts"),
      when(col("close").isNotNull, col("close"))
        .otherwise(col("pc") + (col("nc") - col("pc")) * frac).as("close_interp"),
      col("close").isNull.as("is_gap"))
  }

  private val g9Sql =
    s"""$withTicks,
       |c AS (SELECT symbol, epoch_us(tstamp) // 60000000 AS bucket,
       |    arg_max(price, tstamp) AS close
       |  FROM ticks GROUP BY 1, 2),
       |b AS (SELECT symbol, min(bucket) AS mnb, max(bucket) AS mxb FROM c GROUP BY 1),
       |g AS (SELECT symbol, unnest(generate_series(mnb, mxb)) AS bucket FROM b),
       |j AS (SELECT g.symbol, g.bucket, c.close
       |  FROM g LEFT JOIN c USING (symbol, bucket)),
       |w AS (SELECT symbol, bucket, close,
       |    last_value(close IGNORE NULLS) OVER bw AS pc,
       |    last_value(CASE WHEN close IS NOT NULL THEN bucket END IGNORE NULLS) OVER bw AS pb,
       |    first_value(close IGNORE NULLS) OVER fw AS nc,
       |    first_value(CASE WHEN close IS NOT NULL THEN bucket END IGNORE NULLS) OVER fw AS nb
       |  FROM j
       |  WINDOW bw AS (PARTITION BY symbol ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    fw AS (PARTITION BY symbol ORDER BY bucket
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT symbol,
       |  strftime(make_timestamp(bucket * 60000000), '%Y-%m-%d %H:%M:%S') AS ts,
       |  CASE WHEN close IS NOT NULL THEN close
       |       ELSE pc + (nc - pc) * (CAST(bucket - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))
       |  END AS close_interp,
       |  close IS NULL AS is_gap
       |FROM w""".stripMargin

  /** W16 — hourly TWAP (time-weighted average price): each tick's price
    * weighted by how long it stood, `Σ price·Δt / Σ Δt`, with Δt clipped at
    * the hour boundary and the symbol's final tick extending to its hour
    * end. The duration-weighting complement to the candle VWAP (execution
    * benchmarking weights quiet-period prices by TIME, not volume).
    *
    * NO CARRY-FORWARD, by contract: a tick's interval is clipped at its OWN
    * hour's end and never re-attributed to later hours, so the span between
    * an hour's start and its first tick — and any tick-free hour — carries
    * zero weight (such hours produce no row at all; `sum_dt_us` < 3600 s is
    * the visible footprint). Conventional carry-forward TWAP would instead
    * hold the last price across the boundary; that variant IS implemented
    * as [[w16carry]] (`w16_twap_carry` — interval split across spanned
    * hours) and is deliberately NOT what this operator computes — the
    * oracle and the hour-boundary fixture test pin the clipped semantics.
    *
    * Shape: the `lead` window and the (symbol, hour) aggregate share the
    * per-symbol exchange+sort; sums are decimal-exact and — the part that
    * survives scale — BOUNDED BY TIME, not rows: Σ price·Δt per group ≤
    * max_price × 1 hour regardless of tick count, so the scale-2 decimal
    * numerator stays far under 2^53 and the final decimal→double cast is
    * exact in both engines at any SF (cf. [[Det.centsDouble]]).
    */
  private def w16(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("symbol")).orderBy(col("us"), col("seq"))
    val base = ticks(s, dir)
      .select(col("symbol"), unix_micros(col("timestamp")).as("us"),
        col("price"), col("seq"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .withColumn("hour", expr("us div 3600000000"))
      .withColumn("hend", (col("hour") + 1) * lit(3600000000L))
      .withColumn("dt_us",
        least(coalesce(col("next_us"), col("hend")), col("hend")) - col("us"))
    base.groupBy(col("symbol"), col("hour"))
      .agg(
        count(lit(1)).as("n_ticks"),
        sum(col("dt_us")).as("sum_dt_us"),
        sum(dec(col("price"), 12) * col("dt_us").cast(DecimalType(18, 0))).as("pdt"))
      .select(col("symbol"), col("hour"), col("n_ticks"), col("sum_dt_us"),
        (col("pdt").cast("double") / col("sum_dt_us").cast("double")).as("twap"))
  }

  private val w16Sql =
    s"""$withTicks,
       |x AS (SELECT symbol, epoch_us(tstamp) AS us, price,
       |    lead(epoch_us(tstamp)) OVER (PARTITION BY symbol ORDER BY tstamp, seq) AS next_us
       |  FROM ticks),
       |h AS (SELECT symbol, us, price, next_us,
       |    us // 3600000000 AS hour,
       |    (us // 3600000000 + 1) * 3600000000 AS hend
       |  FROM x),
       |d AS (SELECT symbol, hour, price,
       |    LEAST(COALESCE(next_us, hend), hend) - us AS dt_us
       |  FROM h)
       |SELECT symbol, hour, CAST(COUNT(*) AS BIGINT) AS n_ticks,
       |  CAST(SUM(dt_us) AS BIGINT) AS sum_dt_us,
       |  CAST(SUM(CAST(price AS DECIMAL(12,2)) * CAST(dt_us AS DECIMAL(18,0))) AS DOUBLE)
       |    / CAST(SUM(dt_us) AS DOUBLE) AS twap
       |FROM d GROUP BY 1, 2""".stripMargin

  /** W16 carry-forward variant — conventional TWAP: each tick's price
    * stands until the NEXT tick (the symbol's final tick until its hour
    * end), and the standing interval is SPLIT across every hour it spans
    * (explode over the hour range, clip both ends), so a quiet hour is
    * weighted by the carried price instead of dropped — the exact
    * complement of [[w16]]'s clipped no-carry contract; `sum_dt_us` here
    * covers each interior hour completely. Replication per tick is
    * `span/hour + 1` exploded rows — bounded by total covered TIME, not
    * tick count (Σ rows ≤ Σ span / 1 h + n_ticks), the same math as the
    * [[graft.operators.RangeJoin]] bucket explode, and skew answers are
    * the same too.
    */
  private def w16carry(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val hUs = 3600000000L
    val w = Window.partitionBy(col("symbol")).orderBy(col("us"), col("seq"))
    val segs = ticks(s, dir)
      .select(col("symbol"), unix_micros(col("timestamp")).as("us"),
        col("price"), col("seq"))
      .withColumn("end_us",
        coalesce(lead(col("us"), 1).over(w), (expr(s"us div ${hUs}L") + 1) * lit(hUs)))
      .filter(col("end_us") > col("us"))
      .withColumn("hour", explode(sequence(
        expr(s"us div ${hUs}L"), expr(s"(end_us - 1) div ${hUs}L"))))
      .withColumn("seg_start", greatest(col("us"), col("hour") * lit(hUs)))
      .withColumn("seg_end", least(col("end_us"), (col("hour") + 1) * lit(hUs)))
      .withColumn("dt_us", col("seg_end") - col("seg_start"))
    segs.groupBy(col("symbol"), col("hour"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(col("dt_us")).as("sum_dt_us"),
        sum(dec(col("price"), 12) * col("dt_us").cast(DecimalType(18, 0))).as("pdt"))
      .select(col("symbol"), col("hour"), col("n_segments"), col("sum_dt_us"),
        (col("pdt").cast("double") / col("sum_dt_us").cast("double")).as("twap"))
  }

  private val w16carrySql =
    s"""$withTicks,
       |x AS (SELECT symbol, epoch_us(tstamp) AS us, price, seq,
       |    COALESCE(lead(epoch_us(tstamp)) OVER (PARTITION BY symbol ORDER BY tstamp, seq),
       |      (epoch_us(tstamp) // 3600000000 + 1) * 3600000000) AS end_us
       |  FROM ticks),
       |e AS (SELECT symbol, us, price, end_us,
       |    unnest(generate_series(us // 3600000000, (end_us - 1) // 3600000000)) AS hour
       |  FROM x WHERE end_us > us),
       |d AS (SELECT symbol, hour, price,
       |    LEAST(end_us, (hour + 1) * 3600000000)
       |      - GREATEST(us, hour * 3600000000) AS dt_us
       |  FROM e)
       |SELECT symbol, hour, CAST(COUNT(*) AS BIGINT) AS n_segments,
       |  CAST(SUM(dt_us) AS BIGINT) AS sum_dt_us,
       |  CAST(SUM(CAST(price AS DECIMAL(12,2)) * CAST(dt_us AS DECIMAL(18,0))) AS DOUBLE)
       |    / CAST(SUM(dt_us) AS DOUBLE) AS twap
       |FROM d GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- registry

  val all: Seq[Q] = Seq(
    Q("g1_candles_1s", g1, Some(g1Sql), headline = true),
    Q("g8_resample_ffill", g8, Some(g8Sql)),
    Q("g9_resample_interp", g9, Some(g9Sql)),
    Q("w16_twap", w16, Some(w16Sql)),
    Q("w16_twap_carry", w16carry, Some(w16carrySql)),
    Q("g2_rollup_60s", g2, Some(g2Sql)),
    Q("g2_rollup_chain", g2chain, Some(g2chainSql)),
    Q("w15_time_range_avg", w15, Some(w15Sql)),
    Q("w17_anomaly_mad", w17, Some(w17Sql)),
    Q("w17_bucketed", w17Bucketed, Some(w17Sql)),
    Q("g5_dedup_keep_last", g5, Some(g5Sql), headline = true),
    Q("j2_merge_keep_new", j2, Some(j2Sql)),
    Q("p1_tick_validity", p1, Some(p1Sql)),
    Q("p3_candle_validity", p3, Some(p3Sql)),
    Q("p7_gap_stats", p7, Some(p7Sql)),
    Q("g3_audit", g3, Some(g3Sql)),
    Q("g6_distinct_symbols", g6, Some(g6Sql)),
    Q("f6_session_labels", f6, Some(f6Sql)),
    Q("f7_json_extract", f7, Some(f7Sql)),
    // bench = the auto path: the skew probe keeps the 1-exchange global
    // plan at sf0.1's 5 uniform symbols and flips to the bucketed plan on
    // the sf1 hot symbol; the CORRECTNESS run still pins the bucketed
    // exact plan hash-green regardless of cardinality
    Q("w1_volume_spikes", w1, Some(w1Sql), headline = true,
      benchRun = Some((s, dir) =>
        WindowCalcs.withVolumeSpikesAuto(candles(s, dir), exact = false,
            probe = Some(ticks(s, dir)))
          .select(col("symbol"), tsMicros(col("timestamp")).as("ts"),
            col("volume"), col("rolling_avg_volume"), col("is_volume_spike")))),
    Q("w2_lag_diff", w2, Some(w2Sql)),
    Q("w3_rolling_mean", w3, Some(w3Sql), benchRun = Some(w3x(exact = false))),
    Q("w4_bollinger", w4, Some(w4Sql), headline = true, benchRun = Some(w4b)),
    Q("w12_daily_extremes", w12, Some(w12Sql)),
    Q("w13_time_anchors", w13, Some(w13Sql)),
    Q("h1_indicator_pass", h1, Some(H1FullOracle.sql), headline = true),
    Q("h1_bucketed", h1Bucketed, Some(H1FullOracle.sql), headline = true),
    Q("h2_bucketed", h2Bucketed, Some(H2FullOracle.sql)),
    Q("h2_patterns", h2, Some(H2FullOracle.sql), headline = true, benchRun = Some(h2Bench)),
    Q("w11_peak_flags", w11, Some(w11Sql)),
    Q("w14_anchor_points", w14, Some(w14fullSql)),
    Q("anchored_vwap_real", avr, Some(avrSql)),
    Q("pipeline_full", pipelineFull, Some(pipelineFullSql), headline = true),
    Q("session_window_agg", sessw, Some(sesswSql)),
    Q("w14_daily_snapshots", w14d, Some(w14dSql)),
    Q("w14_peak_anchors", w14p, Some(w14pSql))
  )
}
