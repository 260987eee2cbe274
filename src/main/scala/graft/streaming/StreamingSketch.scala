package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset}

import graft.functions.{Hash61Kernel, Sketches}

/** Bounded-state streaming sketches, each flushed by an explicit
  * `is_sentinel` row per group: HLL distinct counts, histogram quantiles
  * and per-group top-k.
  *
  * Streaming HyperLogLog: per-group distinct-count estimation with BOUNDED
  * state — 256 register ints per group, independent of stream length or
  * cardinality. The unbounded alternative (`dropDuplicates` + count) keeps
  * every key in the state store forever; this is the sketch trade: ~2%
  * error for O(m) state, the only viable shape for distinct-counting an
  * unbounded 100 TB stream.
  *
  * Bit-equivalence contract: registers are updated with EXACTLY the batch
  * query's hash/bucket/rho pipeline ([[graft.queries.QueriesSketch]]), and
  * the final estimate math reproduces the batch Column expressions
  * step-for-step (exact integer harmonic sum via BigInt → one
  * correctly-rounded double division; HALF_UP integer rounding). The
  * emitted rows therefore hash-match the SAME DuckDB oracle as the batch
  * query — batch ≡ stream ≡ oracle, the strongest equivalence the gate can
  * express. Emission is triggered by an EXPLICIT `is_sentinel` flag column
  * (one flagged row per group after the real feed, contributing nothing to
  * the registers), the same final-flush idiom as [[StreamingAnchoredVwap]]
  * — a flag, not an in-band id value, so the full long range of real ids
  * (negative included) flows into the registers exactly like the batch
  * query hashes it.
  */
object StreamingSketch {

  private val M = 256
  /** α·m²·2^60 — same construction as QueriesSketch.HllK (kept in sync by
    * StreamingSketchSpec comparing stream vs batch rows bit-for-bit).
    */
  private val K: Double = {
    val alpha = 0.7213 / (1.0 + 1.079 / M)
    alpha * M * M * math.pow(2.0, 60.0)
  }

  /** (event_type, v_zero, hll_raw, hll_est) per group, emitted when a row
    * with `is_sentinel = true` arrives (that row never touches the
    * registers). Input columns: event_type, user_id[, is_sentinel] — a
    * missing flag column means an all-data stream (flag defaults false).
    */
  def hllDistinctStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val (a, b) = Sketches.HllParams
    val flagged =
      if (events.columns.contains("is_sentinel")) events
      else events.withColumn("is_sentinel", lit(false))
    val ds: Dataset[(String, Long, Boolean)] = flagged
      .select(col("event_type"), col("user_id").cast("long"), col("is_sentinel"))
      .as[(String, Long, Boolean)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Array[Int], (String, Long, Double, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Boolean)], state: GroupState[Array[Int]]) =>
          val regs = state.getOption.getOrElse(new Array[Int](M))
          var emit = false
          rows.foreach { case (_, uid, sentinel) =>
            if (sentinel) emit = true
            else {
              val h = Hash61Kernel.hash(uid, a, b)
              val bucket = (h % M).toInt
              val rest = h >>> 8
              // rho = 54 − bitlength(rest): bitlength(x>0) = 64 − nlz(x)
              val rho = if (rest == 0L) 54 else 54 - (64 - java.lang.Long.numberOfLeadingZeros(rest))
              if (rho > regs(bucket)) regs(bucket) = rho
            }
          }
          state.update(regs)
          if (!emit) Iterator.empty
          else {
            // exact integer harmonic sum Σ 2^(60−reg), then ONE double division
            // — mirrors the batch DECIMAL(38,0) sum → double cast → K/S
            var s = BigInt(0)
            var vZero = 0L
            var i = 0
            while (i < M) {
              s += BigInt(1) << (60 - regs(i))
              if (regs(i) == 0) vZero += 1
              i += 1
            }
            val raw = K / s.toDouble
            val est =
              if (raw <= 2.5 * M && vZero > 0)
                halfUp(M.toDouble * math.log(M.toDouble / vZero.toDouble))
              else halfUp(raw)
            Iterator.single((key, vZero, raw, est))
          }
      }
      .toDF("event_type", "v_zero", "hll_raw", "hll_est")
  }

  /** Spark's `round(double)`: BigDecimal HALF_UP on the exact binary value
    * (NOT `math.round`'s floor(x+0.5), which differs on ties-adjacent
    * doubles).
    */
  private def halfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Streaming histogram quantiles: per-group fixed-width bin counts as
    * `flatMapGroupsWithState` state — bounded by the value domain's bin
    * count (≤ ~500 here), independent of stream length, the same sketch
    * trade as [[hllDistinctStream]]. Input carries `cents` (the batch
    * query's exact DECIMAL(12,2)·100 integerization, computed BEFORE the
    * stream boundary so bin assignment is bit-identical) and the
    * `is_sentinel` flush flag. On flush each requested permille quantile is
    * read off the cumulative histogram with the batch query's integer
    * ceil-rank `(n·q + 999) div 1000` and within-bin interpolation
    * `bin + (rank − cum_before)/cnt` — the identical IEEE expression, so
    * emitted rows hash-match the SAME oracle as `sk_hist_quantiles`
    * (batch ≡ stream ≡ oracle).
    *
    * Sentinel contract: flush flags are processed per-BATCH, not
    * positionally — any data rows that share a micro-batch with a group's
    * sentinel are folded into the state BEFORE the histogram is emitted
    * (the iterator is drained first). Callers wanting an exact cut must
    * place the sentinel in a later batch, as the harness does. A sentinel
    * for a group with no accumulated data emits nothing (see the
    * empty-state guard below), never a NaN row.
    */
  def histQuantileStream(events: DataFrame, qPermille: Seq[Int]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val flagged =
      if (events.columns.contains("is_sentinel")) events
      else events.withColumn("is_sentinel", lit(false))
    val ds: Dataset[(String, Long, Boolean)] = flagged
      .select(col("event_type"), col("cents").cast("long"), col("is_sentinel"))
      .as[(String, Long, Boolean)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Long], (String, Int, Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Boolean)], state: GroupState[Map[Long, Long]]) =>
          var bins = state.getOption.getOrElse(Map.empty[Long, Long])
          var emit = false
          rows.foreach { case (_, cents, sentinel) =>
            if (sentinel) emit = true
            else {
              // floorDiv, matching the batch query's pmod-floor binning and
              // the DuckDB oracle's `//` — consistent even for negatives
              val b = Math.floorDiv(cents, 100L)
              bins = bins.updated(b, bins.getOrElse(b, 0L) + 1L)
            }
          }
          state.update(bins)
          // Empty-state flush guard: a sentinel for a group that has seen no
          // data rows would otherwise interpolate 0/0 → NaN rows. Emit
          // nothing instead — "no data" is the absence of a quantile row,
          // not a NaN one.
          if (!emit || bins.isEmpty) Iterator.empty
          else {
            val sorted = bins.toSeq.sortBy(_._1)
            val n = sorted.iterator.map(_._2).sum
            qPermille.iterator.map { q =>
              val rank = (n * q + 999L) / 1000L
              var cum = 0L
              var bin = 0L; var cnt = 0L; var bcum = 0L; var found = false
              val it = sorted.iterator
              while (!found && it.hasNext) {
                val (b, c) = it.next(); cum += c
                if (cum >= rank) { bin = b; cnt = c; bcum = cum; found = true }
              }
              val est = bin.toDouble + (rank - bcum + cnt).toDouble / cnt.toDouble
              (key, q, n, rank, est)
            }
          }
      }.toDF("event_type", "q", "n", "rank_q", "est_q")
  }

  /** Streaming per-group top-k: the state IS the batch
    * [[graft.operators.TopKAggregator]] buffer — every arriving row passes
    * through the aggregator's own `reduce`, so batch ≡ stream holds by
    * construction (one ordering implementation, two execution modes) and
    * the emitted (event_type, rank, value, event_id) rows hash-match the
    * batch `q14_topk_per_group`. State is ≤ k pairs per group, the
    * streaming analog of the map-side-combine bound. Input columns:
    * event_type, value, event_id[, is_sentinel]; a sentinel row (the same
    * flush flag as [[hllDistinctStream]], not an in-band id value — real
    * event_ids of any sign enter the buffer) triggers ranked emission.
    */
  def topKStream(events: DataFrame, k: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val agg = graft.operators.TopKAggregator(k)
    val flagged =
      if (events.columns.contains("is_sentinel")) events
      else events.withColumn("is_sentinel", lit(false))
    val ds: Dataset[(String, Double, Long, Boolean)] = flagged
      .select(col("event_type"), col("value"), col("event_id"), col("is_sentinel"))
      .as[(String, Double, Long, Boolean)]
    ds.groupByKey(_._1)
      .flatMapGroupsWithState[Vector[(Double, Long)], (String, Int, Double, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double, Long, Boolean)],
         state: GroupState[Vector[(Double, Long)]]) =>
          var buf = state.getOption.getOrElse(agg.zero)
          var emit = false
          rows.foreach { case (_, v, id, sentinel) =>
            if (sentinel) emit = true else buf = agg.reduce(buf, (v, id))
          }
          state.update(buf)
          if (!emit) Iterator.empty
          else buf.iterator.zipWithIndex.map { case ((v, id), i) => (key, i + 1, v, id) }
      }
      .toDF("event_type", "rank", "value", "event_id")
  }
}
