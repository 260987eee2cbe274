package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.calc.{AnchorSnapshots, PeaksPass}

/** The anchor-emitting mode of the peaks pass ([[PassKernel.Peaks]]):
  * instead of appending the six peak flags to every row, the pass emits
  * only the W14 snapshot rows of each (symbol, chunk) group — semantics in
  * [[graft.calc.AnchorSnapshots]].
  *
  * `keepLast` applies anchoredVwapPoints' keep-last dedup on
  * (symbol, anchor_timestamp). An anchor's timestamp is a row of its own
  * group and every snapshot of a group shares one snapshot timestamp, so
  * the dedup reduces to keeping the highest-[[AnchorSnapshots.typePriority]]
  * type among the candidates at one timestamp. `withTails` adds the
  * exact-decimal chunk-suffix sums `tail_pv` and `tail_v`.
  *
  * Input contract, by column name, built map-side by AnchorSnapshots:
  * `symbol`, `chunk`, `timestamp`, `high`, `low`, `close`, `local_date`,
  * the broadcast carry `prior_rows`, `c_high`, `c_low`, and for each
  * trigger t a boolean `hit_t` and its carried hit count `c_t`; with tails
  * also `row_pv` and `row_v`, the row's close·volume and volume as decimals.
  * The carry is joined on (symbol, chunk, local_date) with an inner join,
  * so none of those keys is null here.
  */
final case class AnchorEmit(bufferSize: Int, keepLast: Boolean, withTails: Boolean) {

  /** Fresh output attributes for one node instance (stable exprIds). */
  def outAttrs(child: Seq[Attribute]): Seq[Attribute] = {
    def typeOf(name: String): DataType = NativePass.column(child, name).dataType
    val tsType = typeOf("timestamp")
    Seq(
      AttributeReference("symbol", typeOf("symbol"))(),
      AttributeReference("anchor_type", StringType)(),
      AttributeReference("anchor_timestamp", tsType)(),
      AttributeReference("anchor_idx", LongType, nullable = false)(),
      AttributeReference("price_at_anchor", DoubleType)(),
      AttributeReference("current_snapshot_timestamp", tsType)(),
      AttributeReference("current_idx", LongType)()) ++
      (if (withTails) Seq("tail_pv", "tail_v").map(AttributeReference(_, AnchorEmit.TailType)())
       else Nil)
  }
}

object AnchorEmit {
  val TailType: DecimalType = DecimalType(38, 2)
}

/** Per-partition anchor kernel: one call per timestamp-sorted
  * (symbol, chunk) group, reusing the group buffer and the find_peaks flags
  * of the flag mode.
  */
private[plans] final class AnchorEmitter(schema: PassSchema, spec: AnchorEmit,
                                         appender: Appender) {
  private val iSym = schema.ordinal("symbol")
  private val iTs = schema.ordinal("timestamp")
  private val iHigh = schema.ordinal("high")
  private val iLow = schema.ordinal("low")
  private val iClose = schema.ordinal("close")
  private val iDate = schema.ordinal("local_date")
  private val iPrior = schema.ordinal("prior_rows")
  private val iCHigh = schema.ordinal("c_high")
  private val iCLow = schema.ordinal("c_low")
  private val triggers = AnchorSnapshots.Triggers.map(_._1)
  private val iHit = triggers.map(t => schema.ordinal(s"hit_$t")).toArray
  private val iCHit = triggers.map(t => schema.ordinal(s"c_$t")).toArray
  private val iTails = if (spec.withTails) Seq("row_pv", "row_v").map(schema.ordinal) else Nil

  // Candidate kinds in emission order: the peak flags in
  // PeaksPass.peakFields order, the triggers, then daily_high, daily_low.
  private val nPeak = PeaksPass.peakFields.length
  private val kHigh = nPeak + triggers.length
  private val kLow = kHigh + 1
  private val kinds: IndexedSeq[(String, Int)] =
    PeaksPass.configs.flatMap { case (name, _, _) =>
      Seq(s"${name}_peak" -> iHigh, s"${name}_valley" -> iLow)
    }.toIndexedSeq ++ triggers.map(_ -> iClose) ++
      Seq("daily_high" -> iHigh, "daily_low" -> iLow)
  private val typeNames = kinds.map(k => UTF8String.fromString(k._1)).toArray
  private val priceOrd = kinds.map(_._2).toArray
  private val priority = kinds.map(k => AnchorSnapshots.typePriority.indexOf(k._1)).toArray

  def emit(rows: ArrayBuffer[InternalRow], flags: Array[Array[Int]]): Iterator[InternalRow] = {
    val n = rows.length
    val mask = candidates(rows, flags)
    val tails = iTails.map(suffixSums(rows, mask, _))
    val snapTs = rows(n - 1).getLong(iTs)

    // (row, kind) of every emitted anchor
    val picks = ArrayBuffer.empty[(Int, Int)]
    if (!spec.keepLast) {
      for (i <- 0 until n; k <- kinds.indices if (mask(i) & (1 << k)) != 0) picks += ((i, k))
    } else {
      var i = 0
      while (i < n) {
        // one timestamp = one dedup key; later rows win priority ties
        var best: (Int, Int) = null
        var j = i
        while (j < n && rows(j).getLong(iTs) == rows(i).getLong(iTs)) {
          for (k <- kinds.indices if (mask(j) & (1 << k)) != 0)
            if (best == null || priority(k) >= priority(best._2)) best = (j, k)
          j += 1
        }
        if (best != null) picks += best
        i = j
      }
    }

    picks.iterator.map { case (i, k) =>
      val r = rows(i)
      val base = math.min(r.getLong(iPrior), spec.bufferSize.toLong)
      val v = appender.values
      v(0) = r.getUTF8String(iSym)
      v(1) = typeNames(k)
      v(2) = r.getLong(iTs)
      v(3) = i + base
      v(4) = if (r.isNullAt(priceOrd(k))) null else r.getDouble(priceOrd(k))
      v(5) = snapTs
      v(6) = n - 1 + base
      tails.zipWithIndex.foreach { case (t, c) => v(7 + c) = t(i) }
      appender(r)
    }
  }

  /** Per-row bitmask of anchor kinds (bit k = kinds(k)).
    *
    * The daily state runs per (chunk, local_date) segment, seeded by the
    * carry of the same date's rows in earlier chunks. local_date is
    * monotone in timestamp (New York's offset changes at 2 am, never across
    * midnight), so a date's rows are contiguous and the state resets when
    * the date changes. A row is a new daily high when its high beats both
    * the segment's strict-prefix maximum and `c_high`, whichever exist, in
    * Spark's double ordering; lows mirror it. A trigger row is the day's
    * first when its carried count plus the segment's running count is 1.
    * Triggers and extremes anchor only on the chunk's last local date, the
    * extremes at their last hit in the chunk.
    */
  private def candidates(rows: ArrayBuffer[InternalRow], flags: Array[Array[Int]]): Array[Int] = {
    val n = rows.length
    val mask = new Array[Int](n)
    for (k <- 0 until nPeak; i <- 0 until n if flags(k)(i) == 1) mask(i) |= 1 << k
    val lastDate = rows.iterator.map(_.getInt(iDate)).max

    var date = 0
    var hasMax, hasMin = false
    var runMax, runMin = 0.0
    val hits = new Array[Long](triggers.length)
    var lastHigh, lastLow = -1
    var i = 0
    while (i < n) {
      val r = rows(i)
      val d = r.getInt(iDate)
      if (i == 0 || d != date) {
        date = d; hasMax = false; hasMin = false
        java.util.Arrays.fill(hits, 0L)
      }
      val onLast = d == lastDate
      if (!r.isNullAt(iHigh)) {
        val h = r.getDouble(iHigh)
        val carry = !r.isNullAt(iCHigh)
        if (onLast && (hasMax || carry) && (!hasMax || compareDoubles(h, runMax) > 0) &&
          (!carry || compareDoubles(h, r.getDouble(iCHigh)) > 0)) lastHigh = i
        if (!hasMax || compareDoubles(h, runMax) > 0) { runMax = h; hasMax = true }
      }
      if (!r.isNullAt(iLow)) {
        val l = r.getDouble(iLow)
        val carry = !r.isNullAt(iCLow)
        if (onLast && (hasMin || carry) && (!hasMin || compareDoubles(l, runMin) < 0) &&
          (!carry || compareDoubles(l, r.getDouble(iCLow)) < 0)) lastLow = i
        if (!hasMin || compareDoubles(l, runMin) < 0) { runMin = l; hasMin = true }
      }
      var t = 0
      while (t < triggers.length) {
        if (!r.isNullAt(iHit(t)) && r.getBoolean(iHit(t))) {
          hits(t) += 1
          if (onLast && r.getLong(iCHit(t)) + hits(t) == 1) mask(i) |= 1 << (nPeak + t)
        }
        t += 1
      }
      i += 1
    }
    if (lastHigh >= 0) mask(lastHigh) |= 1 << kHigh
    if (lastLow >= 0) mask(lastLow) |= 1 << kLow
    mask
  }

  /** Exact chunk-suffix sums of a decimal column at the anchor rows, cast to
    * [[AnchorEmit.TailType]] (half-up, as Spark's cast). SQL sum semantics
    * over the chunk: null rows are skipped, and a chunk whose column is null
    * on every row yields null sums.
    */
  private def suffixSums(rows: ArrayBuffer[InternalRow], mask: Array[Int], col: Int): Array[Decimal] = {
    val out = new Array[Decimal](rows.length)
    if (rows.forall(_.isNullAt(col))) return out
    val dt = schema.child(col).dataType.asInstanceOf[DecimalType]
    var sum = java.math.BigDecimal.ZERO
    var i = rows.length - 1
    while (i >= 0) {
      val r = rows(i)
      if (!r.isNullAt(col)) sum = sum.add(r.getDecimal(col, dt.precision, dt.scale).toJavaBigDecimal)
      if (mask(i) != 0) {
        val d = Decimal(sum)
        if (!d.changePrecision(AnchorEmit.TailType.precision, AnchorEmit.TailType.scale))
          throw new ArithmeticException(s"chunk suffix sum $sum overflows ${AnchorEmit.TailType}")
        out(i) = d
      }
      i -= 1
    }
    out
  }
}
