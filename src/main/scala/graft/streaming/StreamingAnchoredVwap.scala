package graft.streaming

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.sql.Timestamp
import java.time.{Instant, ZoneId}

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.calc.AnchorSnapshots

/** The M4 real anchored VWAP as a stateful streaming operator: the
  * time-trigger anchor subset of [[AnchorSnapshots.anchoredVwapReal]]
  * (daily_4am / daily_930 / daily_4pm) computed online with (Σpv, Σv)
  * suffix state — no chunk re-scan at flush time.
  *
  * Batch computes each anchor's VWAP as a per-(symbol, chunk) SUFFIX:
  * Σ close·volume over [anchor row .. chunk's last row]. Online, suffix =
  * chunk-running total − prefix-before-anchor, so the per-symbol state
  * ([[VwapState]]) is:
  *
  *  - running (Σpv, Σv) since chunk start, exact decimals (close ≤2
  *    decimals × volume ≤4 ⇒ 6-decimal products, exact under the encoder's
  *    DecimalType(38,18); decimal sums are accumulation-order-independent,
  *    matching the batch decimal discipline);
  *  - the active anchors, each carrying its (Σpv, Σv) snapshot taken BEFORE
  *    its own row (the suffix includes the anchor row);
  *  - the day-flag set (trigger name × local date) — persists across chunk
  *    flushes exactly like the reference's `*_added` flags, so a day
  *    spanning a chunk boundary does not re-anchor;
  *  - row counters reproducing the buffer-rebased cidx arithmetic
  *    (in-chunk position + min(rows before chunk, bufferSize)).
  *
  * Emission happens on chunk rollover (the first row of chunk N+1 flushes
  * chunk N's anchors against chunk N's last row), mirroring the batch
  * chunk-end flush; anchors whose local day ends before the chunk does are
  * dropped by the day-change reset, mirroring the batch `ld = last_date`
  * gate. A finite replay flushes its final chunk with one far-future
  * sentinel row per symbol (next chunk, never itself emitted).
  * [[StreamingAnchoredVwapTws]] runs the same state and per-row step
  * ([[VwapStep]]) and flushes a quiet chunk by event-time timer instead.
  *
  * The final decimal→double conversion recasts both sums to scale 2
  * (HALF_UP = the batch DECIMAL(38,2) recast = DuckDB ROUND) so all three
  * engines cross the 2^53 line identically — see Det.centsDouble.
  */
object StreamingAnchoredVwap {

  private val NY = ZoneId.of("America/New_York")

  /** `curChunk` before a symbol's first row. */
  val NoChunk: Long = Long.MinValue

  final case class Anchor(anchorType: String, tsUs: Long, cidx: Long,
                          price: Double, prePv: BigDecimal, preV: BigDecimal)

  /** Per-symbol state of both anchored-VWAP operators. A SQL-encodable
    * product: `transformWithState` state rides the RocksDB store through
    * Spark's encoder framework, not kryo.
    */
  final case class VwapState(
      curChunk: Long, curDate: String,
      sumPv: BigDecimal, sumV: BigDecimal,
      rowsBefore: Long, inChunk: Long,
      lastTsUs: Long, lastCidx: Long,
      anchors: List[Anchor], fired: List[String]) // fired: "name@localDate"

  val emptyState: VwapState = VwapState(NoChunk, "",
    BigDecimal(0), BigDecimal(0), 0L, 0L, 0L, 0L, Nil, Nil)

  val outputSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("timeframe", StringType),
    StructField("anchor_type", StringType),
    StructField("anchor_timestamp", TimestampType),
    StructField("anchor_idx", LongType),
    StructField("price_at_anchor", DoubleType),
    StructField("current_snapshot_timestamp", TimestampType),
    StructField("current_idx", LongType),
    StructField("anchored_vwap", DoubleType)))

  /** µs since epoch → Timestamp. Timestamp(millis) alone truncates to the
    * millisecond — restore the full microsecond fraction via setNanos or
    * anchor keys drift off the batch rows.
    */
  def usTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** The per-row state step and the chunk flush, shared by both operators.
    * Input rows carry (symbol, timestamp, close, volume) at the `inSchema`
    * positions.
    */
  final class VwapStep(inSchema: StructType, timeframe: String, chunkDays: Int,
                       bufferSize: Int, chunkOriginUs: Long,
                       triggers: Seq[(String, Int, Int)]) extends Serializable {
    private val iTs = inSchema.fieldIndex("timestamp")
    private val iC = inSchema.fieldIndex("close")
    private val iV = inSchema.fieldIndex("volume")
    private val chunkWidthUs = AnchorSnapshots.chunkUs(chunkDays)

    /** Event time (ms) at which `chunk` ends. */
    def chunkEndMs(chunk: Long): Long =
      (chunkOriginUs + (chunk + 1) * chunkWidthUs) / 1000L

    /** The chunk's anchors, each against the chunk's last row so far. */
    def flush(sym: String, st: VwapState): List[Row] =
      st.anchors.reverse.map { a =>
        val tailPv = (st.sumPv - a.prePv).bigDecimal.setScale(2, RoundingMode.HALF_UP)
        val tailV = (st.sumV - a.preV).bigDecimal.setScale(2, RoundingMode.HALF_UP)
        val vwap: java.lang.Double =
          if (tailV.signum > 0) tailPv.doubleValue() / tailV.doubleValue() else null
        Row(sym, timeframe, a.anchorType, usTs(a.tsUs),
          a.cidx, a.price, usTs(st.lastTsUs), st.lastCidx, vwap)
      }

    /** Folds one micro-batch of a symbol's rows, in event-time order, into
      * `st0`. Returns the new state and the rows that chunk rollovers
      * flushed. `onChunk(from, to)` runs whenever a row enters a chunk other
      * than the current one (`from` is [[NoChunk]] on the first row).
      */
    def fold(sym: String, st0: VwapState, rows: Iterator[Row],
             onChunk: (Long, Long) => Unit = (_, _) => ()): (VwapState, List[Row]) = {
      var st = st0
      val out = List.newBuilder[Row]
      rows.toArray.sortBy(_.getTimestamp(iTs).getTime).foreach { r =>
        val ts = r.getTimestamp(iTs)
        val tsUs = Math.multiplyExact(ts.getTime, 1000L) + (ts.getNanos / 1000L) % 1000L
        val chunk = Math.floorDiv(tsUs - chunkOriginUs, chunkWidthUs)

        if (st.curChunk != NoChunk && chunk > st.curChunk) {
          out ++= flush(sym, st)
          st = st.copy(rowsBefore = st.rowsBefore + st.inChunk, inChunk = 0L,
            sumPv = BigDecimal(0), sumV = BigDecimal(0), anchors = Nil)
        }
        if (chunk != st.curChunk) {
          onChunk(st.curChunk, chunk)
          st = st.copy(curChunk = chunk)
        }

        val local = Instant.ofEpochMilli(ts.getTime).atZone(NY)
        val date = local.toLocalDate.toString
        if (date != st.curDate) {
          // day-change reset: an earlier day's anchors never reach the
          // chunk's last row, so they flush nowhere (batch: ld = last_date)
          st = st.copy(anchors = Nil,
            fired = st.fired.filter(_.endsWith("@" + date)), curDate = date)
        }

        val cidx = st.inChunk + math.min(st.rowsBefore, bufferSize.toLong)
        val close = r.getDouble(iC)
        triggers.foreach { case (name, h, m) =>
          val key = name + "@" + date
          if (local.getHour == h && local.getMinute == m && !st.fired.contains(key)) {
            st = st.copy(fired = key :: st.fired,
              anchors = Anchor(name, tsUs, cidx, close, st.sumPv, st.sumV) :: st.anchors)
          }
        }
        val pD = BigDecimal(JBigDecimal.valueOf(close).setScale(2, RoundingMode.HALF_UP))
        val vD = BigDecimal(JBigDecimal.valueOf(r.getDouble(iV)).setScale(4, RoundingMode.HALF_UP))
        st = st.copy(sumPv = st.sumPv + pD * vD, sumV = st.sumV + vD,
          lastTsUs = tsUs, lastCidx = cidx, inChunk = st.inChunk + 1L)
      }
      (st, out.result())
    }
  }

  /** Input must carry (symbol, timestamp, close, volume), event-time ordered
    * across micro-batches (same contract as [[StreamingIndicators]]).
    */
  def anchoredVwapStream(candles: DataFrame, timeframe: String = "1s",
                         chunkDays: Int = AnchorSnapshots.DefaultChunkDays,
                         bufferSize: Int = 10000,
                         chunkOriginUs: Long = 0L,
                         triggers: Seq[(String, Int, Int)] = AnchorSnapshots.Triggers): DataFrame = {
    val iSym = candles.schema.fieldIndex("symbol")
    val step = new VwapStep(candles.schema, timeframe, chunkDays, bufferSize,
      chunkOriginUs, triggers)
    implicit val stateEnc: Encoder[VwapState] = Encoders.product[VwapState]
    implicit val rowEnc: Encoder[Row] = Encoders.row(outputSchema)
    candles
      .groupByKey((r: Row) => r.getString(iSym))(Encoders.STRING)
      .flatMapGroupsWithState[VwapState, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (sym: String, rows: Iterator[Row], state: GroupState[VwapState]) => {
          val (st, out) = step.fold(sym, state.getOption.getOrElse(emptyState), rows)
          state.update(st)
          out.iterator
        })
  }
}
