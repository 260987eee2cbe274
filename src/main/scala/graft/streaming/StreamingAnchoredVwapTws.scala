package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

import graft.calc.AnchorSnapshots

/** The M4 trigger-anchor VWAP pass on Spark 4's `transformWithState` —
  * semantically identical rows to [[StreamingAnchoredVwap]] (same state
  * arithmetic, same chunk/day gates), but the final/quiet-chunk flush is an
  * EVENT-TIME TIMER instead of injected sentinel rows:
  *
  *  - on entering chunk C the processor registers a timer at C's end
  *    boundary; when the global watermark passes it, no more chunk-C rows
  *    can arrive (late rows are dropped upstream), so the flush is final
  *    and safe — `handleExpiredTimer` emits exactly the rows the arrival-
  *    rollover path would have.
  *  - a symbol that goes QUIET mid-stream still flushes once the watermark
  *    (advanced by other symbols' data) passes its chunk end — the fMGWS
  *    version holds those anchors until the symbol's next row, which may
  *    never come. At 100 TB with thousands of symbols of uneven liveness,
  *    timer flush is the correct production shape.
  *  - the finite-replay harness needs ONE far-future barrier row total (any
  *    symbol — it only advances the watermark), not one sentinel per
  *    symbol, and no fake row ever enters a real symbol's state.
  *
  * Double-flush safety: arrival rollover and timer expiry both flush; each
  * resets the anchor list, and the expiry handler only fires for the
  * CURRENT chunk's boundary (a stale timer from an already-rolled chunk is
  * guarded out), so whichever path runs second emits nothing.
  *
  * State is a SQL-encodable product (scale-6 decimal sums — exact under
  * DecimalType(38,18), matching the batch decimal discipline) because
  * `transformWithState` state rides the RocksDB store through Spark's
  * encoder framework, not kryo. The state type, the per-row step and the
  * flush are [[StreamingAnchoredVwap.VwapStep]]'s; only the flush trigger
  * differs.
  */
object StreamingAnchoredVwapTws {

  import StreamingAnchoredVwap.{NoChunk, VwapState, VwapStep, emptyState}

  val outputSchema = StreamingAnchoredVwap.outputSchema

  final class AnchorProcessor(step: VwapStep)
    extends StatefulProcessor[String, Row, Row] {

    @transient private var state: org.apache.spark.sql.streaming.ValueState[VwapState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      implicit val enc: Encoder[VwapState] = Encoders.product[VwapState]
      state = getHandle.getValueState[VwapState]("vwap", enc, TTLConfig.NONE)
    }

    override def handleInputRows(sym: String, rows: Iterator[Row],
                                 timerValues: TimerValues): Iterator[Row] = {
      val st0 = if (state.exists()) state.get() else emptyState
      val (st, out) = step.fold(sym, st0, rows, (from, to) => {
        // a rollover already flushed `from`; its timer would find nothing
        if (from != NoChunk && to > from) getHandle.deleteTimer(step.chunkEndMs(from))
        getHandle.registerTimer(step.chunkEndMs(to))
      })
      state.update(st)
      out.iterator
    }

    override def handleExpiredTimer(sym: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Row] = {
      val st = if (state.exists()) state.get() else emptyState
      // only the CURRENT chunk's boundary flushes; a stale timer from a
      // chunk the arrival path already rolled past finds a guard mismatch
      // (and that flush already happened)
      if (st.curChunk != NoChunk &&
          expiredTimerInfo.getExpiryTimeInMs() == step.chunkEndMs(st.curChunk) &&
          st.anchors.nonEmpty) {
        val rows = step.flush(sym, st)
        state.update(st.copy(anchors = Nil))
        rows.iterator
      } else Iterator.empty
    }
  }

  /** Input must carry (symbol, timestamp, close, volume) and a WATERMARK on
    * `timestamp` (event-time timers require one). Event-time ordered across
    * micro-batches, same contract as [[StreamingAnchoredVwap]].
    */
  def anchoredVwapStream(candles: DataFrame, timeframe: String = "1s",
                         chunkDays: Int = AnchorSnapshots.DefaultChunkDays,
                         bufferSize: Int = 10000,
                         chunkOriginUs: Long = 0L,
                         triggers: Seq[(String, Int, Int)] = AnchorSnapshots.Triggers): DataFrame = {
    val iSym = candles.schema.fieldIndex("symbol")
    implicit val rowEnc: Encoder[Row] = Encoders.row(outputSchema)
    candles
      .groupByKey((r: Row) => r.getString(iSym))(Encoders.STRING)
      .transformWithState(
        new AnchorProcessor(new VwapStep(candles.schema, timeframe, chunkDays,
          bufferSize, chunkOriginUs, triggers)),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
