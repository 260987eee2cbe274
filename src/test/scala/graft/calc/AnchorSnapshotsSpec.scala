package graft.calc

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class AnchorSnapshotsSpec extends SparkSpec {
  import spark.implicits._

  // one NY trading day (2024-01-16, EST = UTC-5), one symbol, minute candles
  private def candle(hhmm: String, h: Double, l: Double, c: Double) = {
    val ts = Timestamp.valueOf(s"2024-01-16 $hhmm:00")
    ("A", ts, c, h, l, c, 1.0, 1L, c)
  }

  private lazy val out = {
    val rows = Seq(
      candle("08:55", 10.0, 9.0, 9.5), // 03:55 NY — day's first row
      candle("09:00", 10.5, 9.2, 9.8), // 04:00 NY → daily_4am trigger + new high
      candle("09:01", 12.0, 9.5, 11.0), // new daily high
      candle("09:02", 11.0, 8.5, 9.0), // new daily low
      candle("14:30", 11.5, 9.6, 10.0), // 09:30 NY → daily_930 trigger
      candle("21:00", 11.8, 9.7, 10.2) // 16:00 NY → daily_4pm; last row
    ).toDF("symbol", "timestamp", "open", "high", "low", "close",
      "volume", "number_of_trades", "vwap")
    AnchorSnapshots.anchoredVwapPoints(rows).collect()
  }

  test("produces the reference schema with anchored_vwap always null") {
    assert(out.nonEmpty)
    val cols = Seq("symbol", "timeframe", "anchor_type", "anchor_timestamp",
      "anchor_idx", "price_at_anchor", "current_snapshot_timestamp",
      "current_idx", "anchored_vwap")
    assert(out.head.schema.fieldNames.toSeq == cols)
    out.foreach(r => assert(r.isNullAt(r.fieldIndex("anchored_vwap"))))
    out.foreach(r => assert(r.getAs[String]("timeframe") == "1s"))
  }

  test("triggers anchor at the trigger row's close; peak/extreme collisions resolve by priority") {
    val byType = out.map(r => r.getAs[String]("anchor_type") -> r).toMap
    assert(byType("daily_4am").getAs[Double]("price_at_anchor") == 9.8)
    assert(byType("daily_930").getAs[Double]("price_at_anchor") == 10.0)
    assert(byType("daily_4pm").getAs[Double]("price_at_anchor") == 10.2)
    // the 09:01 row is the daily high AND a major peak; major_peak wins the
    // anchor_timestamp collision by the pinned priority
    assert(!byType.contains("daily_high"))
    assert(byType("major_peak").getAs[Double]("price_at_anchor") == 12.0)
    assert(byType("major_peak").getAs[Timestamp]("anchor_timestamp") ==
      Timestamp.valueOf("2024-01-16 09:01:00"))
    assert(byType("major_valley").getAs[Double]("price_at_anchor") == 8.5)
  }

  test("snapshot joins every anchor to the chunk's last row") {
    out.foreach { r =>
      assert(r.getAs[Timestamp]("current_snapshot_timestamp") ==
        Timestamp.valueOf("2024-01-16 21:00:00"))
      assert(r.getAs[Long]("current_idx") == 5L) // 6 rows, 0-based
    }
    // anchor_idx matches each anchor row's position
    val m = out.map(r => r.getAs[String]("anchor_type") -> r.getAs[Long]("anchor_idx")).toMap
    assert(m("daily_4am") == 1L && m("major_peak") == 2L && m("major_valley") == 3L)
  }

  test("dedup keeps one row per (symbol, timeframe, anchor_timestamp)") {
    val keys = out.map(r => (r.getAs[String]("symbol"), r.getAs[Timestamp]("anchor_timestamp")))
    assert(keys.distinct.length == keys.length)
  }

  // ---- edge cases. Each expected row set was recorded from the earlier
  // window-chain implementation of these entry points, so the single-pass
  // form must reproduce it exactly. Row rendering:
  // "type anchor_ts anchor_idx price snapshot_ts current_idx [vwap]".

  private def at(utc: String) = Timestamp.from(Instant.parse(utc))

  /** (UTC time, high, low, close, volume) → one-symbol candle frame. */
  private def frame(rows: Seq[(String, Double, Double, Double, Double)]): DataFrame =
    rows.map { case (t, h, l, c, v) => ("A", at(t), c, h, l, c, v, 1L, c) }
      .toDF("symbol", "timestamp", "open", "high", "low", "close",
        "volume", "number_of_trades", "vwap")

  private def render(df: DataFrame): Seq[String] = df.collect().toSeq.map { r =>
    val base = Seq(r.getAs[String]("anchor_type"),
      r.getAs[Timestamp]("anchor_timestamp").toInstant, r.getAs[Long]("anchor_idx"),
      r.getAs[Double]("price_at_anchor"),
      r.getAs[Timestamp]("current_snapshot_timestamp").toInstant,
      r.getAs[Long]("current_idx")).mkString(" ")
    if (r.isNullAt(r.fieldIndex("anchored_vwap"))) base
    else s"$base ${r.getAs[Double]("anchored_vwap")}"
  }.sorted

  private val refCols = Seq("symbol", "timeframe", "anchor_type", "anchor_timestamp",
    "anchor_idx", "price_at_anchor", "current_snapshot_timestamp", "current_idx",
    "anchored_vwap")

  test("empty candle frame: zero rows and the reference schema from every entry point") {
    val empty = frame(Nil)
    val refTypes = "struct<symbol:string,timeframe:string,anchor_type:string," +
      "anchor_timestamp:timestamp,anchor_idx:bigint,price_at_anchor:double," +
      "current_snapshot_timestamp:timestamp,current_idx:bigint,anchored_vwap:double>"
    for (df <- Seq(AnchorSnapshots.snapshots(empty), AnchorSnapshots.anchoredVwapPoints(empty),
        AnchorSnapshots.anchoredVwapReal(empty))) {
      assert(df.schema.simpleString == refTypes)
      assert(df.schema.fields.map(_.nullable).toSeq ==
        Seq(true, false, true, true, false, true, true, true, true))
      assert(df.collect().isEmpty)
    }
    val tails = AnchorSnapshots.snapshots(empty, withTails = true)
    assert(tails.columns.toSeq == refCols ++ Seq("tail_pv", "tail_v"))
    assert(tails.schema("tail_pv").dataType.simpleString == "decimal(38,2)")
    assert(tails.collect().isEmpty)
  }

  test("single candle: its own trigger anchor, snapshot and index 0") {
    val single = frame(Seq(("2024-01-16T09:00:00Z", 10.0, 9.0, 9.5, 2.0)))
    val row = "daily_4am 2024-01-16T09:00:00Z 0 9.5 2024-01-16T09:00:00Z 0"
    assert(render(AnchorSnapshots.snapshots(single)) == Seq(row))
    assert(render(AnchorSnapshots.anchoredVwapPoints(single)) == Seq(row))
    assert(render(AnchorSnapshots.anchoredVwapReal(single)) == Seq(s"$row 9.5"))
  }

  test("NY date straddling an epoch-aligned chunk boundary: the carry stops re-anchoring") {
    // 2024-01-18T00:00Z is a 30-day chunk boundary (day 19740 = 658 × 30):
    // NY date 2024-01-17 runs 05:00Z..05:00Z, so its evening (19:00 NY on)
    // lands in the next chunk. There the 01:00Z row (18 > 16) and 9.5 < 12
    // would be a new daily high/low without the carry of the date's earlier
    // 20.0 / 8.0 — no daily anchor may appear in the later chunk.
    val straddle = frame(Seq(
      ("2024-01-17T09:00:00Z", 10.0, 9.0, 9.5, 1.0),
      ("2024-01-17T15:00:00Z", 20.0, 8.0, 15.0, 1.0),
      ("2024-01-17T21:00:00Z", 15.0, 10.0, 12.0, 1.0),
      ("2024-01-17T23:00:00Z", 14.0, 11.0, 12.0, 1.0),
      ("2024-01-18T00:30:00Z", 16.0, 12.0, 13.0, 1.0),
      ("2024-01-18T01:00:00Z", 18.0, 9.5, 14.0, 1.0),
      ("2024-01-18T02:00:00Z", 17.0, 13.0, 15.0, 1.0)))
    val early = " 2024-01-17T23:00:00Z 3"
    val late = " 2024-01-18T02:00:00Z 6"
    val daily = Seq(
      "daily_4am 2024-01-17T09:00:00Z 0 9.5" + early,
      "daily_4pm 2024-01-17T21:00:00Z 2 12.0" + early,
      "daily_high 2024-01-17T15:00:00Z 1 20.0" + early,
      "daily_low 2024-01-17T15:00:00Z 1 8.0" + early)
    val peaks = for (g <- Seq("major", "micro", "minor"); side <- Seq("peak", "valley");
        (ts, idx, snap, hi, lo) <- Seq(("2024-01-17T15:00:00Z", 1, early, "20.0", "8.0"),
          ("2024-01-18T01:00:00Z", 5, late, "18.0", "9.5")))
      yield s"${g}_$side $ts $idx ${if (side == "peak") hi else lo}$snap"
    assert(render(AnchorSnapshots.snapshots(straddle)) == (daily ++ peaks).sorted)
    assert(render(AnchorSnapshots.anchoredVwapPoints(straddle)) == Seq(
      "daily_4am 2024-01-17T09:00:00Z 0 9.5" + early,
      "daily_4pm 2024-01-17T21:00:00Z 2 12.0" + early,
      "major_valley 2024-01-17T15:00:00Z 1 8.0" + early,
      "major_valley 2024-01-18T01:00:00Z 5 9.5" + late))

    // daily_4am: epoch-aligned boundaries fall at 19:00/20:00 NY, so a
    // boundary inside the 04:00 NY minute needs a shifted origin. Both
    // 04:00 rows hit the trigger; only the earlier chunk's is the day's first.
    val origin = Instant.parse("2024-01-16T09:00:30Z").toEpochMilli * 1000L
    val shifted = frame(Seq(
      ("2024-01-17T08:00:00Z", 10.0, 9.0, 9.5, 1.0),
      ("2024-01-17T09:00:10Z", 11.0, 9.5, 10.0, 1.0),
      ("2024-01-17T09:00:40Z", 10.5, 9.6, 10.1, 1.0),
      ("2024-01-17T14:30:00Z", 10.8, 9.7, 10.2, 1.0)))
    assert(render(AnchorSnapshots.snapshots(shifted, chunkDays = 1, chunkOriginUs = origin)) == Seq(
      "daily_4am 2024-01-17T09:00:10Z 1 10.0 2024-01-17T09:00:10Z 1",
      "daily_930 2024-01-17T14:30:00Z 3 10.2 2024-01-17T14:30:00Z 3",
      "daily_high 2024-01-17T09:00:10Z 1 11.0 2024-01-17T09:00:10Z 1"))
  }

  test("prior_rows above bufferSize caps the cidx rebase") {
    // one-day chunks; the second chunk has 5 prior rows, capped at 3
    val capped = frame(Seq(
      ("2024-01-16T14:00:00Z", 10.0, 9.0, 9.5, 1.0),
      ("2024-01-16T14:01:00Z", 11.0, 9.2, 10.0, 1.0),
      ("2024-01-16T14:02:00Z", 10.2, 8.8, 9.0, 1.0),
      ("2024-01-16T14:03:00Z", 10.6, 9.1, 10.1, 1.0),
      ("2024-01-16T14:04:00Z", 10.4, 9.3, 10.0, 1.0),
      ("2024-01-17T14:00:00Z", 10.0, 9.0, 9.5, 1.0),
      ("2024-01-17T14:30:00Z", 12.0, 9.4, 11.0, 1.0),
      ("2024-01-17T14:31:00Z", 11.0, 8.5, 9.0, 1.0),
      ("2024-01-17T14:32:00Z", 11.5, 9.6, 10.0, 1.0)))
    val c0 = " 2024-01-16T14:04:00Z 4"
    val c1 = " 2024-01-17T14:32:00Z 6"
    assert(render(AnchorSnapshots.snapshots(capped, chunkDays = 1, bufferSize = 3)) == Seq(
      "daily_930 2024-01-17T14:30:00Z 4 11.0" + c1,
      "daily_high 2024-01-16T14:01:00Z 1 11.0" + c0,
      "daily_high 2024-01-17T14:30:00Z 4 12.0" + c1,
      "daily_low 2024-01-16T14:02:00Z 2 8.8" + c0,
      "daily_low 2024-01-17T14:31:00Z 5 8.5" + c1,
      "major_peak 2024-01-17T14:30:00Z 4 12.0" + c1,
      "major_valley 2024-01-17T14:31:00Z 5 8.5" + c1,
      "micro_peak 2024-01-16T14:01:00Z 1 11.0" + c0,
      "micro_peak 2024-01-17T14:30:00Z 4 12.0" + c1,
      "micro_valley 2024-01-17T14:31:00Z 5 8.5" + c1,
      "minor_peak 2024-01-16T14:01:00Z 1 11.0" + c0,
      "minor_peak 2024-01-17T14:30:00Z 4 12.0" + c1,
      "minor_valley 2024-01-17T14:31:00Z 5 8.5" + c1))
    assert(render(AnchorSnapshots.anchoredVwapPoints(capped, chunkDays = 1, bufferSize = 3)) == Seq(
      "daily_low 2024-01-16T14:02:00Z 2 8.8" + c0,
      "major_peak 2024-01-17T14:30:00Z 4 12.0" + c1,
      "major_valley 2024-01-17T14:31:00Z 5 8.5" + c1,
      "minor_peak 2024-01-16T14:01:00Z 1 11.0" + c0))
  }

  test("one row that is a peak, the daily high and a trigger keeps the top-priority type") {
    // 09:00Z = 04:00 NY is daily_4am, the daily high and a peak at all three
    // granularities; the last row is daily_4pm and the daily low
    val prio = frame(Seq(
      ("2024-01-16T08:55:00Z", 10.0, 9.0, 9.5, 1.0),
      ("2024-01-16T09:00:00Z", 12.0, 9.2, 11.5, 1.0),
      ("2024-01-16T09:01:00Z", 11.0, 9.3, 10.5, 1.0),
      ("2024-01-16T09:02:00Z", 10.5, 9.1, 10.0, 1.0),
      ("2024-01-16T21:00:00Z", 10.2, 8.0, 8.5, 1.0)))
    val snap = " 2024-01-16T21:00:00Z 4"
    assert(render(AnchorSnapshots.snapshots(prio)) == Seq(
      "daily_4am 2024-01-16T09:00:00Z 1 11.5" + snap,
      "daily_4pm 2024-01-16T21:00:00Z 4 8.5" + snap,
      "daily_high 2024-01-16T09:00:00Z 1 12.0" + snap,
      "daily_low 2024-01-16T21:00:00Z 4 8.0" + snap,
      "major_peak 2024-01-16T09:00:00Z 1 12.0" + snap,
      "micro_peak 2024-01-16T09:00:00Z 1 12.0" + snap,
      "minor_peak 2024-01-16T09:00:00Z 1 12.0" + snap))
    assert(render(AnchorSnapshots.anchoredVwapPoints(prio)) == Seq(
      "daily_low 2024-01-16T21:00:00Z 4 8.0" + snap,
      "major_peak 2024-01-16T09:00:00Z 1 12.0" + snap))
  }

  test("anchoredVwapReal on fractional volume rounds the suffix sums to scale 2") {
    val frac = frame(Seq(
      ("2024-01-16T09:00:00Z", 10.0, 9.0, 9.99, 0.3333),
      ("2024-01-16T09:01:00Z", 12.0, 9.5, 10.01, 1.25),
      ("2024-01-16T09:02:00Z", 11.0, 8.5, 9.37, 2.0001),
      ("2024-01-16T14:30:00Z", 11.5, 9.6, 10.13, 0.0049),
      ("2024-01-16T21:00:00Z", 11.8, 9.7, 10.29, 0.7777)))
    val snap = " 2024-01-16T21:00:00Z 4"
    assert(render(AnchorSnapshots.anchoredVwapReal(frac)) == Seq(
      "daily_4am 2024-01-16T09:00:00Z 0 9.99" + snap + " 9.757437070938215",
      "daily_4pm 2024-01-16T21:00:00Z 4 10.29" + snap + " 10.256410256410255",
      "daily_930 2024-01-16T14:30:00Z 3 10.13" + snap + " 10.320512820512821",
      "major_peak 2024-01-16T09:01:00Z 1 12.0" + snap + " 9.754342431761787",
      "major_valley 2024-01-16T09:02:00Z 2 8.5" + snap + " 9.636690647482014"))
    val tails = AnchorSnapshots.snapshots(frac, withTails = true).collect()
      .map(r => r.getAs[String]("anchor_type") ->
        s"${r.getAs[java.math.BigDecimal]("tail_pv")} ${r.getAs[java.math.BigDecimal]("tail_v")}")
      .toMap
    assert(tails == Map(
      "daily_4am" -> "42.64 4.37",
      "major_peak" -> "39.31 4.03", "minor_peak" -> "39.31 4.03",
      "micro_peak" -> "39.31 4.03", "daily_high" -> "39.31 4.03",
      "major_valley" -> "26.79 2.78", "minor_valley" -> "26.79 2.78",
      "micro_valley" -> "26.79 2.78", "daily_low" -> "26.79 2.78",
      "daily_930" -> "8.05 0.78", "daily_4pm" -> "8.00 0.78"))
  }
}
