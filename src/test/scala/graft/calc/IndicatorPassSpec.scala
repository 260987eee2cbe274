package graft.calc

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IndicatorPassSpec extends SparkSpec {
  import spark.implicits._

  test("distributed pass equals the sequential state machine, per symbol, any input order") {
    val n = 120
    val rnd = new scala.util.Random(7)
    val rows = for {
      sym <- Seq("A", "B")
      i <- 0 until n
    } yield {
      val c = 100.0 + rnd.nextGaussian() * (if (sym == "A") 1.0 else 3.0)
      (sym, new Timestamp(1700000000000L + i * 1000L),
        c - 0.1, c + 0.3, c - 0.3, c, 10.0, 1L, c)
    }
    val shuffled = rnd.shuffle(rows)
    val df = shuffled.toDF("symbol", "timestamp", "open", "high", "low", "close",
      "volume", "number_of_trades", "vwap")

    val out = IndicatorPass.withIndicators(df)
    val names = IndicatorPass.indicatorFields.map(_.name)

    // expected: run the state machine sequentially per symbol in time order
    val bySym = rows.groupBy(_._1).map { case (s, rs) =>
      val st = new IndicatorPass.SymbolState()
      s -> rs.sortBy(_._2.getTime).map(r => st.next(r._3, r._4, r._5, r._6))
    }
    val got = out.orderBy("symbol", "timestamp").collect()
    assert(got.length == 2 * n)
    got.zipWithIndex.foreach { case (r, gi) =>
      val sym = r.getString(0)
      val idx = gi % n
      val want = bySym(sym)(idx)
      names.zip(want).foreach { case (name, w) =>
        val g = r.get(r.fieldIndex(name))
        assert(g == w, s"$sym row $idx col $name: got $g want $w")
      }
    }
  }

  test("short series fall back to the reference's degenerate fills") {
    val df = Seq(
      ("A", new Timestamp(0L), 1.0, 2.0, 0.5, 1.5, 1.0, 1L, 1.0),
      ("A", new Timestamp(1000L), 1.0, 2.1, 0.6, 1.6, 1.0, 1L, 1.0)
    ).toDF("symbol", "timestamp", "open", "high", "low", "close",
      "volume", "number_of_trades", "vwap")
    val r = IndicatorPass.withIndicators(df).orderBy("timestamp").collect()
    assert(r(0).getAs[Double]("adx") == 0.0)
    assert(r(0).getAs[Double]("macd") == 0.0)
    assert(r(0).getAs[Double]("t3") == 1.5) // NaN→close
    assert(r(0).getAs[Double]("psar") == 1.5) // first row NaN→close
    assert(r(0).getAs[Int]("is_no_trend") == 1)
    assert(r(1).getAs[Double]("t3") == 1.6)
  }

  test("plan shape: exactly one exchange (hash by symbol), no extra sort") {
    val df = Seq(("A", new Timestamp(0L), 1.0, 2.0, 0.5, 1.5, 1.0, 1L, 1.0))
      .toDF("symbol", "timestamp", "open", "high", "low", "close",
        "volume", "number_of_trades", "vwap")
    val plan = IndicatorPass.withIndicators(df).queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(symbol"))
    assert("Exchange".r.findAllIn(plan).length == 1, s"extra shuffles:\n$plan")
  }

  test("a null symbol is its own group, with the indicators of a named one") {
    val rnd = new scala.util.Random(11)
    val candles = (0 until 40).map { i =>
      val c = 100.0 + rnd.nextGaussian()
      (new Timestamp(1700000000000L + i * 1000L), c - 0.1, c + 0.3, c - 0.3, c)
    }
    val df = (for (sym <- Seq(Some("A"), None); (ts, o, h, l, c) <- candles)
      yield (sym, ts, o, h, l, c)).toDF("symbol", "timestamp", "open", "high", "low", "close")
    val cols = (IndicatorPass.indicatorFields ++ IndicatorPass.patternFields).map(f => col(f.name))
    for (bucket <- Seq(None, Some(IndicatorPass.BucketSpec(bucketSeconds = 10, warmupRows = 3)))) {
      val out = IndicatorPass.withIndicators(df, patterns = true, bucket = bucket)
      def series(group: org.apache.spark.sql.Column) =
        out.filter(group).orderBy("timestamp").select(cols: _*).collect().toSeq
      val named = series(col("symbol") === "A")
      assert(named.length == candles.length, s"bucket $bucket")
      assert(series(col("symbol").isNull) == named, s"bucket $bucket")
    }
  }
}
