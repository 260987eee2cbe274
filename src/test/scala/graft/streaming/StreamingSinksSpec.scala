package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** foreachBatch upsert: replayed/corrected rows across micro-batches must
  * overwrite, not duplicate — the reference's dedup-on-merge rewrite
  * (fetch_historical_trades_nvda.py:239-245) as a streaming sink.
  */
class StreamingSinksSpec extends SparkSpec {

  test("upsertParquet keeps the newest row per key across batches") {
    val session = spark
    import session.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = session.sqlContext
    withTempDir("graft_upsert") { dir =>
      val path = s"$dir/table"

      val input = MemoryStream[(String, Timestamp, Double)]
      val stream = input.toDF().toDF("symbol", "timestamp", "price")
      val q = StreamingSinks.upsertParquet(stream, path,
        keys = Seq("symbol", "timestamp"), checkpoint = s"$dir/ckpt")
      try {
        val t1 = Timestamp.valueOf("2024-01-02 10:00:00")
        val t2 = Timestamp.valueOf("2024-01-02 10:00:01")
        input.addData(Seq(("AAA", t1, 10.0), ("AAA", t2, 11.0)))
        q.processAllAvailable()
        // batch 2 replays t1 with a corrected price and adds a new key
        input.addData(Seq(("AAA", t1, 99.0), ("BBB", t1, 20.0)))
        q.processAllAvailable()

        val rows = spark.read.parquet(path)
          .orderBy("symbol", "timestamp")
          .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
        assert(rows.toSeq == Seq(
          ("AAA", t1, 99.0), ("AAA", t2, 11.0), ("BBB", t1, 20.0)))
      } finally q.stop()
    }
  }

  test("partitioned upsert rewrites only the partitions a batch touches") {
    val session = spark
    import session.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = session.sqlContext
    withTempDir("graft_upsert_part") { dir =>
      val path = s"$dir/table"

      val input = MemoryStream[(String, String, Double)]
      val stream = input.toDF().toDF("trade_date", "symbol", "price")
      val q = StreamingSinks.upsertParquetPartitioned(stream, path,
        keys = Seq("trade_date", "symbol"), partitionCol = "trade_date",
        checkpoint = s"$dir/ckpt")
      try {
        input.addData(Seq(("2024-01-02", "AAA", 10.0), ("2024-01-03", "AAA", 11.0)))
        q.processAllAvailable()
        val d2Files = new java.io.File(s"$path/trade_date=2024-01-02")
          .listFiles().map(f => f.getName -> f.lastModified).toMap
        // batch 2 corrects a 01-03 row and adds a key there; 01-02 is untouched
        input.addData(Seq(("2024-01-03", "AAA", 99.0), ("2024-01-03", "BBB", 20.0)))
        q.processAllAvailable()

        val rows = spark.read.parquet(path)
          .selectExpr("cast(trade_date as string) trade_date", "symbol", "price")
          .orderBy("trade_date", "symbol")
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        assert(rows.toSeq == Seq(
          ("2024-01-02", "AAA", 10.0), ("2024-01-03", "AAA", 99.0),
          ("2024-01-03", "BBB", 20.0)))
        // dynamic overwrite left the untouched partition's files alone
        val d2After = new java.io.File(s"$path/trade_date=2024-01-02")
          .listFiles().map(f => f.getName -> f.lastModified).toMap
        assert(d2After == d2Files, "untouched partition must not be rewritten")
      } finally q.stop()
    }
  }
}
