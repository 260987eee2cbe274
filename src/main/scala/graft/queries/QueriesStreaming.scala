package graft.queries

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.calc.IndicatorPass
import graft.operators.CandleAggregator
import graft.queries.Det.tsMicros
import graft.streaming.{StreamingAnchoredVwap, StreamingCandles, StreamingIndicators, StreamingSketch}
import graft.streaming.StreamingAnchoredVwap.usTs

/** §2.9 on the scoreboard: the REAL Structured Streaming pipelines run over
  * the sf ticks as event-time micro-batches and are counted against the
  * batch results — the reference's batch ≡ stream promise (shared
  * apply_all_calculations, candle_to_calcs.py:653 vs :777) as a
  * driver-visible, hash-checked row.
  *
  * The emitted row is (n_candles, n_stream_g1, g1_only_batch, g1_only_stream,
  * n_h_batch, n_stream_h, h_only_batch, h_only_stream); the DuckDB oracle
  * recomputes n_candles independently and pins every mismatch column to 0,
  * so ANY batch/stream divergence — a missing window, a wrong indicator bit,
  * a dropped row — turns the row red.
  *
  * The MemoryStream feed is driver-side BY NATURE: it is the in-process
  * harness source (production streams arrive via readStream file/Kafka
  * sources, same operators). The sorted toLocalIterator feed here is the
  * harness, not part of the computation under test, which runs distributed
  * like any other streaming query; slices stay bounded at any SF.
  *
  * Every row drives its query through one finite-replay harness:
  * [[replay]] (MemoryStream → memory sink), [[drainFiles]] (file source
  * with an on-disk checkpoint) and [[withScratch]] (the scratch directory
  * those file queries read and write).
  */
object QueriesStreaming {

  /** A finite replay of one streaming query, drained. `add` appends one
    * micro-batch and drains it (valid while the replay runs, i.e. inside
    * its `tail`).
    */
  private final class Replay[T](spark: SparkSession, name: String,
                                in: MemoryStream[T], q: StreamingQuery) {
    def add(rows: Seq[T]): Unit = { in.addData(rows); q.processAllAvailable() }

    /** The memory sink's rows so far. */
    def output: DataFrame = spark.table(name)

    /** State rows of the query's stateful operator, per micro-batch. */
    def stateRows: Seq[Long] = QueriesStreaming.stateRows(q)

    /** Reads the replay, then drops its memory table: for rows whose result
      * is a local frame, so repeated runs leave no temp view behind. A row
      * that returns [[output]] itself keeps the table.
      */
    def consume[R](read: Replay[T] => R): R =
      try read(this) finally spark.catalog.dropTempView(name)
  }

  private def stateRows(q: StreamingQuery): Seq[Long] =
    q.recentProgress.toSeq.flatMap(_.stateOperators.headOption).map(_.numRowsTotal)

  /** The finite-replay harness: runs `query` over a MemoryStream carrying
    * `feed`'s columns into a memory sink (or `sink`), adds the SORTED
    * `feed` in slices of `slice(count)` rows, then whatever `tail` adds
    * (sentinels, a barrier), draining after every add, and stops the query
    * in finally; on failure it drops the memory table too.
    *
    * The feed is bounded: toLocalIterator holds one partition and one slice
    * on the driver at a time (a full collect() scaled linearly and the
    * 55 MB MemoryStream batches it produced at sf1 flooded the task
    * scheduler), and on a sorted frame it yields partitions in range
    * order, so the event-time feed order is preserved. The default slice
    * is ~1/20 of the feed, capped at 65,536 rows.
    */
  private def replay[T: Encoder](spark: SparkSession, feed: Dataset[T],
      slice: Long => Int = n => math.max(1L, math.min(65536L, n / 20 + 1)).toInt,
      sink: DataStreamWriter[Row] => DataStreamWriter[Row] = _.format("memory"))(
      query: DataFrame => DataFrame)(
      tail: Replay[T] => Unit = (_: Replay[T]) => ()): Replay[T] = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[T]
    val name = s"graft_replay_${System.nanoTime}"
    val q = sink(query(in.toDF().toDF(feed.columns.toSeq: _*)).writeStream)
      .queryName(name).outputMode("append").start()
    val r = new Replay(spark, name, in, q)
    try {
      feed.toLocalIterator().asScala.grouped(slice(feed.count())).foreach(sl => r.add(sl.toSeq))
      tail(r)
      r
    } catch { case e: Throwable => spark.catalog.dropTempView(name); throw e }
    finally q.stop()
  }

  /** Runs `query` over the parquet files under `src` into a parquet sink at
    * `sink`, checkpointed at `ckpt`, until drained, then stops it. Returns
    * its state rows per micro-batch.
    */
  private def drainFiles(spark: SparkSession, schema: StructType, src: String,
                         sink: String, ckpt: String)(
      query: DataFrame => DataFrame): Seq[Long] = {
    val q = query(spark.readStream.schema(schema).parquet(src))
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try { q.processAllAvailable(); stateRows(q) } finally q.stop()
  }

  /** Runs `body` on a fresh scratch directory, deleted in finally. Every
    * read of it must be eager inside `body`.
    */
  private def withScratch[R](prefix: String)(body: String => R): R = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try body(root.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  /** The distinct event types: one flush sentinel per group (bounded). */
  private def eventTypes(ev: DataFrame): Seq[String] =
    ev.select(col("event_type")).distinct().collect().map(_.getString(0)).toSeq

  /** batch.except(stream) / stream.except(batch) over bit-exact rows.
    * Set semantics are safe: every compared frame is unique per
    * (symbol, timestamp), and Spark's set ops treat NaN = NaN.
    */
  private def diffCounts(batch: DataFrame, stream: DataFrame): (Long, Long) = {
    val cols = batch.columns.sorted.map(c => col(s"`$c`")).toSeq
    val b = batch.select(cols: _*)
    val s = stream.select(cols: _*)
    (b.except(s).count(), s.except(b).count())
  }

  private def streamEquiv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    val ticks = graft.core.Tables.ticks(spark, dir)
    val batchCandles = CandleAggregator.aggregate(ticks).cache()

    // ---- G1: windowed agg + watermark over micro-batched ticks
    val tickFeed = ticks
      .select(col("symbol"), col("timestamp"), col("price"), col("volume"), col("seq"))
      .orderBy(col("timestamp"), col("symbol"), col("seq"))
      .as[(String, Timestamp, Double, Double, Long)]
    val lastTs = ticks.agg(max(col("timestamp"))).collect()(0).getTimestamp(0).getTime
    val (g1OnlyBatch, g1OnlyStream, nStreamG1) =
      replay(spark, tickFeed)(StreamingCandles.candles1s(_)) {
        // sentinel far past the end pushes the watermark over every real window
        _.add(Seq(("\u0000SENTINEL", new Timestamp(lastTs + 3600L * 1000), 1.0, 1.0, -1L)))
      }.consume { r =>
        val streamG1 = r.output.filter(col("symbol") =!= "\u0000SENTINEL")
        val (onlyBatch, onlyStream) = diffCounts(batchCandles, streamG1)
        (onlyBatch, onlyStream, streamG1.count())
      }

    // ---- H: stateful kernel pass over micro-batched candles
    val ohlc = batchCandles.select(col("symbol"), col("timestamp"),
      col("open"), col("high"), col("low"), col("close"))
    val candleFeed = ohlc.orderBy(col("timestamp"), col("symbol"))
      .as[(String, Timestamp, Double, Double, Double, Double)]
    // patterns = true: the except-compare then covers all 86 columns — the
    // 20 indicator kernels AND the 59 CDL pattern rings — proving the
    // fused per-symbol state survives kryo state-store round-trips across
    // micro-batches, not just the indicator scalars
    val batchH = IndicatorPass.withIndicators(ohlc, patterns = true)
    val (hOnlyBatch, hOnlyStream, nStreamH) =
      replay(spark, candleFeed)(StreamingIndicators.indicatorStream(_, patterns = true))()
        .consume { r =>
          val (onlyBatch, onlyStream) = diffCounts(batchH, r.output)
          (onlyBatch, onlyStream, r.output.count())
        }

    val nCandles = batchCandles.count()
    batchCandles.unpersist()
    Seq((nCandles, nStreamG1, g1OnlyBatch, g1OnlyStream,
      nCandles, nStreamH, hOnlyBatch, hOnlyStream))
      .toDF("n_candles", "n_stream_g1", "g1_only_batch", "g1_only_stream",
        "n_h_batch", "n_stream_h", "h_only_batch", "h_only_stream")
  }

  /** The oracle recomputes the candle count from raw events and requires
    * zero divergence in all four except-counts — DuckDB-independent proof
    * that the streaming pipelines emitted exactly the batch rows.
    */
  private val streamEquivSql =
    s"""${QueriesDomain.withCandles}
       |SELECT COUNT(*) AS n_candles, COUNT(*) AS n_stream_g1,
       |  CAST(0 AS BIGINT) AS g1_only_batch, CAST(0 AS BIGINT) AS g1_only_stream,
       |  COUNT(*) AS n_h_batch, COUNT(*) AS n_stream_h,
       |  CAST(0 AS BIGINT) AS h_only_batch, CAST(0 AS BIGINT) AS h_only_stream
       |FROM candles""".stripMargin

  /** Checkpoint-RESTART equivalence — the last §2.9 pillar: a stateful
    * streaming query (the richest one: the fused indicator+pattern kernel,
    * per-symbol kryo state) run against a real on-disk `checkpointLocation`
    * with a FILE source and a file sink, STOPPED mid-input, restarted from
    * the checkpoint, and the combined output compared row-for-row against
    * the uninterrupted batch pass. If any state — EMA/ADX/ATR/SAR/T3
    * scalars, the 16-candle pattern rings, HIKKAKEMOD's confirmation
    * counter — failed to round-trip the state store across the restart,
    * the post-restart rows would restart cold and the except-counts go
    * red. The reference's analog is resume-by-re-merge
    * (fetch_historical_trades_nvda.py:203-258); Structured Streaming's
    * contract is stronger (exactly-once over checkpointed offsets + state)
    * and this row pins it.
    *
    * `n_pre_restart` (rows emitted before the stop, recomputed by the
    * oracle from the corpus midpoint) proves the stop really split the
    * input: 0 < n_pre_restart < n_candles.
    */
  private def streamRestartEquiv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    val batchCandles = CandleAggregator.aggregate(graft.core.Tables.ticks(spark, dir))
      .select(col("symbol"), col("timestamp"),
        col("open"), col("high"), col("low"), col("close")).cache()
    val bounds = batchCandles.agg(min(col("timestamp")), max(col("timestamp"))).head()
    val mid = new Timestamp((bounds.getTimestamp(0).getTime + bounds.getTimestamp(1).getTime) / 2)

    val out = withScratch("graft_restart_") { root =>
      val inDir = s"$root/in"; val sinkDir = s"$root/out"
      def runUntilDrained(): Unit =
        drainFiles(spark, batchCandles.schema, inDir, sinkDir, s"$root/ckpt")(
          StreamingIndicators.indicatorStream(_, patterns = true))

      // phase 1: first half of event time arrives, is processed, query STOPS
      batchCandles.filter(col("timestamp") <= lit(mid)).write.mode("append").parquet(inDir)
      runUntilDrained()
      val nPre = spark.read.parquet(sinkDir).count()

      // phase 2: the rest arrives; a NEW query resumes from the checkpoint
      batchCandles.filter(col("timestamp") > lit(mid)).write.mode("append").parquet(inDir)
      runUntilDrained()

      val streamed = spark.read.parquet(sinkDir)
      val batchH = IndicatorPass.withIndicators(batchCandles, patterns = true)
      val (onlyBatch, onlyStream) = diffCounts(batchH, streamed)
      Seq((batchCandles.count(), nPre, streamed.count(), onlyBatch, onlyStream))
        .toDF("n_candles", "n_pre_restart", "n_stream", "only_batch", "only_stream")
    }
    batchCandles.unpersist()
    out
  }

  private val streamRestartEquivSql =
    s"""${QueriesDomain.withCandles},
       |b AS (SELECT (epoch_ms(MIN(tstamp)) + epoch_ms(MAX(tstamp))) // 2 AS midms FROM candles)
       |SELECT COUNT(*) AS n_candles,
       |  (SELECT COUNT(*) FROM candles, b WHERE epoch_ms(tstamp) <= midms) AS n_pre_restart,
       |  COUNT(*) AS n_stream,
       |  CAST(0 AS BIGINT) AS only_batch, CAST(0 AS BIGINT) AS only_stream
       |FROM candles""".stripMargin

  /** The LLM-corpus ingest funnel, batch ≡ stream: quality gate + langId +
    * exact dedup run BOTH as the batch pipeline and as the streaming one
    * (micro-batched documents through streaming dropDuplicates state), and
    * the surviving NORMALIZED-CONTENT sets are compared exactly. Content
    * sets, not doc_ids: within one micro-batch the first-seen
    * representative of a duplicate group is partition-order dependent
    * (batch keeps lowest id) — the retained content is what the dedup
    * contract promises, and it must match row-for-row. The oracle replays
    * the funnel's survivor count by construction and pins both except-counts
    * to zero.
    */
  private def streamLlmDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    val docs = graft.core.Tables.documents(spark, dir)
    val kept = docs
      .withColumn("pred_lang", graft.functions.TextOps.langId(col("text")))
      .filter(graft.functions.TextOps.qualityScore(col("text")) >= 0.3)
    val batchNorms = graft.functions.TextOps.dedupExact(kept)
      .select(graft.functions.TextOps.normalized(col("text")).as("norm"))

    // Feed the stream through toLocalIterator in bounded slices: driver
    // memory holds one partition + one micro-batch at a time, not the whole
    // corpus (a full collect() scales linearly with SF and would eventually
    // OOM the driver). Slice size adapts: ≥5 micro-batches at the 500-doc
    // gate SF so cross-batch dedup state stays exercised, capped at 8192
    // docs per batch so driver memory stays bounded and the batch COUNT
    // stays sane at large corpora (500 round-trips at 100-doc slices made
    // the sf1 sweep crawl). orderBy keeps the feed deterministic; batch
    // boundaries don't matter because the equivalence below compares
    // normalized-content SETS, which are boundary-independent.
    val feed = docs.select(col("doc_id"), col("text")).orderBy("doc_id").as[(Long, String)]
    val (nStream, onlyBatch, onlyStream) =
      replay(spark, feed, slice = n => math.max(100L, math.min(8192L, n / 15)).toInt)(
          graft.streaming.StreamingCorpus.dedupExactStream(_))()
        .consume { r =>
          val streamNorms = r.output
            .select(graft.functions.TextOps.normalized(col("text")).as("norm"))
          val (onlyBatch, onlyStream) = diffCounts(batchNorms, streamNorms)
          (streamNorms.count(), onlyBatch, onlyStream)
        }
    Seq((batchNorms.count(), nStream, onlyBatch, onlyStream))
      .toDF("n_batch", "n_stream", "only_batch", "only_stream")
  }

  /** DuckDB replays quality gate + exact dedup and asserts zero divergence
    * (same scoring/dedup SQL the per-stage LLM oracles use).
    */
  private val streamLlmDedupSql = {
    val en = graft.functions.TextOps.stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, norm,
       |    CASE WHEN len(list_filter(toks, t -> t SIMILAR TO '\\S+')) BETWEEN 5 AND 100000
       |      THEN 1.0 ELSE 0.0 END *
       |    (0.5 * (length(text) - length(regexp_replace(text, '[a-zA-Z ]', '', 'g')))::DOUBLE / greatest(length(text), 1) +
       |     0.5 * least(len(list_filter(toks, t -> t IN ($en)))::DOUBLE / greatest(len(toks), 1) * 5, 1.0)) AS q
       |  FROM base)
       |SELECT COUNT(DISTINCT norm) AS n_batch, COUNT(DISTINCT norm) AS n_stream,
       |  CAST(0 AS BIGINT) AS only_batch, CAST(0 AS BIGINT) AS only_stream
       |FROM scored WHERE q >= 0.3""".stripMargin
  }

  /** Streaming twin of `llm_bigram_lm_filter`: documents arrive as
    * micro-batches and are scored against the STATIC curated-slice bigram
    * model — the shape of a live ingest gate scoring crawl shards as they
    * land. The model rides a broadcast as driver-side maps (MODEL, not
    * data — the k-means-centroid precedent; a curated slice past broadcast
    * size switches to the stream-static join form), the scorer is a
    * stateless per-doc batch kernel (no cross-batch state, no watermark
    * needed), and the per-doc (doc_id, score, n_oov) rows are compared
    * EXACTLY against the batch pipeline's — integer scores, so equality is
    * bit-for-bit. Output pins both except-counts to zero next to the count
    * and score sum the oracle replays independently.
    */
  private def streamBigramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    val batchScores = QueriesCorpus.bigramDocScores(spark, dir)
      .select(col("doc_id"), col("score"), col("n_oov"))
    val (uni, big, v) = QueriesCorpus.bigramModel(spark, dir)
    val bc = spark.sparkContext.broadcast((uni, big, v))

    def score(docs: DataFrame): DataFrame = docs.as[(Long, String)]
      .mapPartitions { it =>
        val (u, b, vv) = bc.value
        it.flatMap { case (docId, text) =>
          // mirror TextOps.normalized EXACTLY: Spark trim strips SPACES
          // only (not tabs), lower is locale-independent, and Spark split
          // keeps trailing empty tokens (Java limit -1)
          val toks = text.replaceAll("^ +| +$", "")
            .toLowerCase(java.util.Locale.ROOT)
            .replaceAll("\\s+", " ").split(" ", -1)
          if (toks.length < 2) Iterator.empty
          else {
            var sum = 0L
            var oov = 0L
            var i = 0
            while (i < toks.length - 1) {
              val cb = b.getOrElse((toks(i), toks(i + 1)), 0L)
              if (cb == 0L) oov += 1
              sum += ((cb + 1L) * 1000000L) / (u.getOrElse(toks(i), 0L) + vv)
              i += 1
            }
            Iterator((docId, sum / (toks.length - 1L), oov))
          }
        }
      }.toDF("doc_id", "score", "n_oov")
    val docs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).orderBy("doc_id").as[(Long, String)]
    val (nStream, onlyBatch, onlyStream) = replay(spark, docs)(score)().consume { r =>
      val (onlyBatch, onlyStream) = diffCounts(batchScores, r.output)
      (r.output.count(), onlyBatch, onlyStream)
    }
    val sumScore = batchScores.agg(sum(col("score"))).head().getLong(0)
    val out =
      Seq((batchScores.count(), nStream, onlyBatch, onlyStream, sumScore))
        .toDF("n_batch", "n_stream", "only_batch", "only_stream", "sum_score")
    // results are fully materialized above — release the model broadcast so
    // repeated harness runs don't pin model memory on executors
    bc.destroy()
    out
  }

  /** Stream-static-JOIN twin of `llm_bigram_lm_filter` — the wiring that
    * scales ([[QueriesCorpus.bigramModelFrames]]): micro-batches are scored
    * by JOINING against the model DataFrames inside foreachBatch (broadcast
    * stream-static join), so the model NEVER leaves the cluster — zero
    * driver-side model collect, unlike [[streamBigramLm]]'s collected-map
    * fast path. foreachBatch is the honest shape because every doc is
    * self-contained within its micro-batch: the per-doc aggregate needs no
    * cross-batch state, no watermark, and the state store stays empty. The
    * model frames are built once and persisted; each micro-batch re-joins
    * the executor-cached model. Scores are bit-equal to batch by
    * construction (identical integer expressions on identical
    * normalization), and the output pins both except-counts to zero.
    */
  private def streamBigramLmJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    val batchScores = QueriesCorpus.bigramDocScores(spark, dir)
      .select(col("doc_id"), col("score"), col("n_oov"))
    val (uni, big, vocab) =
      QueriesCorpus.bigramModelFrames(QueriesCorpus.tokenizedDocs(spark, dir))
    uni.persist(); big.persist(); vocab.persist()

    val docs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text")).orderBy("doc_id")
      .as[(Long, String, String)]
    // every read of outDir/model is eager (diffCounts/count below), so the
    // local-Seq result frame survives the cleanup
    val out = withScratch("graft_stream_lm_join") { outDir =>
      replay(spark, docs, sink = _.foreachBatch { (b: DataFrame, _: Long) =>
        val toks = b.select(col("doc_id"), col("source"),
            split(graft.functions.TextOps.normalized(col("text")), " ").as("toks"))
          .filter(size(col("toks")) >= 2)
        QueriesCorpus.scoreAgainstModel(toks, uni, big, vocab)
          .select(col("doc_id"), col("score"), col("n_oov"))
          .write.mode("append").parquet(outDir)
      })(identity)()
      val streamScores = spark.read.parquet(outDir)
      val (onlyBatch, onlyStream) = diffCounts(batchScores, streamScores)
      val sumScore = batchScores.agg(sum(col("score"))).head().getLong(0)
      Seq((batchScores.count(), streamScores.count(), onlyBatch, onlyStream, sumScore))
        .toDF("n_batch", "n_stream", "only_batch", "only_stream", "sum_score")
    }
    uni.unpersist(); big.unpersist(); vocab.unpersist()
    out
  }

  /** DuckDB replays the per-doc LM scores and pins both except-counts to
    * zero — hash-green means the streaming scorer reproduced every batch
    * doc score exactly.
    */
  private val streamBigramLmSql =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |dd AS (SELECT * FROM d WHERE len(toks) >= 2),
      |uni AS (
      |  SELECT w1, COUNT(*) AS cu FROM (
      |    SELECT unnest(toks) AS w1 FROM dd WHERE source = 'src0') GROUP BY w1),
      |vocab AS (SELECT COUNT(*) AS v FROM uni),
      |big AS (
      |  SELECT w1, w2, COUNT(*) AS cb FROM (
      |    SELECT toks[i] AS w1, toks[i+1] AS w2
      |    FROM dd, unnest(range(1, len(toks))) AS r(i) WHERE source = 'src0')
      |  GROUP BY w1, w2),
      |doc_big AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      |  FROM dd, unnest(range(1, len(toks))) AS r(i)),
      |doc_score AS (
      |  SELECT db.doc_id,
      |    SUM(((COALESCE(b.cb, 0) + 1) * 1000000) // (COALESCE(u.cu, 0) + v.v))
      |      // COUNT(*) AS score
      |  FROM doc_big db
      |  LEFT JOIN big b ON b.w1 = db.w1 AND b.w2 = db.w2
      |  LEFT JOIN uni u ON u.w1 = db.w1
      |  CROSS JOIN vocab v
      |  GROUP BY db.doc_id)
      |SELECT COUNT(*) AS n_batch, COUNT(*) AS n_stream,
      |  CAST(0 AS BIGINT) AS only_batch, CAST(0 AS BIGINT) AS only_stream,
      |  CAST(SUM(score) AS BIGINT) AS sum_score
      |FROM doc_score""".stripMargin

  /** The bounded-state (watermarked) dedup dial on the scoreboard: feed the
    * first 50 docs at T0, advance the watermark past T0+delay with a
    * sentinel doc at T1, then re-feed the lowest-id batch-1 SURVIVOR's text
    * at T1 — its state was evicted, so the duplicate is READMITTED. Emits
    * (n_base = batch-1 survivors, n_emitted = n_base + sentinel +
    * readmitted, n_readmitted = 1). The oracle replays n_base from the
    * documents table (same gate + distinct-norm SQL as stream_llm_dedup)
    * and pins the +2/+1 arithmetic — hash-green proves both the funnel
    * arithmetic AND the eviction/readmission semantics, since an unexpired
    * state row would make n_emitted one short.
    */
  private def streamLlmDedupWm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (nBase, nEmitted, _) = dedupReadmission(spark, dir)
    Seq((nBase, nEmitted, nEmitted - nBase - 1))
      .toDF("n_base", "n_emitted", "n_readmitted")
  }

  /** The readmission probe behind `stream_llm_dedup_wm` and
    * `stream_state_bounds`: the doc_id < 50 docs arrive at T0 in one
    * micro-batch, a sentinel doc at T1 advances the watermark past
    * T0 + delay, then the lowest-id batch-1 survivor's text arrives again
    * at T1. Returns (n_base = batch-1 survivors, n_emitted, state rows per
    * micro-batch).
    */
  private def dedupReadmission(spark: SparkSession, dir: String): (Long, Long, Seq[Long]) = {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = Timestamp.valueOf("2024-01-01 11:00:00")
    // outside the corpus vocabulary (TESTDATA words are spark-ish), passes
    // the quality gate via its English stopwords
    val sentinel = "the quick brown fox jumps over the lazy dog in the morning"
    val docs = graft.core.Tables.documents(spark, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text"), lit(t0).as("arrival_ts"))
      .orderBy("doc_id").as[(Long, String, Timestamp)]

    replay(spark, docs, slice = n => math.max(1L, n).toInt)(
        graft.streaming.StreamingCorpus.dedupExactStreamBounded(_, delay = "10 minutes")) { r =>
      val base = r.output.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      require(base.nonEmpty, "no doc_id<50 document passed the 0.3 quality " +
        "gate at this SF/corpus — the readmission probe needs at least one " +
        "batch-1 survivor")
      // batch 2: sentinel advances the watermark to T1 - delay > T0 + delay
      r.add(Seq((-1L, sentinel, t1)))
      // batch 3: duplicate of the lowest-id survivor, FRESH arrival time;
      // its norm's state expired at T0 + delay < watermark -> readmitted
      val (id, text) = base.minBy(_._1)
      r.add(Seq((id + 100000L, text, t1)))
    }.consume { r =>
      (r.output.filter(col("arrival_ts") === lit(t0)).count(), r.output.count(), r.stateRows)
    }
  }

  /** Replays n_base (distinct normalized contents among gated docs with
    * doc_id < 50) and pins the sentinel/readmission arithmetic.
    */
  private val streamLlmDedupWmSql = {
    val en = graft.functions.TextOps.stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents WHERE doc_id < 50),
       |scored AS (
       |  SELECT doc_id, norm,
       |    CASE WHEN len(list_filter(toks, t -> t SIMILAR TO '\\S+')) BETWEEN 5 AND 100000
       |      THEN 1.0 ELSE 0.0 END *
       |    (0.5 * (length(text) - length(regexp_replace(text, '[a-zA-Z ]', '', 'g')))::DOUBLE / greatest(length(text), 1) +
       |     0.5 * least(len(list_filter(toks, t -> t IN ($en)))::DOUBLE / greatest(len(toks), 1) * 5, 1.0)) AS q
       |  FROM base)
       |SELECT COUNT(DISTINCT norm) AS n_base,
       |  COUNT(DISTINCT norm) + 2 AS n_emitted,
       |  CAST(1 AS BIGINT) AS n_readmitted
       |FROM scored WHERE q >= 0.3""".stripMargin
  }

  /** Streaming incremental admission vs the PERSISTED corpus index — the
    * online half of `llm_incremental_dedup`'s exact legs
    * ([[graft.streaming.StreamingCorpus.admitIncrementalStreamCatalog]]):
    * the batch partition (`doc_id % 5 = 0`) streams in ordered slices, each
    * micro-batch anti-joining the SAME catalog-backed `bucketBy(fp)` index
    * `llm_incremental_bucketed` writes at ingest (reused when that row
    * already built it this session, written once otherwise — batch and
    * stream admission share one persisted index, the production shape) and
    * deduping against the stream's own admitted state. Emits the
    * batch-vs-stream admitted-content-set diff — zero by construction
    * (admission is a set property, independent of micro-batch boundaries
    * and of which duplicate instance arrives first); the oracle replays
    * the admitted count from the tables.
    */
  private def streamIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    val docs = graft.core.Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("text"))

    // one persisted fingerprint index for this dataset, shared with
    // llm_incremental_bucketed (same name, same content — the corpus side
    // of incrementalFrames without the injected near-dups)
    val (_, fpTable) = QueriesLlm.indexTableNames(dir)
    if (!spark.catalog.tableExists(fpTable))
      graft.sources.Sinks.writeBucketed(
        corpus.select(graft.functions.TextOps.fingerprint(col("text")).as("fp")).distinct(),
        fpTable, 32, Seq("fp"))
    val corpusFp = spark.table(fpTable).select(col("fp").as("__fp"))

    val batchNorms = batch
      .withColumn("__fp", graft.functions.TextOps.fingerprint(col("text")))
      .join(corpusFp, Seq("__fp"), "left_anti")
      .select(graft.functions.TextOps.normalized(col("text")).as("norm")).distinct()

    val (nStream, onlyBatch, onlyStream) =
      replay(spark, batch.orderBy("doc_id").as[(Long, String)],
          slice = n => math.max(100L, math.min(8192L, n / 5)).toInt)(
          graft.streaming.StreamingCorpus.admitIncrementalStreamCatalog(_, fpTable))()
        .consume { r =>
          val streamNorms = r.output
            .select(graft.functions.TextOps.normalized(col("text")).as("norm"))
          val (onlyBatch, onlyStream) = diffCounts(batchNorms, streamNorms)
          (streamNorms.count(), onlyBatch, onlyStream)
        }
    Seq((batchNorms.count(), nStream, onlyBatch, onlyStream))
      .toDF("n_batch", "n_stream", "only_batch", "only_stream")
  }

  private val streamIncrementalDedupSql =
    """WITH cn AS (
      |  SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      |  FROM documents WHERE doc_id % 5 <> 0),
      |bn AS (
      |  SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      |  FROM documents WHERE doc_id % 5 = 0),
      |adm AS (SELECT t FROM bn WHERE t NOT IN (SELECT t FROM cn))
      |SELECT COUNT(*) AS n_batch, COUNT(*) AS n_stream,
      |  CAST(0 AS BIGINT) AS only_batch, CAST(0 AS BIGINT) AS only_stream
      |FROM adm""".stripMargin

  /** M4 anchored VWAP, batch ≡ stream, hash-checked row-for-row: the
    * time-trigger anchor subset of anchored_vwap_real computed by
    * [[graft.streaming.StreamingAnchoredVwap]] — (Σpv, Σv) suffix state in
    * the flatMapGroupsWithState pass, chunk-rollover emission — and
    * compared against an independent DuckDB replay of the SAME rows
    * (trigger anchors × chunk-last-row × exact-decimal suffix VWAP). The
    * stream's emitted snapshot rows ARE the query result, so any state
    * divergence — a wrong prefix snapshot, a missed day-flag, a rounding
    * drift — turns the row red. Final-chunk flush via one far-future
    * sentinel row per symbol (next chunk; contributes no output row).
    */
  private def streamAnchoredVwap(spark: SparkSession, dir: String): DataFrame =
    anchoredVwapReplay(spark, dir)(StreamingAnchoredVwap.anchoredVwapStream(_)) { candles =>
      candles.groupBy(col("symbol"))
        .agg(max(col("timestamp")).as("mx"))
        .collect()
        .map(r => (r.getString(0),
          new Timestamp(r.getTimestamp(1).getTime + 31L * 86400 * 1000), 1.0, 1.0))
        .toSeq
    }

  /** Both anchored-VWAP rows: the sf candles in event-time order through
    * `operator`, then the flush rows `tail(candles)` builds; rows of the
    * `\u0000`-prefixed barrier symbol are dropped from the output.
    */
  private def anchoredVwapReplay(spark: SparkSession, dir: String)(
      operator: DataFrame => DataFrame)(
      tail: DataFrame => Seq[(String, Timestamp, Double, Double)]): DataFrame = {
    import spark.implicits._
    val candles = CandleAggregator.aggregate(graft.core.Tables.ticks(spark, dir))
    val feed = candles
      .select(col("symbol"), col("timestamp"), col("close"), col("volume"))
      .orderBy(col("timestamp"), col("symbol"))
      .as[(String, Timestamp, Double, Double)]
    replay(spark, feed)(operator)(_.add(tail(candles)))
      .output.filter(!col("symbol").startsWith("\u0000")).select(
        col("symbol"), col("timeframe"), col("anchor_type"),
        tsMicros(col("anchor_timestamp")).as("anchor_timestamp"),
        col("anchor_idx"), col("price_at_anchor"),
        tsMicros(col("current_snapshot_timestamp")).as("current_snapshot_timestamp"),
        col("current_idx"), col("anchored_vwap"))
  }

  private val streamAnchoredVwapSql =
    s"""${QueriesDomain.withCandles},
       |${QueriesDomain.w14CommonCtes},
       |${QueriesDomain.w14DailyAnchorCtes},
       |tails AS (
       |  SELECT symbol AS vsym, tstamp AS vts,
       |    ROUND(SUM(CAST(close AS DECIMAL(18,2)) * CAST(volume AS DECIMAL(18,4))) OVER wt,
       |      2) AS tail_pv,
       |    ROUND(SUM(CAST(volume AS DECIMAL(18,4))) OVER wt, 2) AS tail_v
       |  FROM candles
       |  WINDOW wt AS (PARTITION BY symbol, epoch_us(tstamp) // ${graft.calc.AnchorSnapshots.chunkUs()}
       |    ORDER BY tstamp ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT t.symbol, '1s' AS timeframe, t.anchor_type,
       |  strftime(t.tstamp, '${QueriesDomain.fmt}') AS anchor_timestamp,
       |  t.cidx AS anchor_idx, t.price_at_anchor,
       |  strftime(l.snap_ts, '${QueriesDomain.fmt}') AS current_snapshot_timestamp,
       |  l.current_idx,
       |  CASE WHEN ta.tail_v > 0 THEN CAST(ta.tail_pv AS DOUBLE) / CAST(ta.tail_v AS DOUBLE)
       |    END AS anchored_vwap
       |FROM trig t
       |JOIN last_rows l ON t.symbol = l.lsym AND t.chunk = l.lchunk
       |JOIN tails ta ON t.symbol = ta.vsym AND t.tstamp = ta.vts""".stripMargin

  /** The SAME trigger-anchor VWAP rows from the `transformWithState`
    * processor ([[graft.streaming.StreamingAnchoredVwapTws]]) — Spark 4's
    * arbitrary-state operator with EVENT-TIME TIMER flush replacing the
    * per-symbol sentinel rows: each chunk registers a timer at its end
    * boundary and flushes when the watermark passes it, so quiet symbols
    * flush too and the finite replay needs ONE barrier row total. Runs on
    * the RocksDB state store (transformWithState requires it; conf is
    * set/restored around the query). Checked against the identical DuckDB
    * replay as `stream_anchored_vwap`, pinning fMGWS-with-sentinels ≡
    * timer-flush-TWS row-for-row.
    */
  private def streamAnchoredVwapTws(spark: SparkSession, dir: String): DataFrame = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try anchoredVwapReplay(spark, dir)(in =>
        graft.streaming.StreamingAnchoredVwapTws.anchoredVwapStream(
          in.withWatermark("timestamp", "10 seconds"))) { candles =>
      val maxTs = candles.agg(max(col("timestamp"))).head().getTimestamp(0)
      // one barrier row TOTAL: its only job is pushing the global watermark
      // past every real chunk-end boundary so all pending timers fire
      Seq(("\u0000WM", new Timestamp(maxTs.getTime +
        graft.calc.AnchorSnapshots.chunkUs() / 1000L + 3600L * 1000L), 1.0, 1.0))
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  /** Streaming HLL distinct-count ([[graft.streaming.StreamingSketch]]):
    * 256-int bounded state per group, sentinel-triggered emission, joined
    * with the batch exact counts into the EXACT row shape of
    * `sk_hll_distinct` — and checked against that query's own oracle SQL,
    * so one DuckDB replay pins batch, stream, and oracle to identical
    * bits.
    */
  private def streamHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    val ev = graft.core.Tables.events(spark, dir)
      .select(col("event_type"), col("user_id").cast("long").as("user_id"))
    val feed = ev.withColumn("is_sentinel", lit(false))
      .orderBy(col("event_type"), col("user_id")).as[(String, Long, Boolean)]
    val types = eventTypes(ev)
    val out = replay(spark, feed)(StreamingSketch.hllDistinctStream)(
      _.add(types.map(t => (t, 0L, true)))).output

    val exact = ev.groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n_exact"))
    out.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"), col("v_zero"), col("hll_raw"), col("hll_est"))
      .withColumn("err_pct",
        (col("hll_est") - col("n_exact")).cast("double") * lit(100.0) / col("n_exact").cast("double"))
  }

  /** Streaming histogram quantiles ([[graft.streaming.StreamingSketch
    * .histQuantileStream]]): the batch `sk_hist_quantiles` estimates from
    * bounded per-group bin-count state, flushed by sentinel rows; the
    * exact rank-selection companion joins in batch-side, so the full row —
    * estimate, exact, error — hash-matches the batch query's own oracle.
    */
  private def streamHistQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType

    val ev = graft.core.Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"),
        (col("value").cast(DecimalType(12, 2)) * 100).cast("long").as("cents"))
    val feed = ev.select(col("event_type"), col("cents"), lit(false).as("is_sentinel"))
      .orderBy(col("event_type"), col("cents")).as[(String, Long, Boolean)]
    val types = eventTypes(ev)
    val est = replay(spark, feed)(StreamingSketch.histQuantileStream(_, Seq(500, 950, 990)))(
      _.add(types.map(t => (t, 0L, true)))).output

    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val ranked = ev.select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(wv))
    est.join(ranked, Seq("event_type"))
      .filter(col("rn") === col("rank_q"))
      .select(col("event_type"), col("q"), col("n"), col("rank_q"),
        col("est_q"), col("value").as("exact_q"),
        (col("est_q") - col("value")).as("err"))
  }

  /** Stream-stream interval join with watermarked state: clicks within the
    * hour BEFORE a purchase by the same user (the classic attribution
    * join), both sides branches of one event stream. The inner join emits
    * eagerly on match; the 2-hour watermarks bound the click-side state to
    * O(rate × window) — Spark evicts buffered clicks once the purchase-side
    * watermark passes `c_ts + 1h`, so state never scales with stream
    * length. The time-sorted feed means every matching click is buffered
    * before its purchase arrives (c_ts ≤ p_ts), so the emitted pair SET is
    * exactly the batch range join, which the oracle replays in DuckDB —
    * every pair, not a count, is hash-checked.
    */
  private def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    val ev = graft.core.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .filter(col("event_type").isin("purchase", "click"))
    val feed = ev.orderBy(col("ts"), col("event_id"))
      .as[(Long, Timestamp, Long, String)]

    replay(spark, feed) { s =>
      val purchases = s.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"), col("user_id").as("p_user"))
        .withWatermark("p_ts", "2 hours")
      val clicks = s.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("c_ts"), col("user_id").as("c_user"))
        .withWatermark("c_ts", "2 hours")
      purchases.join(clicks,
          expr("p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"))
        .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
    }().output
  }

  private val streamStreamJoinSql =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts::TIMESTAMP BETWEEN p.ts::TIMESTAMP - INTERVAL 1 HOUR
      |                         AND p.ts::TIMESTAMP""".stripMargin

  /** Streaming per-group top-k ([[StreamingSketch.topKStream]], k = 3):
    * the state IS the batch [[graft.operators.TopKAggregator]] buffer, so
    * the emitted rows hash-match q14's oracle.
    */
  private def streamTopK(spark: SparkSession, dir: String): DataFrame =
    topKReplay(spark, dir).output

  /** The top-k replay behind `stream_topk` and `stream_state_bounds`:
    * every event in event_id order, then one flush sentinel per type.
    */
  private def topKReplay(spark: SparkSession, dir: String): Replay[(String, Double, Long, Boolean)] = {
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
    val feed = ev.withColumn("is_sentinel", lit(false))
      .orderBy(col("event_id")).as[(String, Double, Long, Boolean)]
    val types = eventTypes(ev)
    replay(spark, feed)(StreamingSketch.topKStream(_, 3))(
      _.add(types.map(t => (t, 0.0, 0L, true))))
  }

  /** Bounded-state PROOF for the streaming sketches — the state-store
    * numbers themselves, not just output equality. Three operators, three
    * claims, every one read from `StreamingQueryProgress.stateOperators
    * .numRowsTotal` (the engine's own state-row accounting) and replayed
    * by the oracle in closed form:
    *
    *  - HLL distinct: run through a REAL file source + on-disk checkpoint,
    *    STOPPED mid-input and resumed twice (the `stream_restart_equiv`
    *    harness) — state rows after the full feed = exactly one row per
    *    group (registers live INSIDE the row; 256 ints regardless of
    *    stream length), and the bound held on every micro-batch of every
    *    phase, including across both restarts.
    *  - top-k: state rows = one per group (each holding ≤ k pairs),
    *    bounded on every batch.
    *  - watermarked dedup: state GROWS to `n_base + 1` keys (every
    *    distinct norm + the watermark-advancing sentinel), then watermark
    *    eviction SHRINKS it to exactly 2 (the two post-watermark entries:
    *    sentinel + readmitted duplicate) — `dedup_state_max` vs
    *    `dedup_state_final` is the eviction, measured. A dedup whose state
    *    never shrank would hold every key ever seen; this row is the
    *    10000-row-buffer-cap analog (candle_to_calcs.py:42,771-772) with
    *    the cap enforced by event time instead of row count.
    *
    * Per-batch ≤-bound violations throw inside the query (red row), so a
    * transient overshoot between captures cannot hide.
    */
  private def streamStateBounds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    // ---- HLL through file source + checkpoint, restarted twice ----
    val ev = graft.core.Tables.events(spark, dir)
      .select(col("event_type"), col("user_id").cast("long").as("user_id"))
    val types = eventTypes(ev)
    val nTypes = types.size.toLong
    val feedDf = ev.withColumn("is_sentinel", lit(false))
    val (hllAll, hllRowsOut) = withScratch("graft_state_") { root =>
      val inDir = s"$root/in"; val sinkDir = s"$root/out"
      def runPhase(): Seq[Long] =
        drainFiles(spark, feedDf.schema, inDir, sinkDir, s"$root/ckpt")(
          StreamingSketch.hllDistinctStream)
      feedDf.filter(pmod(col("user_id"), lit(2)) === 0).write.mode("append").parquet(inDir)
      val p1 = runPhase() // phase 1: half the users, then STOP
      feedDf.filter(pmod(col("user_id"), lit(2)) === 1).write.mode("append").parquet(inDir)
      val p2 = runPhase() // phase 2: resume from checkpoint, rest arrives, STOP
      types.map(t => (t, 0L, true)).toDF("event_type", "user_id", "is_sentinel")
        .write.mode("append").parquet(inDir)
      val p3 = runPhase() // phase 3: resume again, sentinels flush
      (p1 ++ p2 ++ p3, spark.read.parquet(sinkDir).count())
    }
    require(hllAll.nonEmpty && hllAll.forall(_ <= nTypes),
      s"HLL state rows must stay <= $nTypes on every batch, got $hllAll")
    val hllStateRows = hllAll.last

    // ---- top-k: one state row per group, bounded every batch ----
    val topkTotals = topKReplay(spark, dir).consume(_.stateRows)
    require(topkTotals.nonEmpty && topkTotals.forall(_ <= nTypes),
      s"top-k state rows must stay <= $nTypes on every batch, got $topkTotals")
    val topkStateRows = topkTotals.last

    // ---- watermarked dedup: growth, then measured eviction ----
    val (_, _, dedupTotals) = dedupReadmission(spark, dir)

    Seq((hllStateRows, hllRowsOut, topkStateRows, dedupTotals.max, dedupTotals.last))
      .toDF("hll_state_rows", "hll_rows_out", "topk_state_rows",
        "dedup_state_max", "dedup_state_final")
  }

  /** Replays every state count in closed form: one state row per group for
    * the flatMapGroupsWithState sketches; for the dedup, peak = distinct
    * gated norms + the sentinel, and post-eviction exactly the two
    * post-watermark entries.
    */
  private val streamStateBoundsSql = {
    val en = graft.functions.TextOps.stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH g AS (SELECT COUNT(DISTINCT event_type) AS n_types FROM events),
       |base AS (
       |  SELECT doc_id, text,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents WHERE doc_id < 50),
       |scored AS (
       |  SELECT doc_id, norm,
       |    CASE WHEN len(list_filter(toks, t -> t SIMILAR TO '\\S+')) BETWEEN 5 AND 100000
       |      THEN 1.0 ELSE 0.0 END *
       |    (0.5 * (length(text) - length(regexp_replace(text, '[a-zA-Z ]', '', 'g')))::DOUBLE / greatest(length(text), 1) +
       |     0.5 * least(len(list_filter(toks, t -> t IN ($en)))::DOUBLE / greatest(len(toks), 1) * 5, 1.0)) AS q
       |  FROM base),
       |nb AS (SELECT COUNT(DISTINCT norm) AS n_base FROM scored WHERE q >= 0.3)
       |SELECT g.n_types AS hll_state_rows, g.n_types AS hll_rows_out,
       |  g.n_types AS topk_state_rows,
       |  nb.n_base + 1 AS dedup_state_max,
       |  CAST(2 AS BIGINT) AS dedup_state_final
       |FROM g, nb""".stripMargin
  }

  /** PIPELINE, streaming twin — stage 1→2→3 of `pipeline_full` composed as
    * a REAL multi-hop Structured Streaming pipeline over file sources with
    * on-disk checkpoints (the bronze→silver→gold shape), STOPPED and
    * RESUMED mid-input at every hop:
    *
    *   hop 1  raw tick files → P1 validity filter →
    *          dropDuplicatesWithinWatermark (G5) → windowed G1 candles —
    *          two chained stateful operators in ONE query → parquet sink
    *   hop 2  candle files → flatMapGroupsWithState fused H1+H2 kernel
    *          pass → parquet sink
    *   hop 3  candle files → chunk-state trigger-anchor pass
    *          ([[graft.streaming.StreamingAnchoredVwap]]) → parquet sink
    *
    * The composed per-candle row (symbol, ts, 20 indicators,
    * candle_pattern_sum, n_anchors) is compared EXCEPT-exact against the
    * same composition computed in batch (`pipeline_full`'s chain with the
    * trigger-anchor subset — the online-computable anchor family; peak /
    * extreme anchors need chunk-complete prominence and stay batch-side).
    *
    * Restart evidence: phase 1 feeds every tick before a second-aligned
    * split S; a barrier row advances the watermark to the midpoint of
    * (S, first-phase-2-tick) — strictly between every phase-1 window end
    * and every phase-2 event, so window emission and late-row filtering
    * are both safe regardless of boundary strictness — all three queries
    * drain and STOP, then phase 2 resumes each from its checkpoint.
    * `pre_split_ok` pins 0 < pre-restart H rows < total. Final-chunk /
    * final-window flush via one sentinel tick per symbol a full chunk past
    * the data plus one far-future barrier tick (sentinel symbols filtered
    * from every compared frame).
    *
    * Dedup note: stream dedup is drop-first, batch keep-last by seq —
    * equal here because duplicate (symbol, µs) ticks are byte-identical
    * replays in this corpus (checked: zero differing-payload duplicate
    * keys), exactly the reference's re-merge model.
    */
  private def streamPipelineFull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    val tickCols = Seq("symbol", "timestamp", "price", "volume", "seq")
    val ticksAll = graft.core.Tables.ticks(spark, dir).select(tickCols.map(col): _*)

    // ---- batch twin of the composed chain
    val valid = graft.operators.TickOps.validate(ticksAll).valid
    val deduped = graft.operators.TickOps.dedupKeepLast(
      valid, Seq("symbol", "timestamp"), Seq(col("seq")))
    val batchCandles = CandleAggregator.aggregate(deduped).cache()
    val ohlc = batchCandles.select(col("symbol"), col("timestamp"),
      col("open"), col("high"), col("low"), col("close"))
    val hCols = IndicatorPass.indicatorFields.map(f => col(f.name)) :+
      col("candle_pattern_sum")
    val batchH = IndicatorPass.withIndicators(ohlc, patterns = true)
      .select(col("symbol") +: col("timestamp") +: hCols: _*)
    val trigTypes = graft.calc.AnchorSnapshots.Triggers.map(_._1)
    val batchTrigAnchors = graft.calc.AnchorSnapshots.snapshots(batchCandles)
      .filter(col("anchor_type").isin(trigTypes: _*)).cache()
    val batchAnchorCounts = batchTrigAnchors
      .groupBy(col("symbol"), col("anchor_timestamp"))
      .agg(count(lit(1)).as("n_anchors"))
      .withColumnRenamed("anchor_timestamp", "timestamp")
    val batchComposed = batchH.join(batchAnchorCounts, Seq("symbol", "timestamp"), "left")
      .withColumn("n_anchors", coalesce(col("n_anchors"), lit(0L)))

    // ---- the restart split: a second boundary S with a strict event-time
    // gap after it, so the barrier watermark can sit safely inside the gap
    val bounds = deduped.agg(
      min(unix_micros(col("timestamp"))), max(unix_micros(col("timestamp")))).head()
    val (minUs, maxUs) = (bounds.getLong(0), bounds.getLong(1))
    val midUs0 = ((minUs + maxUs) / 2 / 1000000L) * 1000000L
    // bounded collect: the 5000 smallest deduped tick times past the naive
    // midpoint — a driver-side scan window for the gap search, not data
    val after = deduped.select(unix_micros(col("timestamp")).as("us"))
      .filter(col("us") >= midUs0).orderBy(col("us")).limit(5000)
      .as[Long].collect()
    require(after.length >= 2, "stream_pipeline_full: not enough ticks past midpoint")
    // ≥4 ms of clear air after S: Spark tracks event-time watermarks at
    // millisecond resolution, so the barrier point is ms-aligned and needs
    // ms-scale slack on both sides of the (S, first-phase-2-tick) gap
    val sUs = Iterator.iterate(midUs0)(_ + 1000000L)
      .takeWhile(_ <= after.last)
      .take(600)
      .find(s => after.find(_ >= s).exists(t => t - s >= 4000L))
      .getOrElse(sys.error("stream_pipeline_full: no gap-backed second boundary found"))
    val t2min = after.find(_ >= sUs).get
    val wmUs = sUs + (t2min - sUs) / 2 / 1000L * 1000L
    require(wmUs > sUs && wmUs < t2min, "stream_pipeline_full: watermark gap degenerate")

    val Bar = "\u0000BARRIER"
    val delayUs = 10L * 1000000L // the 10-second default of both hop-1 operators

    val out = withScratch("graft_spipe_") { root =>
      val inDir = s"$root/in"
      val out1 = s"$root/candles"; val out2 = s"$root/hrows"; val out3 = s"$root/anchors"
      def runHops(): Unit = {
        drainFiles(spark, ticksAll.schema, inDir, out1, s"$root/ckpt1")(src =>
          StreamingCandles.dedupedCandles1s(src.filter(graft.operators.TickOps.tickValidity)))
        drainFiles(spark, batchCandles.schema, out1, out2, s"$root/ckpt2")(src =>
          StreamingIndicators.indicatorStream(
            src.select("symbol", "timestamp", "open", "high", "low", "close"), patterns = true))
        drainFiles(spark, batchCandles.schema, out1, out3, s"$root/ckpt3")(src =>
          StreamingAnchoredVwap.anchoredVwapStream(
            src.select("symbol", "timestamp", "close", "volume")))
      }

      // phase 1: ticks before S (nulls included — the in-stream P1 filter
      // does the real work), then the barrier watermark advance; run + STOP
      // each hop
      ticksAll.filter(col("timestamp").isNull || unix_micros(col("timestamp")) < sUs)
        .write.mode("append").parquet(inDir)
      Seq((Bar, usTs(wmUs + delayUs), 1.0, 1.0, -1L))
        .toDF(tickCols: _*).write.mode("append").parquet(inDir)
      runHops()
      val nPre = spark.read.parquet(out2).count()

      // phase 2: the rest + flush sentinels; every hop RESUMES from its
      // checkpoint
      ticksAll.filter(unix_micros(col("timestamp")) >= sUs)
        .write.mode("append").parquet(inDir)
      val s1Us = maxUs + graft.calc.AnchorSnapshots.chunkUs()
      // bounded collect: one flush sentinel per symbol
      val symbols = batchCandles.select(col("symbol")).distinct().as[String].collect().toSeq
      (symbols.map(sym => (sym, usTs(s1Us), 1.0, 1.0, -1L)) :+
          (Bar, usTs(s1Us + 3600L * 1000000L), 1.0, 1.0, -2L))
        .toDF(tickCols: _*).write.mode("append").parquet(inDir)
      runHops()

      // ---- composed compare
      val streamH = spark.read.parquet(out2)
        .filter(col("symbol") =!= Bar && unix_micros(col("timestamp")) <= maxUs)
        .select(col("symbol") +: col("timestamp") +: hCols: _*)
      val streamAnchorCounts = spark.read.parquet(out3)
        .filter(col("symbol") =!= Bar)
        .groupBy(col("symbol"), col("anchor_timestamp"))
        .agg(count(lit(1)).as("n_anchors"))
        .withColumnRenamed("anchor_timestamp", "timestamp")
      val streamComposed = streamH.join(streamAnchorCounts, Seq("symbol", "timestamp"), "left")
        .withColumn("n_anchors", coalesce(col("n_anchors"), lit(0L)))

      val (onlyBatch, onlyStream) = diffCounts(batchComposed, streamComposed)
      val nStream = streamComposed.count()
      Seq((batchCandles.count(), nStream, onlyBatch, onlyStream, batchTrigAnchors.count(),
          nPre > 0 && nPre < nStream))
        .toDF("n_candles", "n_stream", "only_batch", "only_stream",
          "n_anchor_points", "pre_split_ok")
    }
    batchTrigAnchors.unpersist()
    batchCandles.unpersist()
    out
  }

  /** Replays the composed counts from the tables: pipeline candles
    * (validated → deduped → G1) and the trigger-anchor points (first
    * trigger hit per (symbol, day, type), last-date gate, chunk-last-row
    * join — the same `trig` CTE the w14/stream-vwap oracles use); pins the
    * except-counts to zero and the split flag true.
    */
  private val streamPipelineFullSql =
    s"""${QueriesDomain.withCandlesPipeline},
       |${QueriesDomain.w14CommonCtes},
       |${QueriesDomain.w14DailyAnchorCtes}
       |SELECT (SELECT COUNT(*) FROM candles) AS n_candles,
       |  (SELECT COUNT(*) FROM candles) AS n_stream,
       |  CAST(0 AS BIGINT) AS only_batch, CAST(0 AS BIGINT) AS only_stream,
       |  (SELECT COUNT(*) FROM trig t JOIN last_rows l
       |     ON t.symbol = l.lsym AND t.chunk = l.lchunk) AS n_anchor_points,
       |  TRUE AS pre_split_ok""".stripMargin

  val all: Seq[Q] = Seq(
    Q("stream_equiv", streamEquiv, Some(streamEquivSql)),
    Q("stream_restart_equiv", streamRestartEquiv, Some(streamRestartEquivSql)),
    Q("stream_hll_distinct", streamHllDistinct, Some(QueriesSketch.hllDistinctSql)),
    Q("stream_hist_quantiles", streamHistQuantiles, Some(QueriesSketch.histQuantilesSql)),
    Q("stream_topk", streamTopK, Some(QueriesRelational.q14Sql)),
    Q("stream_stream_join", streamStreamJoin, Some(streamStreamJoinSql)),
    Q("stream_llm_dedup", streamLlmDedup, Some(streamLlmDedupSql)),
    Q("stream_bigram_lm", streamBigramLm, Some(streamBigramLmSql)),
    Q("stream_bigram_lm_join", streamBigramLmJoin, Some(streamBigramLmSql)),
    Q("stream_llm_dedup_wm", streamLlmDedupWm, Some(streamLlmDedupWmSql)),
    Q("stream_incremental_dedup", streamIncrementalDedup, Some(streamIncrementalDedupSql)),
    Q("stream_anchored_vwap", streamAnchoredVwap, Some(streamAnchoredVwapSql)),
    Q("stream_anchored_vwap_tws", streamAnchoredVwapTws, Some(streamAnchoredVwapSql)),
    Q("stream_state_bounds", streamStateBounds, Some(streamStateBoundsSql)),
    Q("stream_pipeline_full", streamPipelineFull, Some(streamPipelineFullSql))
  )
}
