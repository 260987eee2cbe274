package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{CurrentRow, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{CandleAggregator, TickOps}
import graft.plans.{NativePassExec, PassKernel}

/** SURVEY §4's plan sanity checks, encoded: the physical plans the engine
  * relies on at 100 TB must actually be the plans Catalyst produces. These
  * assert structure (pushdown, pruning, partial aggregation, broadcast,
  * top-k, rank-limit pushdown, kernel placement) — not timings.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.sparkPlan.toString

  test("q01: filter pushed to parquet, columns pruned, partial+final aggregate") {
    val p = plan(graft.queries.Registry.queries("q01_pricing_summary")(spark, dir))
    assert(p.contains("LessThanOrEqual(l_shipdate"), "shipdate filter must reach PushedFilters")
    assert(p.contains("partial_sum"), "map-side partial aggregation expected")
    assert(!p.contains("l_comment"), "unused columns must be pruned from the scan")
  }

  test("q02: tiny dimension joins broadcast, no fact-side broadcast") {
    val p = plan(graft.queries.Registry.queries("q02_revenue_by_nation")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "nation join must broadcast")
  }

  test("g1: partial+final hash aggregate over (symbol, bucket), no sort") {
    val df = CandleAggregator.aggregate(Tables.ticks(spark, dir))
    val p = plan(df)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final hash aggregate")
    assert(!p.contains("SortAggregate"),
      "candle agg must stay hash-based (a struct min_by ordering key would sort)")
    // exchanges are inserted by EnsureRequirements — check the executed plan
    val ep = df.queryExecution.executedPlan.toString
    assert(ep.contains("Exchange hashpartitioning(symbol"), "one shuffle on the group keys")
  }

  test("g5 dedup: rank-limit pushdown (WindowGroupLimit) before the shuffle") {
    val p = plan(TickOps.dedupKeepLast(
      Tables.ticks(spark, dir), Seq("symbol"), Seq(col("timestamp"))))
    assert(p.contains("WindowGroupLimit"), "row_number()=1 must push a partial top-1 below the exchange")
    assert(p.contains("Window "), "window exec present")
  }

  test("g6: distinct+sort+limit plans as TakeOrderedAndProject") {
    val p = plan(graft.queries.Registry.queries("g6_distinct_symbols")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), "no global sort for a head-N")
  }

  test("minhash signatures: the fold runs as a mapPartitions kernel, pruned scan") {
    val p = plan(graft.functions.MinHash.withSignatures(Tables.documents(spark, dir)))
    assert(p.contains("MapPartitions"), "signature fold must be the plain-Scala kernel")
    assert(p.contains("struct<doc_id:bigint,text:string>"), "scan reads only id + text")
  }

  /** Column names of each eager materialization boundary in the plan: a
    * localCheckpoint shows as a LogicalRDD. */
  private def checkpointed(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.output.map(_.name)
    }

  test("lsh bucket frame caches scalars only — arrays never ride the self-join") {
    val e = Tables.embeddings(spark, dir)
    val df = graft.functions.Similarity.lshTopK(e, k = 1, bits = 8, tables = 2)
    val cached = checkpointed(df)
    assert(cached.nonEmpty, "the bucketed frame must hit a checkpoint boundary")
    cached.foreach { cols =>
      assert(cols.sorted == Seq("bucket", "table", "vec_id"),
        s"bucket frame must be scalar-only, got $cols — materializing the " +
          "embedding arrays costs more than the downstream join")
    }
  }

  test("semantic dedup: probe-list frame caches scalars only, centroid table broadcasts") {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val df = graft.functions.Similarity.semanticDedup(e, threshold = 0.99, nlist = 4, nprobe = 2)
    val cached = checkpointed(df)
    assert(cached.nonEmpty, "the probe-list frame must hit a checkpoint boundary")
    cached.foreach { cols =>
      assert(cols.sorted == Seq("list", "vec_id"),
        s"probe frame must be scalar-only, got $cols — the embedding arrays " +
          "must re-attach after the within-cluster pairing, not ride it")
    }
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("BroadcastHashJoin") || executed.contains("BroadcastNestedLoopJoin"),
      "the k-by-dims centroid model must broadcast, never shuffle the corpus against it")
  }

  test("w1 production path: one exchange, one window, codegen'd avg") {
    val p = plan(graft.calc.WindowCalcs.withVolumeSpikes(
      CandleAggregator.aggregate(Tables.ticks(spark, dir)), exact = false))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "candle agg + window should not add extra shuffles")
    assert(p.contains("Window "), "window exec present")
    assert(!p.contains("decimal(18,4)) ") || !p.contains("avg(cast"),
      "production path must not carry the oracle's decimal window sums")
  }

  // (row name, frame) for every explicit frame in the rows' physical plans.
  // Builds plans only; no row is executed (a few rows' size probes run a
  // small job while their plan is built).
  private def windowFrames(rows: Seq[graft.queries.Q]): Seq[(String, SpecifiedWindowFrame)] =
    rows.flatMap { q =>
      q.run(spark, dir).queryExecution.sparkPlan.collect { case w: WindowExec => w }
        .flatMap(_.windowExpression.flatMap(_.collect { case f: SpecifiedWindowFrame => q.name -> f }))
    }

  test("g9 forward fill: no window frame runs from the current row to the partition end") {
    // a currentRow..unboundedFollowing frame re-aggregates to the partition
    // end for every row: O(n²) per symbol grid
    val frames = windowFrames(graft.queries.QueriesDomain.all.filter(_.name == "g9_resample_interp"))
    assert(frames.nonEmpty, "the fills carry explicit row frames")
    val toEnd = frames.filter { case (_, f) => f.lower == CurrentRow && f.upper == UnboundedFollowing }
    assert(toEnd.isEmpty, s"quadratic forward frames: $toEnd")
  }

  test("frame lint: no registry row frames a window from mid-partition to its end") {
    // the general form of the g9 check: a frame from inside the partition to
    // UnboundedFollowing re-aggregates to the partition end for every row
    val all = windowFrames(graft.queries.QueriesDomain.all ++ graft.queries.QueriesRelational.all)
    assert(all.exists(_._1 == "g9_resample_interp"), "g9 fills through explicit row frames")
    val toEnd = all.filter { case (_, f) =>
      f.upper == UnboundedFollowing && f.lower != UnboundedPreceding }
    assert(toEnd.isEmpty, "quadratic window frames (row, frame)")
  }

  test("bucketed tables: co-located join with ZERO exchanges; bucket pruning on key filter") {
    val t = Tables.ticks(spark, dir).select(col("symbol"), col("price"), col("seq"))
    val dim = t.groupBy(col("symbol")).agg(avg(col("price")).as("avg_price"))
    graft.sources.Sinks.writeBucketed(t, "ps_facts", 4, Seq("symbol"))
    graft.sources.Sinks.writeBucketed(dim, "ps_dim", 4, Seq("symbol"))
    // pin the join strategy: broadcast would hide the point (no shuffle to
    // eliminate), AQE re-wraps the plan string
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" ->
        spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // keep the bucketed layout active for the filter-only pruning scan
      // below (the auto rule turns bucketed reads off when no join/agg
      // exploits the distribution — but pruning exploits it)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val joined = spark.table("ps_facts").join(spark.table("ps_dim"), "symbol")
      val ep = joined.queryExecution.executedPlan.toString
      assert(ep.contains("SortMergeJoin"), s"expected a sort-merge join, got:\n$ep")
      assert(!ep.contains("Exchange"),
        s"identically-bucketed sides must join WITHOUT a shuffle, got:\n$ep")
      assert(ep.contains("Bucketed: true"), "scans must report bucketed reads")
      // equality filter on the bucket key scans 1 of 4 buckets
      val sym = t.select(col("symbol")).orderBy("symbol").limit(1).collect()(0).getString(0)
      val pruned = spark.table("ps_facts").filter(col("symbol") === sym)
      val pp = pruned.queryExecution.executedPlan.toString
      assert(pp.contains("SelectedBucketsCount: 1 out of 4"),
        s"bucket-key equality must prune to one bucket, got:\n$pp")
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("incremental dedup band index: bucketed index side joins exchange-free") {
    import graft.functions.MinHash
    // the llm_incremental_bucketed shape: corpus band index written
    // bucketBy(bk) once, delta batch probes it — ONLY the probe side may
    // shuffle (into the index's bucketing); the index side scans its
    // buckets directly
    val docs = Tables.documents(spark, dir)
    graft.sources.Sinks.writeBucketed(
      MinHash.bandKeys(docs.filter(col("doc_id") % 5 =!= 0)),
      "plan_band_index_b", 4, Seq("bk"))
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val probe = MinHash.bandKeys(docs.filter(col("doc_id") % 5 === 0))
        .select(col("bk"), col("id").as("id_a"))
      val cand = probe
        .join(spark.table("plan_band_index_b").select(col("bk"), col("id").as("id_b")), "bk")
      val ep = cand.queryExecution.executedPlan.toString
      assert(ep.contains("Bucketed: true"),
        s"the index side must scan its buckets directly:\n$ep")
      val bkExchanges = ep.split('\n')
        .count(l => l.contains("Exchange hashpartitioning(bk"))
      assert(bkExchanges == 1,
        s"exactly the PROBE side shuffles into the index bucketing, got $bkExchanges:\n$ep")
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("stream admission fp index: bucketed index side anti-joins exchange-free") {
    import graft.functions.TextOps
    // the stream_incremental_dedup probe shape (admitIncrementalStreamCatalog
    // re-plans this per micro-batch): corpus fingerprint index written
    // bucketBy(fp) once, each micro-batch left-anti probes it — ONLY the
    // probe side may shuffle; the index side scans its buckets directly
    val docs = Tables.documents(spark, dir)
    graft.sources.Sinks.writeBucketed(
      docs.filter(col("doc_id") % 5 =!= 0)
        .select(TextOps.fingerprint(col("text")).as("fp")).distinct(),
      "plan_fp_index_b", 4, Seq("fp"))
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val probe = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("__fp", TextOps.fingerprint(col("text")))
      val admitted = probe.join(
        spark.table("plan_fp_index_b").select(col("fp").as("__fp")),
        Seq("__fp"), "left_anti")
      val ep = admitted.queryExecution.executedPlan.toString
      assert(ep.contains("Bucketed: true"),
        s"the index side must scan its buckets directly:\n$ep")
      val fpExchanges = ep.split('\n')
        .count(l => l.contains("Exchange hashpartitioning(__fp") ||
          l.contains("Exchange hashpartitioning(fp"))
      assert(fpExchanges == 1,
        s"exactly the PROBE side shuffles into the index bucketing, got $fpExchanges:\n$ep")
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("connected components: star rounds shuffle scalar edges only") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val out = graft.operators.ConnectedComponents.components(edges)
    val ep = out.queryExecution.executedPlan.toString
    // the result frame reads from the per-round localCheckpoint (lineage
    // cut — an uncut star chain grows ~4^rounds and wedges analysis)
    assert(ep.contains("Scan ExistingRDD") || ep.contains("LocalTableScan"),
      s"components must build on checkpointed edges, got:\n$ep")
    assert(out.schema.fields.forall(_.dataType.typeName == "long"),
      "assignment carries two scalar long columns only")
  }

  test("pq: codebooks broadcast to encode and LUT joins; corpus arrays stay out of the score shuffle") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 64).map(i =>
      (i.toLong, (0 until 16).map(_ => rnd.nextFloat()))).toDF("vec_id", "embedding")
    val books = graft.functions.Similarity.pqCodebooks(vecs, m = 4, ksub = 4, iters = 1)
    val enc = graft.functions.Similarity.pqEncode(vecs, books)
    val pEnc = enc.queryExecution.sparkPlan.toString
    assert(pEnc.contains("BroadcastHashJoin"), "encode joins the broadcast codebook table")
    val top = graft.functions.Similarity.pqTopK(vecs, vecs.limit(2), k = 2,
      m = 4, ksub = 4, iters = 1)
    val pTop = top.queryExecution.sparkPlan.toString
    assert(pTop.contains("BroadcastHashJoin"), "ADC scoring joins the broadcast LUT")
    // the (query, neighbor) aggregation input carries scalars only — the
    // embedding arrays end at the LUT/encode boundary
    val aggLines = pTop.linesIterator.filter(_.contains("HashAggregate")).mkString("\n")
    assert(!aggLines.contains("embedding"), s"arrays must not reach the score aggregation:\n$aggLines")
  }

  test("decontamination: eval gram dictionary broadcasts; corpus side never shuffles pre-join") {
    val p = plan(graft.queries.Registry.queries("llm_decontaminate")(spark, dir))
    assert(p.contains("BroadcastHashJoin [gram"),
      "the eval n-gram dictionary must reach the corpus grams as a broadcast join on gram")
    // wide ops carry scalars only: no aggregation input ever holds the text
    val aggLines = p.linesIterator.filter(_.contains("HashAggregate")).mkString("\n")
    assert(!aggLines.contains("text#"), s"doc text must not reach any aggregate:\n$aggLines")
  }

  test("stratified sample: pure map-side filter — no exchange before the aggregate") {
    val p = plan(graft.queries.Registry.queries("llm_stratified_sample")(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final aggregate")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "sampling must not join — membership is a pure function of the row")
  }

  test("q11 rollup: one Expand pass, not N re-aggregations") {
    val df = graft.queries.Registry.queries("q11_rollup_revenue")(spark, dir)
    val p = plan(df)
    assert(p.contains("Expand"), "rollup must plan as Expand + single aggregate")
    assert("FileScan parquet .*orders".r.findAllIn(p).size == 1,
      "orders scanned exactly once for all three grouping levels")
  }

  test("q12 pivot with explicit values: single scan, single aggregate") {
    val df = graft.queries.Registry.queries("q12_pivot_daily")(spark, dir)
    val p = plan(df)
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "explicit pivot values must not add a distinct pre-scan of the source")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final aggregate")
  }

  test("q13 exact quantiles: both windows share ONE exchange") {
    val df = graft.queries.Registry.queries("q13_exact_quantiles")(spark, dir)
    val ep = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(event_type".r.findAllIn(ep).size == 1,
      "row_number and count windows must reuse the same partitioning")
  }

  test("sk_hll: register pass partial-aggregates map-side, hash codegen'd") {
    val p = plan(graft.queries.Registry.queries("sk_hll_distinct")(spark, dir))
    assert(p.contains("partial_max"),
      "register max must partial-aggregate before the shuffle — the 100 TB contract " +
        "is that only (group, bucket, reg) cells ride the exchange")
    assert(p.contains("graft_hash61"), "native hash expression in the plan")
  }

  test("peaks pass: native exec; downstream (symbol, chunk) window reuses its exchange") {
    // The W11/W14 peaks kernel is a native SparkPlan that DECLARES
    // distribution and ordering and preserves them — a (symbol, chunk)
    // window right after it must piggyback on the kernel's exchange+sort
    // instead of re-shuffling the wide frame (what the old mapPartitions
    // route forced, since mapPartitions erases partitioning info).
    val c = CandleAggregator.aggregate(Tables.ticks(spark, dir))
      .withColumn("chunk", expr("unix_micros(timestamp) div 2592000000000L"))
    val flagged = graft.calc.PeaksPass.withPeakFlags(c, Seq("chunk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol", "chunk").orderBy("timestamp")
    val out = flagged.withColumn("rn", row_number().over(w))
    // executedPlan: exchanges exist only after EnsureRequirements runs
    val ep = out.queryExecution.executedPlan.toString
    assert(ep.contains("PeaksPass"), s"native peaks operator must plan:\n$ep")
    val chunkExchanges = ep.split('\n').count(l =>
      l.contains("hashpartitioning") && l.contains("chunk"))
    assert(chunkExchanges == 1,
      s"the window must reuse the peaks exchange — found $chunkExchanges (symbol, chunk) exchanges:\n$ep")
    assert(ep.indexOf("Window") < ep.indexOf("PeaksPass"),
      "window sits directly above the peaks exec (deeper = later in toString)")
  }

  /** The plan as it runs: AQE's current physical plan when adaptive. */
  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def hashKeys(e: ShuffleExchangeExec): Set[String] = e.outputPartitioning match {
    case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet
    case _ => Set.empty
  }

  test("w14 anchors: ONE native pass over ONE (symbol, chunk) exchange, no full-frame window") {
    // The anchors are emitted by the peaks exec itself: no window chain over
    // the (symbol, chunk) frame and no keep-last exchange on
    // anchor_timestamp. The only windows left roll up the broadcast carry,
    // a symbols × dates table.
    val c = CandleAggregator.aggregate(Tables.ticks(spark, dir))
    val p = physical(graft.calc.AnchorSnapshots.anchoredVwapPoints(c))
    def frame(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: BroadcastExchangeExec => Nil
      case _ => n +: n.children.flatMap(frame)
    }
    assert(p.collect { case e @ NativePassExec(_, _: PassKernel.Peaks, _) => e }.size == 1,
      s"one peaks pass:\n$p")
    assert(frame(p).count {
      case e: ShuffleExchangeExec => hashKeys(e).contains("chunk")
      case _ => false
    } == 1, s"one hash exchange over (symbol, chunk) outside the carry:\n$p")
    assert(!p.collect { case e: ShuffleExchangeExec => e }
      .exists(hashKeys(_).contains("anchor_timestamp")),
      s"the keep-last dedup needs no exchange of its own:\n$p")
    assert(!frame(p).exists(_.isInstanceOf[WindowExec]),
      s"no Window outside the broadcast carry:\n$p")
  }

  test("plan budget: pipeline_full runs at most 7 shuffle exchanges") {
    // Counted over the AQE final plan like graftbench's plans.exchanges: a
    // cached relation's plan counts once, a reused exchange not at all.
    // Lower this budget when a change removes an exchange; raising it needs
    // a measured reason.
    val df = graft.queries.Registry.queries("pipeline_full")(spark, dir)
    df.collect()
    val seen = scala.collection.mutable.Set[AnyRef]()
    def shuffles(n: SparkPlan): Int = n match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case s: QueryStageExec => shuffles(s.plan)
      case _: ReusedExchangeExec => 0
      case m: InMemoryTableScanExec =>
        if (seen.add(m.relation.cacheBuilder)) shuffles(m.relation.cachedPlan) else 0
      case e: ShuffleExchangeLike => 1 + e.children.map(shuffles).sum
      case _ => (n.children ++ n.subqueries).map(shuffles).sum
    }
    val plan = df.queryExecution.executedPlan
    val n = shuffles(plan)
    assert(n <= 7, s"pipeline_full runs $n shuffle exchanges, budget 7:\n$plan")
  }

  test("sk_bloom production shape: bloom filter is map-side, below the join") {
    import graft.functions.Sketches
    // the audit query keeps unpruned rows to count false positives; this is
    // the production plan a user composes: filter THEN join
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k")).distinct()
    val mask = Sketches.maskFromPositions(Seq(0L, 77L, 4000L), 131072)
    val pruned = Tables.lineitem(spark, dir).select(col("l_orderkey"))
      .filter(Sketches.bloomMightContain(col("l_orderkey"), mask, Sketches.BloomParams))
      .join(urgent, col("l_orderkey") === col("k"), "left_semi")
    val ep = pruned.queryExecution.executedPlan.toString
    assert(ep.contains("DataFilters: [graft_bloom61"),
      "bloom test must reach the scan node's DataFilters — evaluated on the " +
        "scan, map-side, zero exchanges before the prune")
    assert(ep.indexOf("Join") < ep.indexOf("graft_bloom61"),
      "filter sits BELOW the join (deeper in the plan tree = later in toString)")
  }

  test("rank-select: bucket table broadcasts; no full-input global sort") {
    import graft.functions.{RankSelect, TextOps}
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), TextOps.qualityScore(col("text")).as("q"))
    val kept = RankSelect.dropBottomExact(docs, Seq("lang"), "q", "doc_id")
    val ep = kept.queryExecution.executedPlan.toString
    assert(ep.contains("BroadcastHashJoin"),
      "the (group, bucket) threshold table must broadcast back onto the data")
    // the only Window sits on the boundary-bucket branch, which is filtered
    // BEFORE the window runs: its Filter child must test __cum/__k bounds
    val winIdx = ep.indexOf("Window [row_number()")
    assert(winIdx >= 0, "boundary-bucket window expected")
    assert(ep.indexOf("Window [row_number()", winIdx + 1) < 0,
      "exactly ONE row_number window — whole buckets are decided without sorting")
  }

  test("AQE skew split repairs the hot-key SMJ; salting spreads structurally") {
    import spark.implicits._
    // 'HOT' carries ~91% of rows — the j4 shape in miniature
    // repartition(8): skew splitting subdivides a hot REDUCE partition
    // along mapper-output boundaries — a single-mapper local relation has
    // nothing to split along, just like a single giant input file wouldn't
    val big = ((1 to 100000).map(i => ("HOT", i.toLong)) ++
      (1 to 9).flatMap(k => (1 to 1000).map(i => (s"k$k", i.toLong))))
      .toDF("symbol", "seq").repartition(8)
    val dim = big.groupBy(col("symbol")).agg(min(col("seq")).as("sym_min"))
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // harness-sized thresholds: the hot partition (~1.5 MB) must register
      // as skewed the way a 100 GB partition would at cluster defaults
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")

      // 1. the shape AQE CAN repair: both join children are bare
      // Sort+ShuffleStage (dim is a raw table). OptimizeSkewedJoin splits
      // the hot partition along mapper boundaries. Materialize THIS frame
      // (not a derived count plan) so its own AdaptiveSparkPlan finalizes.
      val rawDim = (Seq(("HOT", 0L)) ++ (1 to 9).map(k => (s"k$k", 0L)))
        .toDF("symbol", "sym_min").repartition(2)
      val repairable = big.join(rawDim, Seq("symbol"))
      val nPlain = repairable.collect().length
      val pp = repairable.queryExecution.executedPlan.toString
      assert(pp.contains("isFinalPlan=true"), s"plan must be final; got:\n$pp")
      assert(pp.contains("skewed"),
        s"AQE must mark the hot partition as skewed in the final plan; got:\n$pp")

      // 2. the j4 shape AQE can NOT repair: the dim side is an AGGREGATE,
      // and OptimizeSkewedJoin only matches SMJ(Sort(ShuffleStage),
      // Sort(ShuffleStage)) — the HashAggregate between shuffle and join
      // blocks the pattern, so the hot partition stays whole. This is the
      // regime SkewJoin.saltedInner exists for (alongside stateful
      // streaming, where AQE is disabled outright, and misleading stats).
      val aggJoin = big.join(dim, Seq("symbol"))
      aggJoin.collect()
      val ap = aggJoin.queryExecution.executedPlan.toString
      assert(ap.contains("isFinalPlan=true"), s"plan must be final; got:\n$ap")
      assert(!ap.contains("skewed"),
        s"dim-side aggregation must block AQE's skew split (if this ever " +
          s"starts passing, Spark learned the pattern — revisit the " +
          s"SkewJoin docs); got:\n$ap")

      // 3. salted join: the exchange key IS (symbol, __salt) — the spread
      // exists in the PLAN, needing no runtime stats at all
      val salted = graft.operators.SkewJoin.saltedInner(
        big, dim, "symbol", salts = 8, saltBy = Seq("seq"))
      val sp = salted.queryExecution.executedPlan.toString
      assert(sp.contains("__salt"),
        s"salted plan must partition on the composite (key, salt); got:\n$sp")
      // result identity under skew is SkewJoinSpec's pin; here: same count
      assert(salted.count() === nPlain.toLong)
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("partitionBy write + key filter: pruning happens at partition level") {
    withTempDir("graft_part_") { tmpDir =>
      val tmp = tmpDir.toString
      val t = Tables.ticks(spark, dir).select(col("symbol"), col("price"), col("seq"))
      graft.sources.Sinks.append(t, tmp, partitionBy = Seq("symbol"))
      val sym = t.select(col("symbol")).orderBy("symbol").limit(1).collect()(0).getString(0)
      val back = spark.read.parquet(tmp).filter(col("symbol") === sym)
      val ep = back.queryExecution.executedPlan.toString
      // the FileScan renders as one line holding both filter segments — slice
      // each segment's [...] out before asserting where the key landed
      def segment(name: String): String =
        ep.split(s"$name: \\[").drop(1).headOption.map(_.takeWhile(_ != ']')).getOrElse("")
      assert(segment("PartitionFilters").contains("symbol"),
        s"symbol filter must prune partition DIRECTORIES, not rows; got:\n$ep")
      // and it must NOT degrade to a parquet row-group filter on the key
      assert(!segment("PushedFilters").contains("symbol"),
        s"a partition column never reaches PushedFilters; got:\n$ep")
    }
  }
}
