package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.SuffixArray

/** Direct specs for the two order-index native passes
  * ([[PassKernel.GlobalIndex]], [[PassKernel.GlobalRank]]): dense/monotone
  * index values on a multi-partition fixture, run-start rank parity with
  * the DataFrame `groupBy(min)+join` form, cross-partition run threading
  * (duplicate keys far wider than a partition), and the one-range-exchange
  * plan shape — the property a re-sampled-bounds regression or a second
  * exchange would break.
  */
class GlobalIndexRankSpec extends SparkSpec {

  import SuffixArray.{rankBy, withGlobalIdx}

  /** Shuffled multi-partition fixture: key runs of wildly different length
    * (one key spans many partitions), plus a payload column to prove whole
    * rows survive the append.
    */
  private def fixture = {
    val session = spark
    import session.implicits._
    val rows = (1 to 997).map(i => (i % 7L, s"p$i")) ++
      Seq.fill(3000)((3L, "hot")) ++ (1 to 500).map(i => (100L + i % 3, s"q$i"))
    scala.util.Random.shuffle(rows).toDF("k", "payload").repartition(11)
  }

  test("withGlobalIdx: dense 0..n-1 index, monotone in the sort key") {
    val df = fixture
    val n = df.count()
    val got = withGlobalIdx(df, Seq("k")).orderBy("__idx")
      .select(col("__idx"), col("k")).collect()
    assert(got.length == n)
    assert(got.map(_.getLong(0)).toSeq == (0L until n).toSeq, "index must be dense 0..n-1")
    val keys = got.map(_.getLong(1))
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b },
      "index order must follow the sort key")
  }

  test("rankBy (segmented scan): exact parity with the groupBy(min)+join form") {
    val df = fixture.localCheckpoint(true) // one shared input for both paths
    val seg = rankBy(df, Seq("k")).select(col("k"), col("payload"), col("__rank"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    // baseline: the retired three-stage public-API form, built inline —
    // global index, then min(__idx) per key joined back
    val idx = withGlobalIdx(df, Seq("k"))
    val old = idx.join(
        idx.groupBy(col("k")).agg(min(col("__idx")).as("__rank")), "k")
      .select(col("k"), col("payload"), col("__rank"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(seg == old, "segmented-scan ranks must equal the DataFrame form's")
    // run-start semantics directly: every key's rank = min global idx of
    // the key's run, ranks monotone in key order, one rank per key
    val byKey = seg.groupBy(_._1).view.mapValues(_.map(_._3).distinct).toMap
    assert(byKey.values.forall(_.size == 1), "equal keys must share one rank")
    val ordered = byKey.toSeq.sortBy(_._1).map(_._2.head)
    assert(ordered == ordered.sorted, "ranks must be monotone in key order")
  }

  test("rankBy threads a run across many partitions (hot key > partition size)") {
    val session = spark
    import session.implicits._
    // 5000 identical keys across 13 partitions below 2000 smaller + 2000
    // larger keys: the hot run's rank must be the global index where the
    // run STARTS, threaded across every partition it spans
    val df = scala.util.Random.shuffle(
        (1 to 2000).map(i => 1L) ++ Seq.fill(5000)(5L) ++ (1 to 2000).map(i => 9L))
      .toDF("k").repartition(13)
    val got = SuffixArray.rankBy(df, Seq("k"))
      .groupBy("k").agg(first("__rank").as("r"), countDistinct("__rank").as("nr"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.map(_._3).forall(_ == 1L))
    assert(got.map(t => (t._1, t._2)).toSeq == Seq((1L, 0L), (5L, 2000L), (9L, 7000L)))
  }

  test("rankBy normalizes floating keys: -0.0/0.0 and NaN bit patterns share a run") {
    val session = spark
    import session.implicits._
    // -0.0 and 0.0 compare EQUAL in the range sort but are binary-unequal
    // in raw UnsafeRow bytes, as are distinct NaN payloads — without the
    // normalization in PassKernel.GlobalRank.keyExprs one logical run would
    // split into two ranks. Build both via arithmetic so the literals can't be
    // constant-folded into one representation before reaching the node.
    val altNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val df = scala.util.Random.shuffle(
        Seq.fill(500)(-1.5) ++
        Seq.fill(400)(0.0) ++ Seq.fill(400)(-0.0) ++
        Seq.fill(300)(2.5) ++
        Seq.fill(200)(Double.NaN) ++ Seq.fill(200)(altNaN))
      .toDF("k").repartition(9)
    val got = rankBy(df, Seq("k"))
      .groupBy(isnan(col("k")), abs(col("k")))
      .agg(countDistinct("__rank").as("nr"), first("__rank").as("r"), count(lit(1)).as("n"))
      .collect().map(r => (r.getBoolean(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // each logical key (zero, NaN included) must have exactly ONE rank
    assert(got.forall(_._3 == 1L), s"one rank per logical key, got ${got.toSeq}")
    // zeros form one 800-row run ranked after the 500 negatives; NaN sorts
    // LAST in Spark ordering, one 400-row run ranked after 2.5's run
    val zeros = got.find(t => !t._1 && t._2 == 0.0).get
    assert(zeros._4 == 500L && zeros._5 == 800L, s"merged zero run: $zeros")
    val nans = got.find(_._1).get
    assert(nans._4 == 1600L && nans._5 == 400L, s"merged NaN run: $nans")
  }

  test("rankBy rejects nested floating key types loudly") {
    val session = spark
    import session.implicits._
    val df = Seq((Seq(1.0), "x"), (Seq(2.0), "y")).toDF("k", "p")
    val ex = intercept[Throwable] {
      rankBy(df, Seq("k")).collect()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("floating"),
      s"expected the loud nested-floating rejection, got: $msgs")
  }

  test("plan shape: exactly ONE range exchange per call, native node present") {
    val df = fixture
    def ep(d: org.apache.spark.sql.DataFrame) = d.queryExecution.executedPlan.toString
    val epIdx = ep(withGlobalIdx(df, Seq("k")))
    assert(epIdx.contains("GlobalIndex"), s"native index node must plan:\n$epIdx")
    assert(epIdx.split('\n').count(_.contains("Exchange rangepartitioning")) == 1,
      s"one range exchange exactly:\n$epIdx")
    val epRank = ep(rankBy(df, Seq("k")))
    assert(epRank.contains("GlobalRank"), s"native rank node must plan:\n$epRank")
    assert(epRank.split('\n').count(_.contains("Exchange rangepartitioning")) == 1,
      s"one range exchange exactly:\n$epRank")
    assert(!epRank.contains("Exchange hashpartitioning"),
      s"the segmented scan must add NO hash exchange:\n$epRank")
  }

  test("SuffixArray.build plans through the native nodes (one range exchange on top)") {
    val session = spark
    import session.implicits._
    val docs = Seq((1L, "b a c a"), (2L, "a b a")).toDF("doc_id", "text")
    val out = SuffixArray.build(docs, capTokens = 4)
    val ep = out.queryExecution.executedPlan.toString
    assert(ep.contains("GlobalIndex"), s"final index append must be native:\n$ep")
    assert(ep.split('\n').count(_.contains("Exchange rangepartitioning")) == 1,
      s"one range exchange above the checkpointed rounds:\n$ep")
  }
}
