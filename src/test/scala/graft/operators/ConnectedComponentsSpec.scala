package graft.operators

import graft.SparkSpec

/** Large-star/small-star connected components vs a local union-find, on
  * shapes that stress the algorithm differently: a long path (tests
  * multi-round convergence — O(log n) rounds, not one min-propagation
  * hop), disjoint cliques (dedup's natural shape), and random graphs.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def localComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(v => v -> find(v)).toMap
  }

  /** Asserts the components equal a local union-find; returns the rounds. */
  private def check(edges: Seq[(Long, Long)], label: String): Int = {
    val (out, rounds) = ConnectedComponents.componentsWithRounds(edges.toDF("a", "b"))
    val got = out.as[(Long, Long)].collect().toMap
    val want = localComponents(edges)
    assert(got == want, s"$label: $got vs $want")
    rounds
  }

  test("long path converges to one min-rooted component") {
    check((0L until 63L).map(i => (i, i + 1)), "path")
  }

  test("rounds-to-fixpoint on the worst-case path is logarithmic, not linear") {
    // A 256-node path is the adversarial shape for star contraction: naive
    // min-propagation needs n rounds; large-star/small-star alternation is
    // O(log² n). The bound here (≤ 16 ≈ 2·log₂ 256) is what makes the
    // round count meaningful at 100 TB — rounds, not edges, govern the
    // shuffle count.
    val r = check((0L until 255L).map(i => (i, i + 1)), "path256")
    assert(r >= 2 && r <= 16, s"path256 converged in $r rounds — expected O(log n)")
  }

  test("disjoint cliques keep separate min representatives") {
    val cliques = Seq(Seq(10L, 11L, 12L, 13L), Seq(40L, 41L), Seq(7L, 70L, 700L))
    val edges = cliques.flatMap(c => c.combinations(2).map(p => (p(0), p(1))))
    check(edges, "cliques")
  }

  test("random graphs match a local union-find") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 40
      val edges = (1 to n).map(_ =>
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)).filter(e => e._1 != e._2)
      check(edges, s"random$trial")
    }
  }

  test("reversed and duplicated edges do not change the answer") {
    val edges = Seq((5L, 1L), (1L, 5L), (5L, 1L), (2L, 5L), (9L, 8L))
    check(edges, "dup-edges")
  }

  test("fingerprints ride the checkpoint's observe channel, not extra jobs") {
    // the r17 fusion only saves its per-round pass when observedMetrics is
    // populated by the eager localCheckpoint action; components throws when
    // a round's cc_fingerprint is missing, so a Spark upgrade that breaks
    // the channel fails this multi-round run instead of a silent slowdown
    check((0L until 63L).map(i => (i, i + 1)), "path-observed")
  }

  test("degenerate edge lists: empty frame, all-duplicate edges") {
    // empty inputs still carry the observation (the observe node is the
    // checkpointed root, so AQE's empty-relation pruning keeps it), both
    // a literal empty frame and one only known empty after a join runs
    assert(check(Seq.empty, "empty") >= 1)
    val emptyAtRuntime = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
      .join(Seq(7L).toDF("a"), "a").select("a", "b")
    val (out, rounds) = ConnectedComponents.componentsWithRounds(emptyAtRuntime)
    assert(out.count() == 0 && rounds >= 1)
    check(Seq.fill(25)((9L, 4L)), "all-dup")
  }

  test("concurrent calls in one session: own components, own round counts") {
    val path = (0L until 127L).map(i => (i, i + 1))
    val pair = Seq((1000L, 1001L), (1001L, 1000L))
    val (pathRounds, pairRounds) = (check(path, "path"), check(pair, "pair"))
    assert(pathRounds != pairRounds, "the two graphs must converge in different rounds")
    val start = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val runs = Seq(path -> "path-concurrent", pair -> "pair-concurrent").map {
        case (edges, label) =>
          pool.submit(() => { start.await(); check(edges, label) })
      }
      assert(runs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)) ==
        Seq(pathRounds, pairRounds))
    } finally pool.shutdownNow()
  }
}
