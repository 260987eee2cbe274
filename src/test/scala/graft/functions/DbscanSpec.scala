package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DBSCAN graph decomposition: core/border/noise classification, the
  * border-does-not-bridge rule, isolated-core singleton clusters, and the
  * deterministic smallest-cluster tiebreak for contested borders.
  */
class DbscanSpec extends SparkSpec {

  private def run(pairs: Seq[(Long, Long)], minPts: Int): Map[Long, (Long, Boolean)] = {
    val session = spark
    import session.implicits._
    Dbscan.cluster(pairs.toDF("id_a", "id_b"), minPts)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
  }

  test("core, border and noise classify by neighborhood size incl. self") {
    // 1-2-3-4 clique (deg 3 each, |N|=4) + pendant 5 on 4 + isolated pair 6-7
    val pairs = Seq[(Long, Long)](
      (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (6, 7))
    val m = run(pairs, minPts = 4)
    assert(m(1) == (1L, true) && m(2) == (1L, true) && m(3) == (1L, true))
    // 4 has 4 neighbors + self, still core; 5 has |N|=2 → border of 4's cluster
    assert(m(4) == (1L, true))
    assert(m(5) == (1L, false))
    // 6,7: |N|=2 < 4 and no core neighbor → noise (absent)
    assert(!m.contains(6L) && !m.contains(7L))
  }

  test("borders do not bridge two clusters and tie-break to the smaller id") {
    // two 4-cliques {1,2,3,4} and {10,11,12,13}, all-core at minPts=4,
    // joined only through 5, adjacent to one core of each: |N(5)| = 3 < 4
    // so 5 stays border and must NOT merge the clusters
    val pairs = Seq[(Long, Long)](
      (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13),
      (4, 5), (10, 5))
    val m = run(pairs, minPts = 4)
    assert(m(1)._1 == 1L && m(10)._1 == 10L, "clusters must stay distinct")
    assert(m(5) == (1L, false), "contested border goes to the smallest cluster id")
  }

  test("a core whose neighbors are all non-core is a singleton cluster") {
    // star: hub 1 with spokes 2..5 (spokes mutually non-adjacent)
    val pairs = Seq[(Long, Long)]((1, 2), (1, 3), (1, 4), (1, 5))
    val m = run(pairs, minPts = 5)
    assert(m(1) == (1L, true))
    Seq(2L, 3L, 4L, 5L).foreach(i => assert(m(i) == (1L, false)))
  }

  test("LSH candidate path reproduces the exact decomposition at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    def rows(name: String) =
      graft.queries.Registry.queries(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    assert(rows("llm_dbscan_lsh") == rows("llm_dbscan_clusters"))
  }

  test("clusterByCosine on the sf0.001 corpus injection shape") {
    // The llm_dbscan_clusters construction at the smallest corpus: the
    // classes must all be present and every cluster must hold exactly one
    // hub + 2 tight cores + 4 spokes (modulo the rare spoke promotion).
    val dir = "/root/testdata/sf0.001"
    val df = graft.queries.Registry.queries("llm_dbscan_clusters")(spark, dir)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val noise = rows.filter(_._1 == -1L)
    val clusters = rows.filter(_._1 != -1L)
    assert(noise.length == 1 && noise.head._4 > 0, "noise row present")
    assert(clusters.nonEmpty, "clusters present")
    clusters.foreach { case (_, nCore, nBorder, nMembers) =>
      assert(nMembers == 7, s"hub+2 tights+4 spokes, got $nMembers")
      assert(nCore + nBorder == nMembers && nCore >= 3)
    }
  }

  test("first-colliding-table candidate dedup: identical pair SET to the " +
    "distinct form, exactly-once emission, fallback regime identical") {
    val session = spark
    import session.implicits._
    val rnd = new scala.util.Random(5)
    def vec(): Seq[Double] = Seq.fill(8)(rnd.nextGaussian())
    val base = (0 until 200).map(i => (i.toLong, vec()))
    // near-duplicates of every 4th vector: these collide in MANY tables,
    // exercising the duplicate-sighting path the filter exists for
    val dups = base.filter(_._1 % 4 == 0).map { case (id, v) =>
      (1000L + id, v.map(x => x * 1.0001 + 0.0001))
    }
    val vecs = (base ++ dups).toDF("vec_id", "embedding")
    val ref = Similarity.lshCandidatePairs(
      Similarity.bucketedFrame(vecs, bits = 6, tables = 12))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val onceRows = Similarity.lshCandidatePairsDeduped(vecs, bits = 6, tables = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(onceRows.toSet == ref, "first-table filter must keep the exact candidate set")
    assert(onceRows.length == ref.size, "every pair must be emitted exactly once")
    assert(ref.nonEmpty, "fixture must produce collisions")
    // fallback regime (budget 0 → distinct path) must agree too
    spark.conf.set(Similarity.BucketVectorBroadcastBytesKey, "0")
    try {
      val fb = Similarity.lshCandidatePairsDeduped(vecs, bits = 6, tables = 12)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fb == ref, "fallback distinct path must produce the same set")
    } finally spark.conf.unset(Similarity.BucketVectorBroadcastBytesKey)
  }

  test("auto LSH geometry holds the equal-recall exponent at the r17 anchor") {
    import graft.queries.QueriesLlm.dbscanLshGeometry
    // equal-recall tables(bits) at E = 11.38 / p = 0.866 — every measured
    // geometry (r16 and r17) verified the identical 52,988 sf10 ε-edges;
    // bits(n) re-anchored r17 at round(log₂ n) − 1 after the primitive-
    // array bucketing rewrite moved the crossover (16 × 114 is the
    // measured sf10 winner; 17 × 132 over-pays bucketing)
    assert(dbscanLshGeometry(7000L) == ((12, 64)))
    assert(dbscanLshGeometry(103718L) == ((16, 114)),
      "the measured r17 sf10 winner at the sf10 injected-base row count")
    assert(dbscanLshGeometry(26000L) == ((14, 86)))
    // clamps: tiny corpora floor at 8 bits, huge ones cap at 18
    assert(dbscanLshGeometry(10L)._1 == 8)
    assert(dbscanLshGeometry(100000000L)._1 == 18)
  }
}
