package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Completeness + soundness of the exact prefix-filter similarity join:
  * the engine's pair set must equal the brute-force all-pairs Jaccard over
  * the same shingle-hash sets — including pairs sitting EXACTLY at the
  * threshold, the case LSH banding can miss.
  */
class PrefixJoinSpec extends SparkSpec {

  import spark.implicits._

  private def bruteForce(docs: Seq[(Long, String)], tau: Double): Set[(Long, Long)] = {
    val hs = MinHash.withShingleHashSets(docs.toDF("doc_id", "text"))
      .select(col("id"), col("hs"))
      .as[(Long, Array[Long])].collect().map { case (i, a) => (i, a.toSet) }
    (for {
      (ia, sa) <- hs; (ib, sb) <- hs if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= tau
    } yield (ia, ib)).toSet
  }

  private def engine(docs: Seq[(Long, String)], tau: Double): Set[(Long, Long)] =
    PrefixJoin.exactJaccardPairs(docs.toDF("doc_id", "text"), tau)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet

  test("pair exactly AT the threshold is found; just below is excluded") {
    // 20 tokens, first 18 shared: 18 shingles each, 16 shared -> J = 16/20 = 0.8
    val base = (1 to 18).map(i => s"w$i").mkString(" ")
    val at = Seq(
      1L -> s"$base aa ab",
      2L -> s"$base ba bb")
    // 17 shared tokens, 3 own: 15 shared shingles, union 21 -> J ~= 0.714
    val below17 = (1 to 17).map(i => s"w$i").mkString(" ")
    val under = Seq(
      3L -> s"$below17 aa ab ac",
      4L -> s"$below17 ba bb bc")
    val got = engine(at ++ under, 0.8)
    assert(got === Set((1L, 2L)), s"expected exactly the J=0.8 pair, got $got")
    // sanity: brute force agrees on the same fixture
    assert(bruteForce(at ++ under, 0.8) === Set((1L, 2L)))
  }

  test("randomized corpora: engine pair set == brute force, several seeds") {
    for (seed <- 0 to 3) {
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 10).map(i => s"t$i")
      val docs = (0 until 24).map { id =>
        val len = 1 + rnd.nextInt(14)
        (id.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      assert(engine(docs, 0.8) === bruteForce(docs, 0.8), s"seed $seed")
    }
  }

  test("degenerate docs: single-shingle, exact duplicates, empty-ish text") {
    val docs = Seq(
      1L -> "one two",                       // <= 3 tokens -> single shingle
      2L -> "one two",                       // exact dup of 1
      3L -> "  one   two  ",                 // normalization-equal dup of 1
      4L -> "three four",                    // different single shingle
      5L -> "a b c d e f g h",
      6L -> "a b c d e f g h")               // exact dup of 5
    val got = engine(docs, 0.8)
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L)), s"got $got")
  }

  test("FP-hostile threshold 0.7: containment pair exactly AT tau is found") {
    // 0.7*10 = 7.000000000000001 in IEEE754 double, so the old
    // ceil(len * tau) prefix math over-rounded to 8 (prefix too short) AND
    // the real-valued length filter 7 >= 10*0.7 evaluated false — both
    // silently dropped this pair. The integer-exact rational math must keep
    // it. Fixture: B's shingle set fully contained in A's, |A|=10, |B|=7
    // -> J = 7/10 = 0.7 exactly.
    val a = (1 to 12).map(i => s"w$i").mkString(" ") // 12 words -> 10 shingles
    val b = (1 to 9).map(i => s"w$i").mkString(" ")  // 9 words  -> 7 shingles, all in A
    val docs = Seq(1L -> a, 2L -> b)
    assert(bruteForce(docs, 0.7) === Set((1L, 2L)), "fixture sanity")
    assert(engine(docs, 0.7) === Set((1L, 2L)), "tau=0.7 completeness")
    // randomized agreement at the hostile threshold too
    for (seed <- 0 to 2) {
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 10).map(i => s"t$i")
      val rdocs = (0 until 20).map { id =>
        (id.toLong, Seq.fill(1 + rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      assert(engine(rdocs, 0.7) === bruteForce(rdocs, 0.7), s"seed $seed")
    }
  }

  test("token checkpoint is reused by a 2nd action, freed with the result") {
    val docs = Seq(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g h",
      3L -> "p q r s t u v w")
    // this call's own RDD ids (a diff against the ids before the call), not
    // the session-global persistent set — other suites share the session
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var result = PrefixJoin.exactJaccardPairs(docs.toDF("doc_id", "text"), 0.8)
    val mine = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(mine.nonEmpty, "the token frame is checkpointed while the result is built")
    val first = result.collect().toSet
    assert(PrefixJoin.candidatePairs(result.queryExecution).exists(_ >= 1L))
    // a second action reads the same blocks: nothing released, nothing new
    assert(result.collect().toSet === first)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before) === mine)
    result = null
    assert(MaterializationSpec.releasedAfterGc(spark, mine),
      "the token checkpoint must be freed once the result is unreachable")
  }

  test("a never-executed result's token checkpoint goes when it is dropped") {
    val docs = Seq(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g h").toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var unrun = PrefixJoin.exactJaccardPairs(docs, 0.8)
    val mine = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(mine.nonEmpty, "the call should have checkpointed its token frame")
    // a second call does not touch the first call's blocks
    val second = PrefixJoin.exactJaccardPairs(docs, 0.8)
    assert(mine.subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
    assert(second.count() === 1L)
    unrun = null
    assert(MaterializationSpec.releasedAfterGc(spark, mine),
      "an unexecuted result's checkpoint must be freed once it is unreachable")
  }

  test("no candidates: the candidate count reads 0, not None") {
    // AQE's empty-relation propagation drops the observed candidate subtree
    // when the prefix join emits nothing; the count must still read 0
    val rnd = new scala.util.Random(0)
    val vocab = (0 until 10).map(i => s"t$i")
    val docs = (0 until 20).map { id =>
      (id.toLong, Seq.fill(6 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val pairs = PrefixJoin.exactJaccardPairs(docs.toDF("doc_id", "text"), 0.8)
    assert(pairs.collect().isEmpty && bruteForce(docs, 0.8).isEmpty, "fixture has no pairs")
    assert(PrefixJoin.candidatePairs(pairs.queryExecution) === Some(0L))
    // a query without a prefix join has no count at all
    val plain = docs.toDF("doc_id", "text")
    plain.collect()
    assert(PrefixJoin.candidatePairs(plain.queryExecution) === None)
  }

  test("verify strategies agree: broadcast-sets == shuffled SMJ, and the " +
    "broadcast path materializes the set frame once (reused exchange)") {
    val docs = Seq(
      1L -> ((1 to 20).map(i => s"w$i").mkString(" ") + " aa ab"),
      2L -> ((1 to 20).map(i => s"w$i").mkString(" ") + " ba bb"),
      3L -> ((1 to 20).map(i => s"v$i").mkString(" ") + " ca cb"),
      4L -> ((1 to 20).map(i => s"v$i").mkString(" ") + " da db"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (1L, 3L)).toDF("id_a", "id_b")
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("j"))
        .as[(Long, Long, Double)].collect().toSet
    val bcast = MinHash.withExactJaccard(pairs, docs, broadcastSets = true)
    val got = canon(bcast)
    assert(got === canon(MinHash.withExactJaccard(pairs, docs)),
      "broadcast and default strategies must be value-identical")
    assert(got === canon(MinHash.withExactJaccard(pairs, docs,
      numPartitions = Some(4))), "width-capped strategy must agree too")
    // the single shared broadcast: both set attaches must consume ONE
    // materialized exchange — a second independent BroadcastExchange of the
    // set frame means the candidate-ids semi-join + shingle kernel ran
    // twice. Execute THIS dataset's QueryExecution (canon derived new ones)
    // and read the post-AQE final plan section, where runtime stage reuse
    // prints the second consumer as a ReusedExchange.
    bcast.collect()
    val planStr = bcast.queryExecution.executedPlan.toString
    val finalSection = planStr.split("== Initial Plan ==").head
    assert(finalSection.contains("isFinalPlan=true"), s"plan not final:\n$planStr")
    assert(finalSection.contains("ReusedExchange"),
      s"expected the set-frame broadcast to be reused, final plan:\n$finalSection")
  }

  test("all-duplicate corpus: every pair comes back at Jaccard 1.0") {
    val docs = (1L to 5L).map(_ -> "the same five words here")
    val got = PrefixJoin.exactJaccardPairs(docs.toDF("doc_id", "text"), 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val want = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b, 1.0)
    assert(got === want.toSet)
  }

  test("concurrent calls in one session: brute-force pairs, own candidate counts") {
    // Each corpus plants near-duplicates (one appended word) so it has
    // candidates: with none, AQE prunes the observed subtree as empty.
    val corpora = Seq(0 -> 3, 1 -> 6).map { case (seed, planted) =>
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 10).map(i => s"t$i")
      val docs = (0 until 20).map { id =>
        (id.toLong, Seq.fill(6 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      docs ++ docs.take(planted).map { case (id, text) => (id + 100L, s"$text extra") }
    }
    def run(docs: Seq[(Long, String)]): (Set[(Long, Long)], Option[Long]) = {
      val pairs = PrefixJoin.exactJaccardPairs(docs.toDF("doc_id", "text"), 0.8)
        .select(col("id_a"), col("id_b")).as[(Long, Long)]
      val got = pairs.collect().toSet
      (got, PrefixJoin.candidatePairs(pairs.queryExecution))
    }
    val alone = corpora.map(run)
    assert(alone.map(_._2).distinct.size == 2, s"candidate counts must differ: $alone")
    val start = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val runs = corpora.map(docs => pool.submit(() => { start.await(); run(docs) }))
      runs.zip(corpora).zip(alone).foreach { case ((future, docs), (_, aloneCount)) =>
        val (got, candidates) = future.get(120, java.util.concurrent.TimeUnit.SECONDS)
        assert(got === bruteForce(docs, 0.8))
        assert(candidates.exists(_ >= got.size.max(1)), s"candidates $candidates")
        assert(candidates === aloneCount, "the concurrent call reads its own count")
      }
    } finally pool.shutdownNow()
  }

  test("verified jaccard values match brute force at 6 dp") {
    val docs = Seq(
      1L -> ((1 to 20).map(i => s"w$i").mkString(" ") + " aa ab"),
      2L -> ((1 to 20).map(i => s"w$i").mkString(" ") + " ba bb"))
    val j = PrefixJoin.exactJaccardPairs(docs.toDF("doc_id", "text"), 0.5)
      .select(col("jaccard")).as[Double].collect()
    assert(j.length === 1)
    assert(math.abs(j.head - 18.0 / 22.0) < 1e-9, s"got ${j.head}")
  }
}
