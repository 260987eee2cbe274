package graft.functions

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.AsOfJoin

class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps one representative per normalized content") {
    val docs = Seq(
      (1L, "Hello   World", "a"),
      (2L, "hello world", "a"), // same after normalization
      (3L, "different text", "b")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.dedupExact(docs).select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L))
  }

  test("minhash finds a near-duplicate pair and fuzzy dedup drops the later doc") {
    val words = (1 to 40).map(i => s"w$i")
    val a = words.mkString(" ")
    val b = (words.take(38) :+ "zz").mkString(" ") // ~0.9 shingle overlap
    val c = (1 to 40).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = MinHash.candidatePairs(docs).collect()
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L
      && r.getAs[Double]("est_jaccard") > 0.7))
    assert(!pairs.exists(r => r.getAs[Long]("id_b") == 3L))
    val kept = MinHash.dedupFuzzy(docs, threshold = 0.7).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("simhash: identical docs at distance 0; unrelated docs far apart") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val pairs = SimHash.nearDupPairs(docs, maxDist = 3).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1L && pairs.head.getAs[Long]("id_b") == 2L)
    assert(pairs.head.getAs[Int]("dist") == 0)
  }

  test("cosine top-k ranks by true cosine on hand-built vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0), // closest to 0
      (2L, Array(0.0f, 1.0f, 0.0f), 1), // orthogonal
      (3L, Array(0.7f, 0.7f, 0.0f), 1) // in between
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.bruteForceTopK(vecs.filter($"vec_id" === 0), vecs, k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 3L, 2L))
    // hard negatives are that same exact ranking over the other labels only
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cos", "rank").as[(Long, Long, Double, Int)].collect().toSet
    val hard = ranked(Similarity.hardNegativeTopK(vecs, vecs, k = 3))
    val otherLabels = Seq(0, 1).flatMap(l => ranked(Similarity.bruteForceTopK(
      vecs.filter($"label" === l), vecs.filter($"label" =!= l), k = 3)))
    assert(hard.size == 8 && hard == otherLabels.toSet)
  }

  test("langId picks the dominant stopword language; quality is in [0,1]") {
    val docs = Seq(
      (1L, "the cat and the dog is in the house for a while"),
      (2L, "der hund ist nicht mit der katze auf dem dach"),
      (3L, "zzz qqq www rrr ttt yyy uuu iii")
    ).toDF("doc_id", "text")
    val out = docs.withColumn("lang", TextOps.langId($"text"))
      .withColumn("q", TextOps.qualityScore($"text"))
      .select("doc_id", "lang", "q").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getString(1) == "en")
    assert(byId(2L).getString(1) == "de")
    assert(byId(3L).getString(1) == "und")
    out.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    assert(byId(1L).getDouble(2) > byId(3L).getDouble(2))
  }

  test("as-of join attaches the latest candle at or before each tick") {
    def ts(s: String) = Timestamp.valueOf(s)
    val candles = Seq(
      ("A", ts("2024-01-01 00:00:01"), 10.0),
      ("A", ts("2024-01-01 00:00:03"), 30.0)
    ).toDF("symbol", "timestamp", "candle_close")
    val ticks = Seq(
      ("A", ts("2024-01-01 00:00:00.500"), 1L), // before any candle → null
      ("A", ts("2024-01-01 00:00:01.000"), 2L), // exact tie → includes the 00:01 candle
      ("A", ts("2024-01-01 00:00:02.500"), 3L), // between → 10.0
      ("A", ts("2024-01-01 00:00:04.000"), 4L) // after → 30.0
    ).toDF("symbol", "timestamp", "seq")
    val out = AsOfJoin.asOf(ticks, candles, "symbol", "timestamp", Seq("candle_close"))
      .orderBy("seq").select("candle_close").collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getDouble(0) == 10.0)
    assert(out(2).getDouble(0) == 10.0)
    assert(out(3).getDouble(0) == 30.0)
  }

  test("ANN near-neighbor recall@1 stays above the 0.8 floor") {
    // Same (bits, tables) and injection scheme as the llm_ann_recall
    // registry query; a recall collapse in the LSH family now fails here
    // instead of rotting silently. The floor is on the task ANN exists for
    // (genuinely near neighbors), not on ranking near-orthogonal noise.
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val injected = e.filter($"vec_id" % 50 === 0)
      .select(($"vec_id" + 100000).as("vec_id"),
        transform($"embedding", x => x * lit(1.001f) + lit(0.01f)).as("embedding"))
    val base = e.select($"vec_id", $"embedding").unionByName(injected)
    val nQueries = injected.count()
    val nHits = Similarity.lshTopK(base, k = 1, bits = 8, tables = 8)
      .filter($"query_id" >= 100000 && $"neighbor_id" === $"query_id" - 100000)
      .count()
    assert(nQueries > 0)
    val recall = nHits.toDouble / nQueries
    assert(recall >= 0.8, s"ANN near-neighbor recall $recall < 0.8 ($nHits/$nQueries)")
  }

  test("LSH-bucketed cosine dedup reproduces the all-pairs baseline's survivors") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("embedding"))
    val injected = e.filter($"vec_id" % 50 === 0)
      .select(($"vec_id" + 100000).as("vec_id"),
        transform($"embedding", x => x * lit(1.001) + lit(0.01)).as("embedding"))
    val base = e.unionByName(injected)
    val exact = Similarity.dedupByCosine(base, threshold = 0.99)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val lsh = Similarity.dedupByCosineLsh(base, threshold = 0.99, bits = 8, tables = 8)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(exact == lsh)
    // and the injection actually exercised the dedup: every +100000 id dropped
    assert(base.count() > lsh.size)
  }

  test("SemDeDup semantic dedup reproduces the all-pairs baseline's survivors") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("embedding"))
    val injected = e.filter($"vec_id" % 50 === 0)
      .select(($"vec_id" + 100000).as("vec_id"),
        transform($"embedding", x => x * lit(1.001) + lit(0.01)).as("embedding"))
    val base = e.unionByName(injected)
    val exact = Similarity.dedupByCosine(base, threshold = 0.99)
      .select("vec_id").as[Long].collect().sorted.toSeq
    val sem = Similarity.semanticDedup(base, threshold = 0.99, nlist = 16, nprobe = 2)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(exact == sem)
    // the injection actually exercised the dedup: every +100000 id dropped
    assert(base.count() > sem.size)
    // and a null embedding survives, per the family's null semantics
    val withNull = base.unionByName(
      base.sparkSession.range(1).select(lit(888888L).as("vec_id"),
        lit(null).cast("array<double>").as("embedding")))
    val semNull = Similarity.semanticDedup(withNull, threshold = 0.99, nlist = 16, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(semNull.contains(888888L), "null-embedding row must survive semantic dedup")
    assert(semNull.size == sem.size + 1)
  }

  test("a null embedding survives LSH dedup and matches the spec path (bucket 0, cos null)") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("embedding"))
      .limit(50)
    val withNull = e.unionByName(
      e.sparkSession.range(1).select(lit(99999L).as("vec_id"),
        lit(null).cast("array<double>").as("embedding")))
    // the null row buckets as 0 in every table (expression-spec semantics,
    // restored by bucketedFrame's coalesce) — it must appear in the output
    // as a survivor (null cosine never crosses the threshold), not vanish
    val lsh = Similarity.dedupByCosineLsh(withNull, threshold = 0.99, bits = 8, tables = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(lsh.contains(99999L), "null-embedding row must survive, not be dropped from bucketing")
    assert(lsh.size == 51, "no real row may be lost to the null row's presence")
  }

  test("winnowing fingerprints are content-stable and position-robust") {
    val fp = (t: String) => Seq((1L, t)).toDF("doc_id", "text")
      .select(TextOps.winnowFingerprints($"text").as("fp")).collect().head.getSeq[Long](0).toSet
    val a = fp("the quick brown fox jumps over the lazy dog")
    val b = fp("PREFIX the quick brown fox jumps over the lazy dog")
    // shared content → large fingerprint overlap despite the shift
    assert((a intersect b).size.toDouble / a.size > 0.5)
  }

  test("k-means sample init is deterministic: identical centroids across invocations") {
    val session = spark
    import session.implicits._
    val rnd = new scala.util.Random(41)
    val df = Seq.tabulate(200)(i => (i.toLong, Array.fill(16)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    // init is a pure function of vec_id (hash-ordered sample + driver-side
    // maxmin), so two calls must agree bit-for-bit BEFORE Lloyd iterations
    // (whose shuffle-order float sums legitimately wobble low bits)
    val a = Similarity.kmeansCentroids(df, k = 6, iters = 0)
    val b = Similarity.kmeansCentroids(df, k = 6, iters = 0)
    assert(a.length == 6 && b.length == 6)
    a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    // and with a sample smaller than the corpus, still deterministic
    val c = Similarity.kmeansCentroids(df, k = 6, iters = 0, initSample = 64)
    val d = Similarity.kmeansCentroids(df, k = 6, iters = 0, initSample = 64)
    c.zip(d).foreach { case (x, y) => assert(x.sameElements(y)) }
  }

  test("IVF retrieves cluster-mates as nearest neighbors on separable clusters") {
    // three tight clusters far apart: with nlist=3 and nprobe=1 every
    // point's true nearest neighbor sits in its own (probed) list, so the
    // coarse quantizer must not cost a single top-1 hit
    val pts = for {
      (center, ci) <- Seq(Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f)).zipWithIndex
      j <- 0 until 4
    } yield ((ci * 4 + j).toLong, center.map(_ + j * 0.01f))
    val df = pts.toDF("vec_id", "embedding")
    val top1 = Similarity.ivfTopK(df, k = 1, nlist = 3, nprobe = 1, iters = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1.size == pts.size)
    pts.foreach { case (id, _) =>
      assert(top1(id) / 4 == id / 4, s"vec $id retrieved ${top1(id)} from another cluster")
    }
  }
}
