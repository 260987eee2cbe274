package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.SparkSpec

/** The materialization contract of [[MinHash.candidatePairs]]: a library
  * call's eager stages are localCheckpoints, never session caches, and
  * their blocks go once the result that reads them is unreachable. Each
  * test diffs the persistent-RDD ids its own call created — other suites
  * share the session, so a global emptiness check would flake.
  */
class MaterializationSpec extends SparkSpec {

  import spark.implicits._

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def ownsItsState(build: => DataFrame): Unit = {
    val before = persistent
    var result = build
    val mine = persistent.diff(before)
    result.collect()
    val cached = result.queryExecution.optimizedPlan.collect { case m: InMemoryRelation => m }
    assert(cached.isEmpty, s"no session cache in the plan, found:\n${cached.mkString("\n")}")
    assert(mine.nonEmpty, "the call materializes at least one stage eagerly")
    result = null
    assert(MaterializationSpec.releasedAfterGc(spark, mine),
      s"blocks of a dropped result must be freed, still persisted: ${mine.intersect(persistent)}")
  }

  private val base = (1 to 12).map(i => s"w$i").mkString(" ")
  private def docs = Seq(
    1L -> s"$base aa", 2L -> s"$base bb", 3L -> "p q r s t u v w x y",
    4L -> "p q r s t u v w x z", 5L -> "one two three four five six")
    .toDF("doc_id", "text")

  private def vectors = {
    val rnd = new scala.util.Random(7)
    val vs = (0 until 8).map(i => (i.toLong, Seq.fill(4)(rnd.nextGaussian())))
    (vs ++ vs.take(3).map { case (i, v) => (100L + i, v.map(_ * 1.0001)) })
      .toDF("vec_id", "embedding")
  }

  test("MinHash.candidatePairs leaves no cache behind") {
    ownsItsState(MinHash.candidatePairs(docs))
  }

  test("MinHash.crossCandidatePairs leaves no cache behind") {
    ownsItsState(MinHash.crossCandidatePairs(docs.filter($"doc_id" <= 2L), docs))
  }

  test("Similarity.nearDupPairsLsh leaves no cache behind") {
    ownsItsState(Similarity.nearDupPairsLsh(vectors, 0.9, bits = 4, tables = 4))
  }

  test("Similarity.lshTopK leaves no cache behind") {
    ownsItsState(Similarity.lshTopK(vectors, k = 2, bits = 4, tables = 2))
  }

  test("Similarity.semanticDedup leaves no cache behind") {
    ownsItsState(Similarity.semanticDedup(vectors, 0.99, nlist = 2, nprobe = 1, iters = 2))
  }

  test("PrefixJoin.exactJaccardPairs leaves no cache behind") {
    ownsItsState(PrefixJoin.exactJaccardPairs(docs, 0.8))
  }
}

object MaterializationSpec {

  /** True once none of `ids` is a persistent RDD of the session, polling
    * with System.gc() for up to 10 s: the ContextCleaner unpersists an RDD
    * after its last strong reference is collected.
    */
  def releasedAfterGc(spark: SparkSession, ids: scala.collection.Set[Int]): Boolean = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    def held = spark.sparkContext.getPersistentRDDs.keySet.intersect(ids)
    while (held.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    held.isEmpty
  }
}
