package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product quantization: code shapes, and ADC retrieval on well-separated
  * clusters (the property PQ contracts — codes alone rank the right
  * region first; exact ranks are floor-checked in llm_pq_near_recall).
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  // 3 well-separated clusters in 16 dims, 30 vectors each
  private lazy val vecs = {
    val rnd = new scala.util.Random(7)
    (0 until 90).map { i =>
      val center = (i % 3) * 10.0
      (i.toLong, (0 until 16).map(_ => (center + rnd.nextGaussian() * 0.1).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("pqEncode emits m codes per vector, each within its codebook") {
    val books = Similarity.pqCodebooks(vecs, m = 4, ksub = 8, iters = 3)
    assert(books.length == 4 && books.forall(_.length == 8)
      && books.forall(_.forall(_.length == 4)))
    val codes = Similarity.pqEncode(vecs, books)
      .select(col("vec_id"), col("codes")).as[(Long, Seq[Int])].collect()
    assert(codes.length == 90)
    codes.foreach { case (id, cs) =>
      assert(cs.length == 4, s"$id: ${cs.length} codes")
      assert(cs.forall(c => c >= 0 && c < 8), s"$id: $cs")
    }
  }

  test("ADC top-k retrieves same-cluster neighbors first") {
    val queries = vecs.filter(col("vec_id") < 3) // one query per cluster
    val top = Similarity.pqTopK(vecs, queries, k = 5, m = 4, ksub = 8, iters = 3)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
    // IVF-PQ: the same ADC scoring over the candidates of one routed list
    val ivf = Similarity.ivfPqTopK(vecs, queries, k = 5, nlist = 3, nprobe = 1, m = 4,
        ksub = 8, iters = 3)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect()
    for ((path, hits) <- Seq("pq" -> top, "ivfpq" -> ivf)) {
      assert(hits.length == 15, s"$path: ${hits.length} hits")
      hits.foreach { case (q, n) =>
        assert(n % 3 == q % 3, s"$path: query $q retrieved cross-cluster neighbor $n")
      }
    }
  }
}
