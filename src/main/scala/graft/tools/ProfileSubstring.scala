package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.SubstringDedup

/** Stage-level wall-clock breakdown of `llm_substring_dedup`
  * ([[graft.functions.SubstringDedup.crossDocDupStats]]) — the heaviest LLM
  * row at sf10. Each stage is a CUMULATIVE
  * materialization from the raw documents, so the delta between consecutive
  * stages is that stage's own cost under the real (exchange-reusing) plan:
  *
  *   1. hash       — tokenize + rolling-hash kernel (map-side, string-free)
  *   2. cand-hash  — the corpus-wide shuffle: groupBy 64-bit window hash,
  *                   min/max doc filter
  *   3. cand-pos   — candidate semi-join back onto the hashed frame
  *   4. verify     — per-doc position collect + ONE base join per doc,
  *                   string slice, exact groupBy-win verification
  *   5. spans      — gaps-and-islands merge (one per-doc shuffle)
  *   6. full       — crossDocDupStats (adds the per-doc totals join)
  *
  * Also counts Exchange nodes in the final executed plan so the "shuffles
  * are hash-/candidate-bound" claim is read off the plan, not asserted.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ProfileSubstring"
  */
object ProfileSubstring {

  private val K = 10

  private def time(label: String, reps: Int)(mk: => DataFrame): Double = {
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      mk.queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }
    val med = times.sorted.apply(times.length / 2)
    println(f"[profile] $label%-28s $med%7.2f s  (min ${times.min}%.2f)")
    med
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "3").toInt
    val spark = graft.core.GraftSession.get()

    def docs = Tables.documents(spark, sfDir)
    def base = SubstringDedup.tokenized(docs, K, "text", "doc_id")
    def hashed = SubstringDedup.hashedWindows(base, K)

    val t1 = time("1 window hashing (map-side)", reps)(hashed)
    val t2 = time("2 + candidate hashes", reps) {
      hashed.groupBy(col("h"))
        .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
        .filter(col("mn") =!= col("mx"))
    }
    val t3 = time("3 + candidate positions", reps)(
      SubstringDedup.candidatePositions(hashed))
    val t4 = time("4 + exact-string verify", reps)(
      SubstringDedup.dupWindowPositions(docs, K))
    val t5 = time("5 + span merge", reps)(SubstringDedup.spans(docs, K))
    val t6 = time("6 full crossDocDupStats", reps)(
      SubstringDedup.crossDocDupStats(docs, K))

    println(f"[profile] stage deltas: hash ${t1}%.2f | cand-hash ${t2 - t1}%.2f | " +
      f"cand-pos ${t3 - t2}%.2f | verify ${t4 - t3}%.2f | spans ${t5 - t4}%.2f | " +
      f"totals ${t6 - t5}%.2f")

    val plan = SubstringDedup.crossDocDupStats(docs, K)
      .queryExecution.executedPlan.toString
    val nExchange = "(?m)^.*Exchange".r.findAllIn(plan).size
    println(s"[profile] final plan: $nExchange Exchange node(s)")
    spark.stop()
  }
}
