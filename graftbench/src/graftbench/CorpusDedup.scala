package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{Dbscan, MinHash, Similarity, TextOps}
import graft.operators.ConnectedComponents

/** `corpus_dedup`: the curation chain with the calls and parameters of the
  * `llm_corpus_pipeline`, `llm_dup_clusters` and `llm_dbscan_lsh` rows.
  *
  * Text: quality ≥ 0.3 + langId → exact dedup → MinHash candidates →
  * exact Jaccard ≥ 0.8 → connected components. Vectors: sign-LSH ε-pairs
  * at cosine 0.9 → DBSCAN with minPts 6.
  *
  * The result is one frame of memberships: (side, id, cluster, is_core),
  * `side` = "text" for duplicate groups, "vec" for DBSCAN clusters.
  */
final class CorpusDedup(spark: SparkSession, dir: String) extends BatchWorkload {

  private def qualityFilter(docs: DataFrame): DataFrame =
    docs.withColumn("pred_lang", TextOps.langId(col("text")))
      .filter(TextOps.qualityScore(col("text")) >= 0.3)

  private def edges(verified: DataFrame): DataFrame =
    verified.filter(col("jaccard") >= 0.8).select(col("id_a").as("a"), col("id_b").as("b"))

  private def vectors(): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))

  /** The LSH geometry `llm_dbscan_lsh` sizes from the corpus row count:
    * bits = round(log2 n) − 1 clamped to [8, 18], tables = ⌈11.38 / 0.866^bits⌉.
    */
  private def lshPairs(vecs: DataFrame, n: Long): DataFrame = {
    val bits = math.max(8, math.min(18,
      math.round(math.log(math.max(n, 2L).toDouble) / math.log(2.0)).toInt - 1))
    val tables = math.ceil(11.38 / math.pow(0.866, bits)).toInt
    Similarity.nearDupPairsLsh(vecs, threshold = 0.9, bits = bits, tables = tables)
  }

  private def memberships(components: DataFrame, clusters: DataFrame): DataFrame =
    components.select(lit("text").as("side"), col("id"), col("component").as("cluster"),
        lit(null).cast("boolean").as("is_core"))
      .unionByName(clusters.select(lit("vec").as("side"), col("id"), col("cluster"),
        col("is_core")))

  def result(): DataFrame = {
    val exact = TextOps.dedupExact(qualityFilter(Tables.documents(spark, dir)))
    val verified = MinHash.withExactJaccard(MinHash.candidatePairs(exact), exact)
    val comps = ConnectedComponents.components(edges(verified))
    val vecs = vectors()
    val clusters = Dbscan.cluster(lshPairs(vecs, vecs.count()), minPts = 6)
    memberships(comps, clusters)
  }

  def tracedResult(t: Tracer): Long = {
    val docs = t.stage("core.scan")(Tables.documents(spark, dir))
    val kept = t.stage("functions.quality_filter")(qualityFilter(docs.df))
    val exact = t.stage("functions.exact_dedup")(TextOps.dedupExact(kept.df))
    val cands = t.stage("functions.minhash_candidates")(MinHash.candidatePairs(exact.df))
    val verified = t.stage("functions.jaccard_verify")(MinHash.withExactJaccard(cands.df, exact.df))
    verified.span.metrics("precision") =
      verified.df.filter(col("jaccard") >= 0.8).count() / verified.rows.max(1.0)
    val comps = t.stage("operators.components")(ConnectedComponents.components(edges(verified.df)))
    comps.span.metrics("n_components") = comps.df.select("component").distinct().count().toDouble
    val vecs = t.stage("core.scan")(vectors())
    val pairs = t.stage("functions.vector_lsh")(lshPairs(vecs.df, vecs.rows.toLong))
    val clusters = t.stage("functions.dbscan")(Dbscan.cluster(pairs.df, minPts = 6))
    clusters.span.metrics("n_clusters") = clusters.df.select("cluster").distinct().count().toDouble
    Materialize(memberships(comps.df, clusters.df))._1
  }

  def inputRows: Long =
    Tables.documents(spark, dir).count() + Tables.embeddings(spark, dir).count()
}
