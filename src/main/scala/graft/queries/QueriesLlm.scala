package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.core.Tables
import graft.functions.{MinHash, SimHash, Similarity, TextOps}

/** LLM-data-pipeline operators over `documents` / `embeddings`
  * (BASELINE north_star): dedup, text analysis, similarity search. DuckDB
  * oracles where expressible; the approximate operators (MinHash-LSH, ANN)
  * get rows-only or self-checking entries.
  */
object QueriesLlm {

  /** Exact content dedup over documents: representative per normalized text,
    * aggregated per source so the output is small and hash-stable.
    */
  private def dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextOps.dedupExact(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_doc_id"))
  }

  private val dedupSql =
    """WITH norm AS (
      |  SELECT source, doc_id,
      |    row_number() OVER (
      |      PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
      |      ORDER BY doc_id) AS rn
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
      |FROM norm WHERE rn = 1 GROUP BY source""".stripMargin

  /** Text statistics (token/punct/digit counts) aggregated per (lang,
    * source).
    */
  private def stats(s: SparkSession, dir: String): DataFrame =
    TextOps.withTextStats(Tables.documents(s, dir))
      .withColumn("n_bpe", TextOps.bpeTokenCount(col("text")))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        sum(col("n_bpe").cast("long")).as("sum_bpe_tokens"),
        sum(col("n_chars_actual").cast("long")).as("sum_chars"),
        sum(col("n_punct").cast("long")).as("sum_punct"),
        sum(col("n_digits").cast("long")).as("sum_digits"))

  private val statsSql =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
      |    ELSE length(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_bpe_tokens,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
      |  CAST(SUM(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) AS BIGINT) AS sum_punct,
      |  CAST(SUM(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS BIGINT) AS sum_digits
      |FROM documents GROUP BY lang, source""".stripMargin

  /** MinHash-LSH fuzzy dedup summary: total docs, survivors at Jaccard 0.8,
    * candidate pairs seen. Banded LSH — never all-pairs. Oracle-checked
    * since round 9: [[LlmHashOracles.minhashSql]] replays the xxhash64
    * shingle hashes, affine signatures, Murmur3 band buckets, and both
    * Jaccard columns bit-exactly in DuckDB.
    */
  private def minhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // eager localCheckpoint: the crossJoined aggregate subtrees consume
    // `pairs` in the single downstream action; lazy, they race to compute it
    val pairs = MinHash.candidatePairs(docs).localCheckpoint(true)
    val survivors = MinHash.dedupFuzzyFromPairs(docs, pairs)
    // LSH-then-verify: true n-gram Jaccard on the candidates only. The
    // verified frame carries est_jaccard too, so the candidate/dup counts
    // ride the SAME aggregation — one subtree (and its stages) fewer
    val verified = MinHash.withExactJaccard(pairs, docs)
    docs.agg(count(lit(1)).as("n_docs")).crossJoin(
      survivors.agg(count(lit(1)).as("n_survivors"))).crossJoin(
      verified.agg(count(lit(1)).as("n_candidate_pairs"),
        sum(when(col("est_jaccard") >= 0.8, 1L).otherwise(0L)).as("n_dup_pairs"),
        sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)).as("n_true_dup_pairs")))
  }

  /** The MinHash pipeline's true-duplicate pairs, oracle-checked: LSH
    * candidates → exact n-gram Jaccard ≥ 0.8, compared against a DuckDB
    * ALL-PAIRS Jaccard over the same normalization + 3-word shingles. The
    * hash-set Jaccard equals the string-set Jaccard (no 64-bit collisions in
    * this corpus), so a green row proves the shingling/normalization AND
    * that banded LSH recalled every true ≥0.8 pair — an engine-independent
    * recall proof for the one pipeline whose internals (hash families) are
    * inherently engine-specific.
    */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = MinHash.candidatePairs(docs)
    MinHash.withExactJaccard(pairs, docs)
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  private val jaccardPairsSql =
    """WITH d AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(norm, ' ')) <= 3 THEN [norm]
      |         ELSE list_transform(range(1, len(string_split(norm, ' ')) - 1),
      |           i -> array_to_string(list_slice(string_split(norm, ' '), i, i + 2), ' '))
      |    END AS sh
      |  FROM d),
      |ds AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.sh, b.sh)) AS ni,
      |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS nu
      |  FROM ds a, ds b WHERE a.doc_id < b.doc_id)
      |SELECT id_a, id_b, round(ni::DOUBLE / nu, 6) AS jaccard
      |FROM p WHERE ni::DOUBLE / nu >= 0.8""".stripMargin

  /** EXACT prefix-filter similarity join ([[graft.functions.PrefixJoin]]):
    * every pair at true n-gram Jaccard ≥ 0.8, enumerated by the
    * AllPairs/PPJoin prefix bound instead of LSH banding — complete by
    * construction, so the all-pairs DuckDB oracle matches on ANY fixture,
    * not just one whose duplicates sit safely above the band-recall
    * threshold. Same output columns as `llm_jaccard_pairs` (which proves
    * the LSH path's recall on THIS corpus); together the two rows pin both
    * algorithms to the same ground truth.
    */
  private def prefixJoin(s: SparkSession, dir: String): DataFrame =
    graft.functions.PrefixJoin.exactJaccardPairs(Tables.documents(s, dir))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Duplicate clustering over the EXACT prefix-join edge set: identical
    * aggregation to `llm_dup_clusters`, but the edges come from
    * [[graft.functions.PrefixJoin]] rather than LSH candidates — removing
    * the band-recall assumption those rows document. The oracle is the same
    * recursive-CTE transitive closure over all pairs ≥ 0.8; here engine and
    * oracle agree on the edge set structurally, so this row stays green on
    * adversarial fixtures with pairs exactly at the threshold.
    */
  private def clusterExact(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val edges = graft.functions.PrefixJoin.exactJaccardPairs(docs)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    graft.operators.ConnectedComponents.components(edges)
      .groupBy(col("component").as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("id")).as("sum_members"))
  }

  /** Verify-then-drop MinHash dedup, oracle-checked end-to-end: candidates
    * from banded LSH, drop decisions from EXACT n-gram Jaccard — so the
    * DuckDB all-pairs replay predicts the survivors exactly. Together with
    * [[jaccardPairs]] (candidate recall proof) this closes the loop: the
    * whole LSH dedup pipeline's OUTPUT is hash-checked, with only the
    * signature estimate itself engine-specific.
    */
  private def minhashVerified(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    MinHash.dedupFuzzyVerified(docs, MinHash.candidatePairs(docs))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_survivors"), sum(col("doc_id")).as("sum_doc_id"))
  }

  private val minhashVerifiedSql =
    """WITH d AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(norm, ' ')) <= 3 THEN [norm]
      |         ELSE list_transform(range(1, len(string_split(norm, ' ')) - 1),
      |           i -> array_to_string(list_slice(string_split(norm, ' '), i, i + 2), ' '))
      |    END AS sh
      |  FROM d),
      |ds AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.sh, b.sh)) AS ni,
      |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS nu
      |  FROM ds a, ds b WHERE a.doc_id < b.doc_id),
      |dup AS (SELECT DISTINCT id_b FROM p WHERE ni::DOUBLE / nu >= 0.8)
      |SELECT source, COUNT(*) AS n_survivors, CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
      |FROM documents
      |WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.id_b = documents.doc_id)
      |GROUP BY source""".stripMargin

  /** Duplicate CLUSTERING — pair hits completed into canonical duplicate
    * groups: LSH candidates → exact-Jaccard ≥ 0.8 edges →
    * [[graft.operators.ConnectedComponents]] (alternating large/small-star,
    * O(log² n) rounds, one scalar shuffle per star) → per-group (min-id
    * representative, member count, member sum). This is what a corpus
    * pipeline actually keys retention on: transitive duplicates A≈B≈C
    * collapse into ONE group even when A and C never produced a direct
    * candidate pair. The DuckDB oracle replays the same graph's transitive
    * closure with a recursive CTE over the all-pairs edge set, so a wrong
    * component anywhere (a missed merge, a non-minimal representative)
    * hash-misses.
    */
  private def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val edges = MinHash.withExactJaccard(MinHash.candidatePairs(docs), docs)
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    graft.operators.ConnectedComponents.components(edges)
      .groupBy(col("component").as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("id")).as("sum_members"))
  }

  /** Leakage-safe train/val/test split: assignment is a deterministic hash
    * of the document's near-dup CLUSTER representative, not of the document
    * itself — so a near-duplicate pair can never straddle train and test
    * (the classic eval-contamination bug that per-document hashing causes
    * by construction). Singleton docs are their own cluster. 80/10/10 by
    * the same permille [[graft.functions.CorpusOps.sampleKey]] the sampling
    * ops use (md5-derived, engine-replayable).
    *
    * Shape: the LSH→Jaccard→connected-components chain of
    * [[dupClusters]] produces the (id → representative) map — tiny next to
    * the corpus (only docs WITH a near-dup appear); the split itself is a
    * left join on doc_id + one map-side hash, and the report is a 3-row
    * aggregate carrying membership-pinning id sums.
    */
  private def leakageSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CorpusOps
    val docs = Tables.documents(s, dir)
    val edges = MinHash.withExactJaccard(MinHash.candidatePairs(docs), docs)
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val comp = graft.operators.ConnectedComponents.components(edges)
    val withCluster = docs.select(col("doc_id"))
      .join(comp, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"))
    val key = CorpusOps.sampleKey(col("cluster"))
    withCluster
      .withColumn("split",
        when(key < 800, "train").when(key < 900, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"),
        sum(col("doc_id")).as("sum_doc_ids"))
  }

  private val leakageSplitSql =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(norm, ' ')) <= 3 THEN [norm]
      |         ELSE list_transform(range(1, len(string_split(norm, ' ')) - 1),
      |           i -> array_to_string(list_slice(string_split(norm, ' '), i, i + 2), ' '))
      |    END AS sh
      |  FROM d),
      |ds AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.sh, b.sh)) AS ni,
      |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS nu
      |  FROM ds a, ds b WHERE a.doc_id < b.doc_id),
      |e AS (SELECT id_a, id_b FROM p WHERE ni::DOUBLE / nu >= 0.8),
      |sym AS (SELECT id_a AS a, id_b AS b FROM e
      |        UNION ALL SELECT id_b, id_a FROM e),
      |nodes AS (SELECT DISTINCT a AS id FROM sym),
      |cc AS (SELECT id, id AS comp FROM nodes
      |       UNION
      |       SELECT sy.b, cc.comp FROM cc JOIN sym sy ON sy.a = cc.id),
      |asg AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
      |wc AS (SELECT d.doc_id, COALESCE(asg.comp, d.doc_id) AS cluster
      |  FROM documents d LEFT JOIN asg ON d.doc_id = asg.id),
      |k AS (SELECT doc_id, cluster,
      |    CAST(concat('0x', substr(md5(concat('graft', CAST(cluster AS VARCHAR))), 1, 8)) AS BIGINT) % 1000 AS key
      |  FROM wc)
      |SELECT CASE WHEN key < 800 THEN 'train'
      |            WHEN key < 900 THEN 'val' ELSE 'test' END AS split,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
      |FROM k GROUP BY 1""".stripMargin

  private val dupClustersSql =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(norm, ' ')) <= 3 THEN [norm]
      |         ELSE list_transform(range(1, len(string_split(norm, ' ')) - 1),
      |           i -> array_to_string(list_slice(string_split(norm, ' '), i, i + 2), ' '))
      |    END AS sh
      |  FROM d),
      |ds AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.sh, b.sh)) AS ni,
      |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS nu
      |  FROM ds a, ds b WHERE a.doc_id < b.doc_id),
      |e AS (SELECT id_a, id_b FROM p WHERE ni::DOUBLE / nu >= 0.8),
      |sym AS (SELECT id_a AS a, id_b AS b FROM e
      |        UNION ALL SELECT id_b, id_a FROM e),
      |nodes AS (SELECT DISTINCT a AS id FROM sym),
      |cc AS (SELECT id, id AS comp FROM nodes
      |       UNION
      |       SELECT sy.b, cc.comp FROM cc JOIN sym sy ON sy.a = cc.id),
      |asg AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id)
      |SELECT comp AS cluster_rep, COUNT(*) AS n_members,
      |  CAST(SUM(id) AS BIGINT) AS sum_members
      |FROM asg GROUP BY comp""".stripMargin

  /** IVF-PQ near-neighbor recall ([[Similarity.ivfPqTopK]]): the composed
    * coarse-routing + code-scoring path, same injected-copy task and 0.9
    * floor as the IVF and PQ rows. nprobe = 8 of 16 lists: the injected
    * copy and its original land in the same coarse list essentially
    * always, but a list-boundary original can sit in a list the query's
    * probe order reaches late — probing half the lists keeps the
    * composed floor as robust as each component's own row.
    */
  private def ivfPqNear(s: SparkSession, dir: String): DataFrame = {
    val (injected, base) = injectNearCopies(Tables.embeddings(s, dir))
    val hits = Similarity.ivfPqTopK(base, base.filter(col("vec_id") >= 100000),
        k = 1, nprobe = 8)
      .filter(col("neighbor_id") === col("query_id") - 100000)
    nearFloor(injected, hits)
  }

  /** SimHash near-dup pairs by Hamming distance. maxDist = 7 rides the
    * 8×8-bit banding guarantee (recall 1.0 for dist ≤ 7). Oracle-checked
    * since round 9: [[LlmHashOracles.simhashSql]] replays token xxhash64,
    * bit votes, sketches, and the banded join value-exactly.
    */
  private def simhash(s: SparkSession, dir: String): DataFrame =
    SimHash.nearDupPairs(Tables.documents(s, dir), maxDist = 7)
      .groupBy(col("dist")).agg(count(lit(1)).as("n_pairs"))

  /** SimHash recovery, oracle-checked by construction: inject cosmetically
    * perturbed copies (uppercased, padded — normalization-equal, so the
    * sketches are bit-identical) and demand each is recovered paired with
    * its original at Hamming distance 0. Banding recall at dist 0 is
    * GUARANTEED (all bands equal), so the expected pair set is exactly the
    * injected set — engine-independent, predictable by DuckDB. A wrong
    * normalization, sketch, banding, or join loses a pair and goes red.
    */
  private def simhashRecovery(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    requireIdHeadroom(docs, "doc_id", 1000000L)
    // leading spaces + uppercase only: Spark's trim strips spaces, NOT tabs,
    // so a trailing "\t" would survive as a trailing token and shift the sketch
    val injected = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(lit("  "), upper(col("text"))).as("text"))
    // sketch each side separately (codegen-sized trees), union the sketches
    val sk = SimHash.sketches(docs).unionByName(SimHash.sketches(injected))
    SimHash.nearDupPairsFromSketches(sk, maxDist = 7)
      .filter(col("id_b") === col("id_a") + 1000000 && col("dist") === 0)
      .agg(count(lit(1)).as("n_recovered"), sum(col("id_a")).as("sum_orig_id"))
  }

  private val simhashRecoverySql =
    """SELECT COUNT(*) AS n_recovered, CAST(SUM(doc_id) AS BIGINT) AS sum_orig_id
      |FROM documents WHERE doc_id % 50 = 0""".stripMargin

  /** Exact brute-force cosine top-5 for the first 10 vectors. Both engines
    * do element-wise double math reduced left-to-right, so the rounded
    * scores hash-match.
    */
  private def cosine(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, k = 5)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  private val cosineSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings),
      |s AS (
      |  SELECT qid, nid,
      |    round(
      |      list_sum(list_transform(range(1, len(qe) + 1), i -> qe[i]::DOUBLE * ce[i]::DOUBLE)) /
      |      (sqrt(list_sum(list_transform(range(1, len(qe) + 1), i -> qe[i]::DOUBLE * qe[i]::DOUBLE))) *
      |       sqrt(list_sum(list_transform(range(1, len(ce) + 1), i -> ce[i]::DOUBLE * ce[i]::DOUBLE)))), 6) AS cos
      |  FROM q, c WHERE qid <> nid),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM s)
      |SELECT qid AS query_id, nid AS neighbor_id, cos, rank FROM r WHERE rank <= 5""".stripMargin

  /** Contrastive hard-negative mining ([[Similarity.hardNegativeTopK]]):
    * per query, the 5 nearest embeddings whose LABEL differs — what a
    * contrastive/embedding trainer samples as negatives. Brute-force
    * scoring here (exact, oracle-replayable); at scale the candidate
    * generator is the IVF path with the label predicate applied before
    * the final rank.
    */
  private def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.hardNegativeTopK(e.filter(col("vec_id") < 10), e, k = 5)
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("cos"), col("rank"))
  }

  private val hardNegativesSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
      |  FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS nid, embedding AS ce, label AS nl FROM embeddings),
      |s AS (
      |  SELECT qid, nid, nl,
      |    round(
      |      list_sum(list_transform(range(1, len(qe) + 1), i -> qe[i]::DOUBLE * ce[i]::DOUBLE)) /
      |      (sqrt(list_sum(list_transform(range(1, len(qe) + 1), i -> qe[i]::DOUBLE * qe[i]::DOUBLE))) *
      |       sqrt(list_sum(list_transform(range(1, len(ce) + 1), i -> ce[i]::DOUBLE * ce[i]::DOUBLE)))), 6) AS cos
      |  FROM q, c WHERE qid <> nid AND nl <> ql),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM s)
      |SELECT qid AS query_id, nid AS neighbor_id, nl AS neighbor_label, cos, rank
      |FROM r WHERE rank <= 5""".stripMargin

  /** Injected-copy id headroom guard: the fixed injection offsets must
    * clear the real id range, or copies would collide with real ids and the
    * construction-based oracles would corrupt SILENTLY (an injected-looking
    * id that is actually a real row). These queries are harness-scale
    * correctness checks; on a corpus that outgrows the offset this fails
    * loudly instead.
    */
  private def requireIdHeadroom(df: DataFrame, idCol: String, offset: Long): Unit = {
    val r = df.agg(max(col(idCol).cast("long"))).collect()(0)
    val maxId = if (r.isNullAt(0)) -1L else r.getLong(0)
    require(maxId < offset,
      s"$idCol max $maxId >= injection offset $offset — raise the offset")
  }

  /** The injected near-copy fixture of the vector-search rows: each
    * 50th vector copied to `vec_id + 100000` as x·1.001 + 0.01, computed in
    * the embedding's own element type (float rows multiply by float
    * literals, double rows by double ones). Returns (injected, the base
    * vectors ∪ injected), both (vec_id, embedding).
    */
  private def injectNearCopies(e: DataFrame): (DataFrame, DataFrame) = {
    requireIdHeadroom(e, "vec_id", 100000L)
    val t = e.schema("embedding").dataType.asInstanceOf[ArrayType].elementType
    val injected = e.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001).cast(t) + lit(0.01).cast(t))
          .as("embedding"))
    (injected, e.select(col("vec_id"), col("embedding")).unionByName(injected))
  }

  /** How many injected copies there are, and how many `hits` retrieved
    * their original: (n_near_queries, n_near_hits), one row.
    */
  private def nearCounts(injected: DataFrame, hits: DataFrame): DataFrame =
    injected.agg(count(lit(1)).as("n_near_queries")).crossJoin(
      hits.agg(count(lit(1)).as("n_near_hits")))

  /** The floor rows' verdict: at least 90% of the copies retrieved their
    * original. Output: n_near_queries, passes_floor.
    */
  private def nearFloor(injected: DataFrame, hits: DataFrame): DataFrame =
    nearCounts(injected, hits)
      .select(col("n_near_queries"),
        (col("n_near_hits").cast("double") / col("n_near_queries") >= 0.9).as("passes_floor"))

  /** Shared injected-near-neighbor construction: perturbed copies of every
    * 50th vector, and the LSH top-1 hits where the copy retrieved its
    * original. Used by both the honesty metrics ([[ann]]) and the oracled
    * floor row ([[annNear]]).
    *
    * 8 tables, not 4: the corpus embeddings are UNIT-NORM, so the +0.01
    * uniform offset lands the copies at cosine ≈ 0.9968 (θ ≈ 0.080 rad) —
    * not the ≈0.9999 a norm-proportional perturbation would give. Per
    * 8-bit table the collision probability is (1 − θ/π)^8 ≈ 0.81, so 4
    * tables left a ~1.2e-3 per-pair miss that MATERIALIZED on the fixed
    * sf0.1 corpus (39/40 hits); 8 tables push it to (0.19)^8 ≈ 1.5e-6,
    * verified all-hit on every test SF.
    */
  private def injectedNearHits(e: DataFrame): (DataFrame, DataFrame) = {
    val (injected, base) = injectNearCopies(e)
    val nearHits = Similarity.lshTopK(base, k = 1, bits = 8, tables = 8)
      .filter(col("query_id") >= 100000 && col("neighbor_id") === col("query_id") - 100000)
    (injected, nearHits)
  }

  /** LSH-bucketed approximate top-k (the 100 TB path), self-checking: recall
    * is measured on the retrieval task ANN exists for — queries with a
    * GENUINELY near neighbor (injected perturbed copies, cosine ≈ 0.9999;
    * same scheme as llm_embed_neardup) must get their true nearest neighbor
    * back at rank 1. Per 8-bit table that collision fires with p ≈ 0.98, so
    * 4 tables pin recall ≈ 1. The raw "recall the brute-force top-5 of
    * near-orthogonal noise" metric is also emitted for honesty
    * (`top5_noise_recall`) — it is structurally low (pairwise cos ≈ 0.5 →
    * (2/3)^8 per table) and NOT what buckets are for; no floor is claimed
    * on it. A spec pins near_recall ≥ 0.8 (LlmOpsSpec).
    */
  private def ann(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // noise metric: brute-force top-5 of the first 10 raw vectors
    val exact = Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approxNoise = Similarity.lshTopK(e, k = 5, bits = 8, tables = 4)
      .filter(col("query_id") < 10)
      .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
    val noiseHits = exact.join(approxNoise,
      exact("query_id") === approxNoise("aq") && exact("neighbor_id") === approxNoise("an"),
      "left_semi")
    // near-neighbor metric: injected copies must retrieve their original at rank 1
    val (injected, nearHits) = injectedNearHits(e)
    nearCounts(injected, nearHits).crossJoin(
        exact.agg(count(lit(1)).as("n_exact"))).crossJoin(
        noiseHits.agg(count(lit(1)).as("n_noise_recalled")))
      .withColumn("near_recall",
        round(col("n_near_hits").cast("double") / col("n_near_queries"), 4))
      .withColumn("top5_noise_recall",
        round(col("n_noise_recalled").cast("double") / col("n_exact"), 4))
  }

  /** ANN near-neighbor recall as a HASH-CHECKED row: the DuckDB oracle
    * computes the injected-query count by construction and asserts recall
    * 1.0 — with 8 independent 8-bit tables the per-query miss probability
    * at the injected pairs' cosine ≈ 0.9968 is ~1.5e-6 (see
    * [[injectedNearHits]] for the unit-norm arithmetic) and the
    * hyperplanes are deterministic, so on these corpora every copy
    * retrieves its original (verified empirically at sf0.001/0.01/0.1).
    * Any bucketing/seeding/top-k regression drops a hit and the row goes
    * red — the driver-visible rot alarm the rows-only metric couldn't
    * give.
    */
  private def annNear(s: SparkSession, dir: String): DataFrame = {
    val (injected, nearHits) = injectedNearHits(Tables.embeddings(s, dir))
    nearCounts(injected, nearHits)
      .withColumn("near_recall",
        round(col("n_near_hits").cast("double") / col("n_near_queries"), 4))
  }

  private val annNearSql =
    """SELECT COUNT(*) AS n_near_queries, COUNT(*) AS n_near_hits,
      |  1.0::DOUBLE AS near_recall
      |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin

  /** IVF near-neighbor recall, floor-oracled: same injected-copy retrieval
    * task as [[annNear]], through the coarse-quantizer path
    * ([[Similarity.ivfTopK]], k-means lists + nprobe probing). The floor
    * (≥ 0.9) rather than exact 1.0: k-means centroids carry run-dependent
    * low-order float bits (shuffle-order sums), so a boundary vector's list
    * can legitimately flip between runs — the floor is what the operator
    * contracts, and the DuckDB oracle pins it as a hash-checked boolean.
    */
  private def ivfNear(s: SparkSession, dir: String): DataFrame = {
    val (injected, base) = injectNearCopies(Tables.embeddings(s, dir))
    val hits = Similarity.ivfTopK(base, k = 1, nlist = 16, nprobe = 4)
      .filter(col("query_id") >= 100000 && col("neighbor_id") === col("query_id") - 100000)
    nearFloor(injected, hits)
  }

  private val ivfNearSql =
    """SELECT COUNT(*) AS n_near_queries, true AS passes_floor
      |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin

  /** PQ (product-quantization) near-neighbor recall, floor-oracled like
    * [[ivfNear]]: the injected near-copies must retrieve their originals
    * at rank 1 through CODES ALONE — m=8 sub-codebooks × 16 centroids, ADC
    * scoring, the corpus's full-precision vectors never touched after
    * encoding ([[Similarity.pqTopK]]). Floor ≥ 0.9, not exact: codes
    * inherit the k-means centroids' run-dependent low-order bits, and a
    * true near-duplicate sharing all 8 codes can legitimately outrank the
    * original on id ties.
    */
  private def pqNear(s: SparkSession, dir: String): DataFrame = {
    val (injected, base) = injectNearCopies(Tables.embeddings(s, dir))
    val hits = Similarity.pqTopK(base, base.filter(col("vec_id") >= 100000), k = 1)
      .filter(col("neighbor_id") === col("query_id") - 100000)
    nearFloor(injected, hits)
  }

  /** Language ID + quality-score buckets per source. Quality is per-row
    * scalar double math (identical bits in any engine), bucketed to
    * integers so the oracle comparison is exact.
    */
  private def quality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("pred_lang", TextOps.langId(col("text")))
      .withColumn("bucket", floor(TextOps.qualityScore(col("text")) * 10).cast("int"))
      .groupBy(col("source"), col("pred_lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"))

  private val qualitySql = {
    val en = TextOps.stopwords.head._2.map(w => s"'$w'").mkString(", ")
    val langCases = TextOps.stopwords.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"struct_pack(score := len(list_filter(toks, t -> t IN ($lst)))::DOUBLE / greatest(len(toks), 1), lang := '$lang')"
    }.mkString(",\n      ")
    s"""WITH base AS (
       |  SELECT source, doc_id, text,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents),
       |scored AS (
       |  SELECT source, doc_id,
       |    list_sort([
       |      $langCases
       |    ])[-1] AS best,
       |    CASE WHEN len(list_filter(toks, t -> t SIMILAR TO '\\S+')) BETWEEN 5 AND 100000
       |      THEN 1.0 ELSE 0.0 END *
       |    (0.5 * (length(text) - length(regexp_replace(text, '[a-zA-Z ]', '', 'g')))::DOUBLE / greatest(length(text), 1) +
       |     0.5 * least(len(list_filter(toks, t -> t IN ($en)))::DOUBLE / greatest(len(toks), 1) * 5, 1.0)) AS q
       |  FROM base)
       |SELECT source,
       |  CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS pred_lang,
       |  CAST(floor(q * 10) AS INTEGER) AS bucket,
       |  COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
       |FROM scored GROUP BY 1, 2, 3""".stripMargin
  }

  /** Per-language quality-percentile filter — drop the bottom quarter of
    * each language by quality score — through [[graft.functions.RankSelect
    * .dropBottomExact]]'s two-phase selection (histogram pass + broadcast
    * threshold + boundary-bucket-only sort; see its scaladoc for the 100 TB
    * argument). The oracle computes the SAME kept set the naive way — a
    * full per-language `row_number()` — so hash-green proves the two-phase
    * rank equals the global rank row for row, including the boundary
    * bucket's (score, doc_id) tie handling. Output pins exact membership
    * (every kept doc_id), not just counts.
    */
  private def qualityPercentile(s: SparkSession, dir: String): DataFrame = {
    // widen BELOW the score projection: the regex-heavy score then runs
    // parallel in each of the operator's three map-only passes instead of
    // single-threaded on the corpus's one effective parquet split
    val docs = graft.core.Widen.toCores(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")),
        perTaskBytes = 256L << 10) // regex score ≈ 10× the default kernel cost/byte
      .select(col("doc_id"), col("lang"), TextOps.qualityScore(col("text")).as("q"))
    graft.functions.RankSelect.dropBottomExact(docs, Seq("lang"), "q", "doc_id")
      .select(col("doc_id"), col("lang"),
        floor(col("q") * 10000).cast("int").as("qbucket"))
  }

  private val qualityPercentileSql = {
    val en = TextOps.stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, lang, text,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN len(list_filter(toks, t -> t SIMILAR TO '\\S+')) BETWEEN 5 AND 100000
       |      THEN 1.0 ELSE 0.0 END *
       |    (0.5 * (length(text) - length(regexp_replace(text, '[a-zA-Z ]', '', 'g')))::DOUBLE / greatest(length(text), 1) +
       |     0.5 * least(len(list_filter(toks, t -> t IN ($en)))::DOUBLE / greatest(len(toks), 1) * 5, 1.0)) AS q
       |  FROM base),
       |r AS (
       |  SELECT doc_id, lang, q,
       |    row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM scored)
       |SELECT doc_id, lang, CAST(floor(q * 10000) AS INTEGER) AS qbucket
       |FROM r WHERE rn > n // 4""".stripMargin
  }

  /** The three embedding-dedup rows' input: the injected-copy fixture in
    * double precision, base vectors ∪ copies.
    */
  private def nearDupBase(s: SparkSession, dir: String): DataFrame =
    injectNearCopies(Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("embedding")))._2

  /** The three embedding-dedup rows' output: how many vectors survive, and
    * their id sum.
    */
  private def survivors(kept: DataFrame): DataFrame =
    kept.agg(count(lit(1)).as("n_survivors"), sum(col("vec_id")).as("sum_vec_id"))

  /** Embedding-cosine near-dup dedup, oracle-checked: the testdata has no
    * natural near-dups (max pairwise cosine ≈ 0.51), so both engines inject
    * perturbed copies (vec_id % 50 == 0 → id+100000, elements scaled
    * x·1.001 + 0.01 in double) and dedup at rounded cosine ≥ 0.99 — every
    * injected copy must drop, every original survive.
    */
  private def embedNearDup(s: SparkSession, dir: String): DataFrame =
    survivors(Similarity.dedupByCosine(nearDupBase(s, dir), threshold = 0.99))

  /** Same injected-near-dup dedup through the LSH-bucketed path
    * ([[Similarity.dedupByCosineLsh]]) against the SAME all-pairs DuckDB
    * oracle: hash-green means the bucketed 100 TB path reproduces the exact
    * baseline's survivors on this corpus, pair for pair.
    */
  private def embedNearDupLsh(s: SparkSession, dir: String): DataFrame =
    // 8 tables for the same unit-norm-offset reason as injectedNearHits:
    // the injected pairs sit at cosine ≈ 0.9968, and 4 tables missed one
    // pair on the sf0.1 corpus (2001 survivors vs the oracle's 2000)
    survivors(Similarity.dedupByCosineLsh(nearDupBase(s, dir), threshold = 0.99, bits = 8,
      tables = 8))

  /** Same injected-near-dup dedup a third way — SemDeDup-style semantic
    * dedup ([[Similarity.semanticDedup]]: k-means clusters as the candidate
    * generator, multi-probe assignment, exact-cosine verify) against the
    * SAME all-pairs DuckDB oracle: hash-green means the cluster-bucketed
    * path reproduces the exact baseline's survivors on this corpus, pair
    * for pair, despite the centroids' run-dependent low-order float bits
    * (the survivor set depends only on candidate RECALL plus the exact
    * cosine filter, not on centroid values).
    */
  private def embedSemDedup(s: SparkSession, dir: String): DataFrame =
    survivors(Similarity.semanticDedup(nearDupBase(s, dir), threshold = 0.99, nlist = 16,
      nprobe = 2))

  /** The injected hub-spoke corpus shared by both DBSCAN rows (exact and
    * LSH-bucketed ε-graph): returns (vec_id, embedding double[]).
    */
  private def dbscanBase(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    requireIdHeadroom(e, "vec_id", 100000L)
    val withN = e.withColumn("nv", Similarity.norm(col("v")))
    val hubs = withN.filter(col("vec_id") % 25 === 0)
    val spokeJs = s.range(1L, 5L).select(col("id").as("j"))
    val tightJs = s.range(1L, 3L).select(col("id").as("j"))
    val w = withN.select(col("vec_id").as("wid"), col("v").as("w"), col("nv").as("nw"))
    val spokes = hubs.crossJoin(spokeJs)
      .join(w, col("wid") === col("vec_id") + col("j"))
      .select((col("vec_id") + col("j") * 100000L).as("vec_id"),
        zip_with(col("v"), col("w"),
          (x, y) => x + lit(0.40) * (col("nv") / col("nw")) * y).as("v"))
    val tights = hubs.crossJoin(tightJs)
      .select((col("vec_id") + lit(400000L) + col("j") * 100000L).as("vec_id"),
        transform(col("v"),
          x => x * (lit(1.0) + col("j") * lit(0.0001)) + col("j") * lit(0.001)).as("v"))
    val noisePairs = e.filter(col("vec_id") % 17 === 3 && col("vec_id") % 25 =!= 0)
      .select((col("vec_id") + 700000L).as("vec_id"),
        transform(col("v"), x => x * lit(1.001) + lit(0.01)).as("v"))
    // eager cut: the injected base feeds the candidate generator, the
    // verify re-attach joins, the member rollup AND the noise anti-join —
    // uncut, each subtree re-runs the injection joins
    e.unionByName(spokes).unionByName(tights).unionByName(noisePairs)
      .withColumnRenamed("v", "embedding")
      .localCheckpoint(true)
  }

  /** The (cluster_rep, n_core, n_border, n_members, sum_members) rollup +
    * cluster_rep = −1 noise row shared by both DBSCAN rows.
    */
  private def dbscanRollup(base: DataFrame, members: DataFrame): DataFrame = {
    val clusters = members.groupBy(col("cluster").as("cluster_rep"))
      .agg(sum(col("is_core").cast("long")).as("n_core"),
        sum((!col("is_core")).cast("long")).as("n_border"),
        count(lit(1)).as("n_members"),
        sum(col("id")).as("sum_members"))
    val noise = base
      .join(members.select(col("id").as("vec_id")), Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n_members"), sum(col("vec_id")).as("sum_members"))
      .select(lit(-1L).as("cluster_rep"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), col("n_members"), col("sum_members"))
    clusters.unionByName(noise)
  }

  /** DBSCAN density clustering over embeddings ([[graft.functions.Dbscan]]),
    * oracle-checked with all three point classes present. The corpus has no
    * natural density structure (max pairwise cosine ≈ 0.51), so both engines
    * inject a deterministic hub-spoke geometry around every 25th vector v:
    *
    *  - two TIGHT copies v·(1+j·1e-4) + j·1e-3 (cosine to v ≈ 0.99997) — with
    *    the hub, the cluster's core triangle;
    *  - four SPREAD spokes v + 0.4·(|v|/|w_j|)·w_j mixing in the neighboring
    *    vectors w_j = vec(id+j): cosine to the hub ≈ 0.92–0.96 (≥ ε) but
    *    spoke-to-spoke ≈ 0.81–0.91 (mostly < ε) — border points, adjacent to
    *    the cores but with sub-minPts neighborhoods of their own;
    *  - an isolated perturbed PAIR for every 17th vector — two mutually-near
    *    points below minPts with no core neighbor: noise by definition, and
    *    distinct from the trivially-noise original corpus.
    *
    * ε is round₆(cosine) ≥ 0.9, minPts = 6 counting the point itself. The
    * emitted rows are one per cluster (rep = smallest core id, core/border
    * split, id sum) plus a single cluster_rep = −1 noise row. Every
    * classification is a deterministic pure function of the corpus, so the
    * DuckDB replay matches hash-for-hash — including the occasional spoke
    * pair that lands above ε and promotes a spoke to core (1 hub of 80 at
    * sf0.1): both engines compute the identical rounded cosine.
    *
    * Scale: the one quadratic stage is the declared-exact ε-pair baseline;
    * [[graft.functions.Dbscan.cluster]] takes the pair list as input
    * precisely so a 100 TB corpus plugs a bucketed candidate generator (LSH
    * tables / IVF cells) into the same downstream, which is all single-key
    * aggregations plus the O(log n) component rounds.
    */
  private def dbscanClusters(s: SparkSession, dir: String): DataFrame = {
    val base = dbscanBase(s, dir)
    dbscanRollup(base,
      graft.functions.Dbscan.clusterByCosine(base, threshold = 0.9, minPts = 6))
  }

  /** AUTO-SIZED LSH geometry for the DBSCAN ε-graph (r16 task 5): the
    * bits/tables crossover moves with corpus size, so bits are derived
    * from the corpus row count and tables from the measured equal-recall
    * exponent instead of a hardcoded point.
    *
    * Arithmetic (constants MEASURED in the r16 sf10 geometry profile,
    * tabled in SURVEY.md):
    *  - per-hyperplane grazing-edge agreement p = 0.866 at ε = 0.9
    *    (θ ≈ 0.42 rad);
    *  - equal-recall miss exponent E = tables × p^bits held at 11.38 —
    *    per-edge miss ≈ e^−11.38 ≈ 1e-5; tables(bits) = ⌈E / p^bits⌉
    *    reproduces ALL THREE measured r16 geometries exactly
    *    (12 → 64, 14 → 86, 16 → 114 tables);
    *  - bits(n) = round(log₂ n) − 1, clamped to [8, 18]: bucketing (map)
    *    cost grows ∝ tables·n while candidate-shuffle volume grows with
    *    bucket occupancy n/2^bits, so the optimum adds ~1 bit per corpus
    *    doubling. The offset is anchored at the measured sf10 winner and
    *    moved −3 → −1 in r17: the primitive-array SignProjectionHelper
    *    rewrite cut the bucketing pass ~2.4× (27.0 → 11.5 s at 14 × 86),
    *    which shifts the crossover two bits toward thinner buckets —
    *    same-day sf10 stage sums (bucket+cand+verify): 14 × 86 = 41.8 s,
    *    15 × 99 = 33.1 s, **16 × 114 = 30.6 s (KEPT)**, 17 × 132 = 35.2 s
    *    over-pays bucketing; identical 52,988 verified ε-edges at every
    *    point. sf0.1 is flat across 11/12/13 bits (Σ 2.9–3.5 s,
    *    overhead-bound, recall parity 1323 at each).
    * All measured geometries verified the IDENTICAL 52,988 ε-edges at
    * sf10 — recall parity measured, not assumed; with fixed hyperplane
    * seeds the outcome is DETERMINISTIC per corpus, and green at each
    * tested SF means zero edges were missed there.
    */
  private[graft] def dbscanLshGeometry(n: Long): (Int, Int) = {
    val p = 0.866
    val targetE = 11.38
    val bits = math.max(8, math.min(18,
      math.round(math.log(math.max(n, 2L).toDouble) / math.log(2.0)).toInt - 1))
    val tables = math.ceil(targetE / math.pow(p, bits)).toInt
    (bits, tables)
  }

  /** The same DBSCAN against the SAME oracle, but with the ε-graph from
    * the LSH-bucketed candidate generator ([[Similarity.nearDupPairsLsh]],
    * geometry auto-sized by [[dbscanLshGeometry]]) instead of the
    * all-pairs baseline — hash-green means the 100 TB candidate path
    * reproduces the exact decomposition edge-for-edge on this corpus. The
    * count that sizes the geometry is one bounded job over the
    * already-checkpointed base.
    */
  private def dbscanClustersLsh(s: SparkSession, dir: String): DataFrame = {
    val base = dbscanBase(s, dir)
    val (bits, tables) = dbscanLshGeometry(base.count())
    val pairs = Similarity.nearDupPairsLsh(base, threshold = 0.9,
      bits = bits, tables = tables)
    dbscanRollup(base, graft.functions.Dbscan.cluster(pairs, minPts = 6))
  }

  private val dbscanClustersSql =
    """WITH RECURSIVE raw AS (
      |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nv FROM raw),
      |spokes AS (
      |  SELECT h.vec_id + j.j * 100000 AS vec_id,
      |    list_transform(range(1, len(h.v) + 1),
      |      i -> h.v[i] + 0.40 * (h.nv / w.nv) * w.v[i]) AS v
      |  FROM n h JOIN range(1, 5) j(j) ON h.vec_id % 25 = 0
      |  JOIN n w ON w.vec_id = h.vec_id + j.j),
      |tights AS (
      |  SELECT h.vec_id + 400000 + j.j * 100000 AS vec_id,
      |    list_transform(h.v, x -> x * (1.0 + j.j * 0.0001) + j.j * 0.001) AS v
      |  FROM n h JOIN range(1, 3) j(j) ON h.vec_id % 25 = 0),
      |noisec AS (
      |  SELECT vec_id + 700000 AS vec_id, list_transform(v, x -> x * 1.001 + 0.01) AS v
      |  FROM n WHERE vec_id % 17 = 3 AND vec_id % 25 <> 0),
      |base AS (
      |  SELECT vec_id, v FROM n
      |  UNION ALL SELECT vec_id, v FROM spokes
      |  UNION ALL SELECT vec_id, v FROM tights
      |  UNION ALL SELECT vec_id, v FROM noisec),
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
      |      (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
      |       sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))), 6) AS cos
      |  FROM base a, base b WHERE a.vec_id < b.vec_id),
      |e AS (SELECT id_a, id_b FROM p WHERE cos >= 0.9),
      |sym AS (SELECT id_a AS id, id_b AS nbr FROM e UNION ALL SELECT id_b, id_a FROM e),
      |deg AS (SELECT id, COUNT(*) AS d FROM sym GROUP BY id),
      |core AS (SELECT id FROM deg WHERE d + 1 >= 6),
      |ce AS (SELECT s.id AS a, s.nbr AS b FROM sym s
      |       JOIN core c1 ON c1.id = s.id JOIN core c2 ON c2.id = s.nbr),
      |cc AS (SELECT id, id AS comp FROM core
      |       UNION
      |       SELECT ce.b, cc.comp FROM cc JOIN ce ON ce.a = cc.id),
      |asg AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
      |borders AS (
      |  SELECT s.id, MIN(asg.comp) AS comp
      |  FROM sym s JOIN asg ON asg.id = s.nbr
      |  WHERE s.id NOT IN (SELECT id FROM core)
      |  GROUP BY s.id),
      |members AS (
      |  SELECT id, comp, 1 AS is_core FROM asg
      |  UNION ALL SELECT id, comp, 0 FROM borders),
      |clusters AS (
      |  SELECT comp AS cluster_rep, CAST(SUM(is_core) AS BIGINT) AS n_core,
      |    CAST(SUM(1 - is_core) AS BIGINT) AS n_border,
      |    CAST(COUNT(*) AS BIGINT) AS n_members, CAST(SUM(id) AS BIGINT) AS sum_members
      |  FROM members GROUP BY comp),
      |noise AS (
      |  SELECT CAST(-1 AS BIGINT) AS cluster_rep, CAST(0 AS BIGINT) AS n_core,
      |    CAST(0 AS BIGINT) AS n_border, CAST(COUNT(*) AS BIGINT) AS n_members,
      |    CAST(SUM(vec_id) AS BIGINT) AS sum_members
      |  FROM base WHERE vec_id NOT IN (SELECT id FROM members))
      |SELECT * FROM clusters UNION ALL SELECT * FROM noise""".stripMargin

  private val embedNearDupSql =
    """WITH base AS (
      |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000,
      |    list_transform(embedding, x -> x::DOUBLE * 1.001::DOUBLE + 0.01::DOUBLE)
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])) /
      |      (sqrt(list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * a.e[i]))) *
      |       sqrt(list_sum(list_transform(range(1, len(b.e) + 1), i -> b.e[i] * b.e[i])))), 6) AS cos
      |  FROM base a, base b WHERE a.vec_id < b.vec_id),
      |d AS (SELECT DISTINCT id_b FROM p WHERE cos >= 0.99)
      |SELECT COUNT(*) AS n_survivors, CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id
      |FROM base WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.id_b = base.vec_id)""".stripMargin

  /** Multimodal frame sampling, oracle-checked: documents' text bytes stand
    * in for opaque media payloads (binary column); 64-byte frames at
    * 48-byte stride are sliced with codegen'd binary substring on both
    * engines and audited per source. Proves the byte-exact slicing plumbing
    * a real decoder would consume ([[graft.functions.Multimodal]]).
    */
  private def mmFrames(s: SparkSession, dir: String): DataFrame = {
    val media = Tables.documents(s, dir)
      .withColumn("media", encode(col("text"), "UTF-8"))
    media.select(col("source"), col("media"),
        graft.functions.Multimodal.frameSizes(col("media"), 64, 48).as("fs"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("fs")).cast("long")).as("n_frames"),
        sum(aggregate(col("fs"), lit(0L), (a, x) => a + x)).as("sum_frame_bytes"),
        sum(length(col("media")).cast("long")).as("sum_media_bytes"))
  }

  /** Distributed suffix-array construction
    * ([[graft.operators.SuffixArray]]: prefix doubling, token-granular,
    * 64-token comparison cap) over a three-source corpus slice, emitted as
    * the full (sa_rank, doc_id, pos) array and hash-compared against a
    * DuckDB oracle that simply sorts the capped joined suffixes — valid
    * because token-sequence order equals space-joined-string order on
    * ASCII tokens. The slice keeps the oracle's string sort tractable at
    * sf1 (~390k capped suffixes); the engine path is corpus-generic.
    */
  private def suffixArray(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("source").isin("src0", "src1", "src2"))
    graft.operators.SuffixArray.build(docs)
  }

  private val suffixArraySql =
    """WITH d AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
      |p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks FROM d),
      |s AS (SELECT doc_id, pos,
      |  array_to_string(list_slice(toks, pos, pos + 63), ' ') AS suf FROM p)
      |SELECT row_number() OVER (ORDER BY suf, doc_id, pos) AS sa_rank,
      |  doc_id, CAST(pos AS BIGINT) AS pos
      |FROM s""".stripMargin

  /** The suffix array put to WORK ([[graft.operators.SuffixArray
    * .dupWindowPositions]]): per-doc counts of positions hosting a
    * duplicated 10-token window, read off suffix-order ADJACENCY (all
    * suffixes sharing a 10-token prefix are consecutive in the array, so
    * one rank+1 self-join finds every duplicated window — the operational
    * dedup output of the exact index, Lee et al. 2021). Contract note:
    * counts ANY second occurrence (within-doc repeats included), unlike
    * the cross-doc-only rolling-hash rows — the oracle replays the
    * contract independently by grouping the joined window strings, not by
    * replaying suffix order, so hash-green proves the adjacency readout
    * equals the definitional "window occurs ≥2 times in the corpus" set.
    */
  private def suffixDupPositions(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .filter(col("source").isin("src0", "src1", "src2"))
      .select(col("doc_id"), col("text"))
    requireIdHeadroom(base, "doc_id", 1000000L)
    // injected copies of every 10th doc (the llm_ann/mm_phash convention):
    // a copy shares EVERY window with its original, so the row is
    // non-vacuous at any SF — the sf0.01 corpus has zero natural
    // duplicated 10-token windows — while natural dups still count
    val docs = base.unionByName(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    graft.operators.SuffixArray.dupWindowPositions(docs, k = 10)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_positions"), sum(col("pos")).as("sum_pos"))
  }

  private val suffixDupPositionsSql =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE source IN ('src0', 'src1', 'src2')),
      |dd AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM base WHERE doc_id % 10 = 0),
      |d AS (
      |  SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM dd),
      |w AS (SELECT doc_id, CAST(unnest(range(1, len(toks) - 10 + 2)) AS BIGINT) AS pos,
      |             toks FROM d WHERE len(toks) >= 10),
      |ws AS (SELECT doc_id, pos,
      |  array_to_string(list_slice(toks, pos, pos + 9), ' ') AS win FROM w),
      |dw AS (SELECT win FROM ws GROUP BY win HAVING COUNT(*) > 1)
      |SELECT ws.doc_id, COUNT(*) AS n_dup_positions,
      |  CAST(SUM(ws.pos) AS BIGINT) AS sum_pos
      |FROM ws JOIN dw USING (win) GROUP BY ws.doc_id""".stripMargin

  /** Perceptual-hash image near-dup, the multimodal twin of
    * `llm_simhash_neardup`: real PNG encode → REAL decode → 64-bit
    * average-hash ([[graft.functions.Multimodal.aHash64]]: 8×8 block means
    * vs global mean, integer-exact) → the SAME banded Hamming join the text
    * SimHash path uses ([[graft.functions.SimHash.nearDupPairsFromSketches]],
    * 8×8-bit bands, pigeonhole-complete at distance ≤ 7). The corpus'
    * closed-form rasters give natural near-dups (same-size images are
    * brightness shifts of each other), and both engines inject (a) exact
    * copies of every 40th-plus-20 image — they must land at distance 0 —
    * and (b) brightness+1 re-exposures of every 40th image — aHash is
    * brightness-invariant except where the +1 wraps 255→0, so these land at
    * small distances (all 13 within ≤ 7 on this corpus). Output is the
    * (distance, pairs, recovered-injected, Σid) histogram, hash-compared.
    *
    * Scale: encode/decode/hash are one batch-kernel pass (no shuffle);
    * only 16-byte (id, sketch) rows reach the band shuffle; the candidate
    * join is bucket-local. The oracle replays the raster closed-form and
    * builds the hash in HUGEINT space (DuckDB's `**` is float pow — exact
    * power-of-two ARRAYS are the repo's established workaround).
    */
  private def mmPhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    requireIdHeadroom(docs, "doc_id", 100000L)
    val originals = docs.select(col("doc_id").as("id"),
      col("doc_id").as("img_key"), lit(0L).as("bright"))
    val brightCopies = docs.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 100000L).as("id"),
        col("doc_id").as("img_key"), lit(1L).as("bright"))
    val exactCopies = docs.filter(col("doc_id") % 40 === 20)
      .select((col("doc_id") + 200000L).as("id"),
        col("doc_id").as("img_key"), lit(0L).as("bright"))
    val imgs = originals.unionByName(brightCopies).unionByName(exactCopies)
    val hashed = graft.functions.Multimodal.aHash64(
      graft.functions.Multimodal.encodePngBatchesKeyed(imgs, "img_key", "bright"))
    val sk = hashed.select(col("id"), col("ahash").as("sh"))
    SimHash.nearDupPairsFromSketches(sk, maxDist = 7)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("id_b") - col("id_a") === 100000L).cast("long")).as("n_bright_pairs"),
        sum((col("id_b") - col("id_a") === 200000L).cast("long")).as("n_exact_pairs"),
        sum(col("id_a")).as("sum_id_a"))
  }

  private val mmPhashNearDupSql = {
    def pow2Huge(n: Int, stepBits: Int): String =
      "[" + (0 until n).map(j => s"${BigInt(1) << (stepBits * j)}::HUGEINT").mkString(",") + "]"
    val pow64 = pow2Huge(64, 1)
    val pow8 = pow2Huge(8, 8)
    s"""WITH imgs AS (
       |  SELECT doc_id AS id, doc_id AS key, 0 AS bright FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000, doc_id, 1 FROM documents WHERE doc_id % 40 = 0
       |  UNION ALL
       |  SELECT doc_id + 200000, doc_id, 0 FROM documents WHERE doc_id % 40 = 20),
       |dims AS (SELECT id, key, bright, 1 + key % 64 AS w, 1 + key % 48 AS h FROM imgs),
       |nums AS (SELECT range AS v FROM range(0, 64)),
       |px AS (
       |  SELECT d.id,
       |    (y.v * 8) // d.h * 8 + (x.v * 8) // d.w AS b,
       |    ((x.v * 31 + y.v * 17 + d.key) % 256 + d.bright) % 256 AS v
       |  FROM dims d JOIN nums x ON x.v < d.w JOIN nums y ON y.v < d.h),
       |blocks AS (SELECT id, b, SUM(v) AS s, COUNT(*) AS n FROM px GROUP BY 1, 2),
       |tot AS (SELECT id, SUM(s) AS total, SUM(n) AS np FROM blocks GROUP BY id),
       |bits AS (
       |  SELECT blocks.id, b,
       |    CASE WHEN blocks.s * tot.np > tot.total * blocks.n THEN 1 ELSE 0 END AS bit
       |  FROM blocks JOIN tot USING (id)),
       |hu AS (
       |  SELECT id, SUM(CASE WHEN bit = 1 THEN ($pow64)[(b + 1)::INTEGER]
       |    ELSE 0::HUGEINT END) AS hu
       |  FROM bits GROUP BY id),
       |sk AS (
       |  SELECT id, CAST(CASE WHEN hu >= 9223372036854775808
       |    THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS sh, hu
       |  FROM hu),
       |banded AS (SELECT id, sh, hu, unnest(range(0, 8)) AS band FROM sk),
       |bchunk AS (SELECT id, sh, band,
       |  hu // ($pow8)[(band + 1)::INTEGER] % 256 AS chunk FROM banded),
       |p AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS dist
       |  FROM bchunk a JOIN bchunk b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.id < b.id
       |  WHERE bit_count(xor(a.sh, b.sh)) <= 7)
       |SELECT dist, COUNT(*) AS n_pairs,
       |  CAST(SUM(CASE WHEN id_b - id_a = 100000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_bright_pairs,
       |  CAST(SUM(CASE WHEN id_b - id_a = 200000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_exact_pairs,
       |  CAST(SUM(id_a) AS BIGINT) AS sum_id_a
       |FROM p GROUP BY dist""".stripMargin
  }

  /** DuckDB cannot substring BLOBs, so the oracle slices the VARCHAR — the
    * documents corpus is pure ASCII (verified: length = octet_length for
    * every row), making character slicing byte-identical to the Spark
    * side's real binary slicing; non-ASCII data would hash-mismatch loudly.
    */
  private val mmFramesSql =
    """WITH f AS (
      |  SELECT source, text,
      |    list_transform(
      |      range(0, (greatest(length(text) - 1, 0) // 48) + 1),
      |      i -> length(substring(text, (i * 48 + 1)::INTEGER, 64))) AS fs
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(fs)) AS BIGINT) AS n_frames,
      |  CAST(SUM(list_sum(fs)) AS BIGINT) AS sum_frame_bytes,
      |  CAST(SUM(length(text)) AS BIGINT) AS sum_media_bytes
      |FROM f GROUP BY source""".stripMargin

  /** REAL PNG decode, oracle-checked end-to-end: each doc_id becomes a
    * genuine PNG (javax.imageio encode) with closed-form dimensions and
    * pixels; [[graft.functions.Multimodal.decodeImages]] decodes it back
    * through the real codec and the DuckDB oracle recomputes the expected
    * width/height/pixel-sum arithmetically. A wrong header parse, raster
    * read, or channel order hash-mismatches loudly.
    */
  private def mmPng(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("source"), col("doc_id"))
    val decoded = graft.functions.Multimodal.decodeImages(
      graft.functions.Multimodal.encodePngBatches(docs))
    decoded.groupBy(col("source")).agg(
      count(lit(1)).as("n_imgs"),
      sum(col("img_width").cast("long")).as("sum_width"),
      sum(col("img_height").cast("long")).as("sum_height"),
      sum(col("pix_sum")).as("sum_pix"))
  }

  private val mmPngSql =
    """WITH d AS (
      |  SELECT source, doc_id, 1 + doc_id % 64 AS w, 1 + doc_id % 48 AS h
      |  FROM documents),
      |nums AS (SELECT range AS v FROM range(0, 64)),
      |px AS (
      |  SELECT d.source, d.doc_id, d.w, d.h,
      |    SUM((x.v * 31 + y.v * 17 + d.doc_id) % 256) AS pixsum
      |  FROM d JOIN nums x ON x.v < d.w JOIN nums y ON y.v < d.h
      |  GROUP BY 1, 2, 3, 4)
      |SELECT source, COUNT(*) AS n_imgs, CAST(SUM(w) AS BIGINT) AS sum_width,
      |  CAST(SUM(h) AS BIGINT) AS sum_height, CAST(SUM(pixsum) AS BIGINT) AS sum_pix
      |FROM px GROUP BY source""".stripMargin

  /** REAL image resize, oracle-checked end-to-end: the closed-form PNGs
    * are box-downsampled by 2 through the full decode → integer-raster
    * transform → re-encode kernel ([[graft.functions.Multimodal
    * .resizeImages]]), then the RESIZED payloads are decoded again through
    * the real codec and audited per source. The DuckDB oracle recomputes
    * every output pixel arithmetically — floor-average over each 2×2 block
    * (edge blocks over the pixels present) of `(x·31 + y·17 + id) mod 256`
    * — so a wrong block bound, a rounding drift, or a recompression bug
    * anywhere in decode/resize/encode/decode hash-mismatches loudly.
    */
  private def mmResize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("source"), col("doc_id"))
    val resized = graft.functions.Multimodal.resizeImages(
      graft.functions.Multimodal.encodePngBatches(docs), 2)
    val decoded = graft.functions.Multimodal.decodeImages(
      resized.drop("media").withColumnRenamed("resized", "media"))
    decoded.groupBy(col("source")).agg(
      count(lit(1)).as("n_imgs"),
      sum(col("img_width").cast("long")).as("sum_width"),
      sum(col("img_height").cast("long")).as("sum_height"),
      sum(col("pix_sum")).as("sum_pix"))
  }

  private val mmResizeSql =
    """WITH d AS (
      |  SELECT source, doc_id, 1 + doc_id % 64 AS w, 1 + doc_id % 48 AS h
      |  FROM documents),
      |nums AS (SELECT range AS v FROM range(0, 64)),
      |blk AS (
      |  SELECT d.source, d.doc_id, x.v // 2 AS xo, y.v // 2 AS yo,
      |    SUM((x.v * 31 + y.v * 17 + d.doc_id) % 256) AS s, COUNT(*) AS c
      |  FROM d JOIN nums x ON x.v < d.w JOIN nums y ON y.v < d.h
      |  GROUP BY 1, 2, 3, 4),
      |o AS (SELECT source, doc_id, SUM(s // c) AS rpix FROM blk GROUP BY 1, 2)
      |SELECT d.source, COUNT(*) AS n_imgs,
      |  CAST(SUM((d.w + 1) // 2) AS BIGINT) AS sum_width,
      |  CAST(SUM((d.h + 1) // 2) AS BIGINT) AS sum_height,
      |  CAST(SUM(o.rpix) AS BIGINT) AS sum_pix
      |FROM d JOIN o USING (doc_id) GROUP BY d.source""".stripMargin

  /** The training-corpus pipeline END-TO-END, hash-checked as one flow:
    * quality gate (score ≥ 0.3) → language ID → exact content dedup →
    * LSH-candidate + exact-Jaccard-verified fuzzy dedup → per-language
    * corpus stats. Each stage is individually oracled elsewhere
    * ([[quality]], [[dedup]], [[minhashVerified]], [[stats]]); this row
    * proves they COMPOSE — the DuckDB oracle replays the whole funnel over
    * the same corpus, so a stage-ordering or column-propagation bug that
    * every per-stage check would miss goes red here.
    */
  private def corpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val kept = docs
      .withColumn("pred_lang", TextOps.langId(col("text")))
      .filter(TextOps.qualityScore(col("text")) >= 0.3)
    val exact = TextOps.dedupExact(kept)
    val fuzzy = MinHash.dedupFuzzyVerified(exact, MinHash.candidatePairs(exact))
    fuzzy.groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("sum_tokens"))
  }

  private val corpusPipelineSql = {
    val en = TextOps.stopwords.head._2.map(w => s"'$w'").mkString(", ")
    val langCases = TextOps.stopwords.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"struct_pack(score := len(list_filter(toks, t -> t IN ($lst)))::DOUBLE / greatest(len(toks), 1), lang := '$lang')"
    }.mkString(",\n      ")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, text, norm, toks,
       |    list_sort([
       |      $langCases
       |    ])[-1] AS best,
       |    CASE WHEN len(list_filter(toks, t -> t SIMILAR TO '\\S+')) BETWEEN 5 AND 100000
       |      THEN 1.0 ELSE 0.0 END *
       |    (0.5 * (length(text) - length(regexp_replace(text, '[a-zA-Z ]', '', 'g')))::DOUBLE / greatest(length(text), 1) +
       |     0.5 * least(len(list_filter(toks, t -> t IN ($en)))::DOUBLE / greatest(len(toks), 1) * 5, 1.0)) AS q
       |  FROM base),
       |kept AS (
       |  SELECT doc_id, text, norm,
       |    CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS pred_lang
       |  FROM scored WHERE q >= 0.3),
       |exact AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
       |    FROM kept) WHERE rn = 1),
       |sh AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(string_split(norm, ' ')) <= 3 THEN [norm]
       |         ELSE list_transform(range(1, len(string_split(norm, ' ')) - 1),
       |           i -> array_to_string(list_slice(string_split(norm, ' '), i, i + 2), ' '))
       |    END) AS sh
       |  FROM exact),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.sh, b.sh)) AS ni,
       |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS nu
       |  FROM sh a, sh b WHERE a.doc_id < b.doc_id),
       |dup AS (SELECT DISTINCT id_b FROM p WHERE ni::DOUBLE / nu >= 0.8)
       |SELECT pred_lang, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       |  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE length(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS sum_tokens
       |FROM exact
       |WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.id_b = exact.doc_id)
       |GROUP BY pred_lang""".stripMargin
  }

  /** REAL WAV decode, oracle-checked end-to-end: each doc_id becomes a
    * genuine RIFF/WAVE payload (javax.sound.sampled encode) with
    * closed-form PCM samples; [[graft.functions.Multimodal.decodeAudio]]
    * decodes it back through the real codec and the DuckDB oracle
    * recomputes the expected sample counts and amplitude sums
    * arithmetically. A wrong chunk parse, sample width, or endianness
    * hash-mismatches loudly.
    */
  private def mmWav(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("source"), col("doc_id"))
    val decoded = graft.functions.Multimodal.decodeAudio(
      graft.functions.Multimodal.encodeWavBatches(docs))
    decoded.groupBy(col("source")).agg(
      count(lit(1)).as("n_clips"),
      sum(col("wav_sample_rate").cast("long")).as("sum_rate"),
      sum(col("wav_n_samples")).as("sum_samples"),
      sum(col("sample_sum")).as("sum_amplitude"))
  }

  private val mmWavSql =
    """WITH d AS (
      |  SELECT source, doc_id, 1 + doc_id % 1000 AS n FROM documents),
      |s AS (
      |  SELECT source, doc_id, n,
      |    list_sum(list_transform(range(0, n),
      |      i -> (i * 7 + doc_id) % 65536 - 32768)) AS amp
      |  FROM d)
      |SELECT source, COUNT(*) AS n_clips,
      |  CAST(SUM(8000) AS BIGINT) AS sum_rate,
      |  CAST(SUM(n) AS BIGINT) AS sum_samples,
      |  CAST(SUM(amp) AS BIGINT) AS sum_amplitude
      |FROM s GROUP BY source""".stripMargin

  /** REAL audio downsample, oracle-checked end-to-end: the closed-form WAV
    * payloads are block-average decimated by 2 through the full decode →
    * signed-PCM transform → re-encode kernel ([[graft.functions.Multimodal
    * .downsampleAudio]]), then the DOWNSAMPLED payloads are decoded again
    * through the real codec and audited per source. The DuckDB oracle
    * recomputes every output sample arithmetically — truncated-toward-zero
    * average over each 2-sample block (the tail block over the samples
    * present) of `((i·7 + id) mod 65536) − 32768` — so a wrong block
    * bound, a signedness bug, or a rate-header drift anywhere in
    * decode/downsample/encode/decode hash-mismatches loudly.
    */
  private def mmAudioDs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("source"), col("doc_id"))
    val down = graft.functions.Multimodal.downsampleAudio(
      graft.functions.Multimodal.encodeWavBatches(docs), 2)
    val decoded = graft.functions.Multimodal.decodeAudio(
      down.drop("media").withColumnRenamed("downsampled", "media"))
    decoded.groupBy(col("source")).agg(
      count(lit(1)).as("n_clips"),
      sum(col("wav_sample_rate").cast("long")).as("sum_rate"),
      sum(col("wav_n_samples")).as("sum_samples"),
      sum(col("sample_sum")).as("sum_amplitude"))
  }

  private val mmAudioDsSql =
    """WITH d AS (
      |  SELECT source, doc_id, 1 + doc_id % 1000 AS n FROM documents),
      |blk AS (
      |  SELECT d.source, d.doc_id, d.n, g.i // 2 AS j,
      |    SUM((g.i * 7 + d.doc_id) % 65536 - 32768) AS s, COUNT(*) AS c
      |  FROM d, UNNEST(range(0, d.n)) AS g(i)
      |  GROUP BY 1, 2, 3, 4),
      |o AS (SELECT source, doc_id, n, SUM(s // c) AS amp FROM blk GROUP BY 1, 2, 3)
      |SELECT source, COUNT(*) AS n_clips,
      |  CAST(SUM(4000) AS BIGINT) AS sum_rate,
      |  CAST(SUM((n + 1) // 2) AS BIGINT) AS sum_samples,
      |  CAST(SUM(amp) AS BIGINT) AS sum_amplitude
      |FROM o GROUP BY source""".stripMargin

  /** Winnowing fingerprint summary over the production xxhash64 k-gram
    * hash — oracle-checked since round 9 ([[LlmHashOracles.fingerprintsSql]]
    * replays every gram hash and window minimum in DuckDB).
    */
  private def fingerprints(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_fp", size(TextOps.winnowFingerprints(col("text"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_fp").cast("long")).as("sum_fingerprints"))

  /** Winnowing with the engine-portable polynomial hash, oracle-checked
    * per document: DuckDB recomputes every k-gram hash, window minimum,
    * and the distinct fingerprint set, then compares count + value
    * checksum row by row — the gram→window-min→distinct winnowing pipeline
    * itself is externally verified (the xxhash64 production variant shares
    * every line but the hash). Portability caveat: Spark `ascii()` and
    * DuckDB `ord()` agree on ASCII only (ord is a Unicode code point) — the
    * documents corpus is pure ASCII (verified, see [[mmFramesSql]]);
    * non-ASCII data would hash-mismatch loudly rather than silently pass.
    */
  private def fingerprintsPoly(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("fp", TextOps.winnowFingerprintsPoly(col("text")))
      .select(col("doc_id"), size(col("fp")).as("n_fp"),
        aggregate(transform(col("fp"), x => pmod(x, lit(1000003L))),
          lit(0L), (a, x) => a + x).as("fp_sum"))

  private val fingerprintsPolySql =
    """WITH d AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(length(t) - 7, 1) + 1),
      |      i -> CAST(list_sum(list_transform(range(0, 8),
      |        j -> (CASE WHEN i + j <= length(t)
      |               THEN ord(substring(t, (i + j)::INTEGER, 1)) ELSE 0 END) *
      |             [27512614111, 887503681, 28629151, 923521, 29791, 961, 31, 1][(j + 1)::INTEGER]))
      |        AS BIGINT)) AS grams
      |  FROM d),
      |w AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(0, greatest(len(grams) - 4, 0) + 1),
      |      i -> list_min(list_slice(grams, (i + 1)::INTEGER, (i + 4)::INTEGER)))) AS fp
      |  FROM g)
      |SELECT doc_id, CAST(len(fp) AS INTEGER) AS n_fp,
      |  CAST(list_sum(list_transform(fp, x -> x % 1000003)) AS BIGINT) AS fp_sum
      |FROM w""".stripMargin

  /** J3 — as-of join: each event picks the latest 1-second candle at or
    * before it, per symbol (union-window form, one shuffle). DuckDB oracle
    * uses its native ASOF JOIN.
    */
  private def asof(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.ticks(s, dir)
    val candles = graft.operators.CandleAggregator.aggregate(t)
      .select(col("symbol"), col("timestamp"), col("close").as("candle_close"))
    val events = t.select(col("symbol"), col("timestamp"), col("price"), col("seq"))
    graft.operators.AsOfJoin.asOf(events, candles, "symbol", "timestamp", Seq("candle_close"))
      .select(col("symbol"), graft.queries.Det.tsMicros(col("timestamp")).as("ts"),
        col("price"), col("seq"), col("candle_close"))
  }

  private val asofSql =
    """WITH ticks AS (
      |  SELECT event_type AS symbol, ts::TIMESTAMP AS tstamp, value AS price,
      |         CAST(user_id + 1 AS DOUBLE) AS volume, event_id AS seq
      |  FROM events),
      |candles AS (
      |  SELECT symbol, min(tstamp) AS tstamp, arg_max(price, tstamp) AS close
      |  FROM ticks GROUP BY symbol, date_trunc('second', tstamp))
      |SELECT t.symbol, strftime(t.tstamp, '%Y-%m-%d %H:%M:%S.%f') AS ts, t.price, t.seq,
      |  c.close AS candle_close
      |FROM ticks t ASOF LEFT JOIN candles c
      |  ON t.symbol = c.symbol AND t.tstamp >= c.tstamp""".stripMargin

  /** Incremental (delta-batch) dedup against an INDEXED corpus — the
    * continuous-ingestion shape: a production pipeline never re-dedups
    * 100 TB per arrival; it keeps (a) an exact-fingerprint index and (b) a
    * banded MinHash index of the admitted corpus, and each new batch joins
    * against both. Here corpus = `doc_id % 5 ≠ 0`, batch = `doc_id % 5 = 0`
    * plus injected near-dups (every corpus doc with `doc_id % 50 = 1`
    * re-arrives as `id+2 000 000` with a 3-token suffix appended — a
    * near-dup that exact hashing CANNOT catch, Jaccard ≈ (T−2)/(T+1)).
    *
    * Classification per batch doc, priority-ordered and exclusive:
    *  1. `exact_corpus` — normalized-content fingerprint already indexed
    *     ([[TextOps.fingerprint]] semi-join);
    *  2. `near_corpus`  — an LSH band probe into the corpus band index
    *     ([[MinHash.crossCandidatePairs]]) yields a candidate whose EXACT
    *     shingle-set Jaccard ≥ 0.7;
    *  3. `batch_dup`    — an earlier (smaller-id) doc in the SAME batch has
    *     the same fingerprint (keep-first within the delta);
    *  4. `admitted`.
    * Within-batch NEAR dedup is deliberately out of scope here — that is
    * the standing self-join pass (`llm_minhash_dedup`); this row pins the
    * batch-vs-index halves that only exist in incremental operation.
    *
    * The oracle replays the full production pipeline — xxhash64 shingles,
    * affine signatures, Murmur3 band keys, band join, exact-Jaccard verify
    * — via [[OracleHash]], so the candidate SET (not an idealized all-pairs
    * stand-in) is what the gate hash-checks.
    */
  private def incrementalFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    requireIdHeadroom(docs, "doc_id", 2000000L)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("text"), col("source"))
    val injected = corpus.filter(col("doc_id") % 50 === 1)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" zqx zqy zqz")).as("text"), col("source"))
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), col("source"))
      .unionByName(injected)
    (corpus, batch)
  }

  /** Shared classification/aggregate tail of the incremental-dedup rows:
    * `cand` supplies the (probe id_a, corpus id_b) band candidates, and
    * `fpIndex` optionally supplies a PREBUILT distinct-fingerprint index
    * (the bucketed variant persists it next to the band index, so a batch
    * admission re-scans the corpus for NEITHER leg) — the stages the two
    * variants build differently.
    */
  private def incrementalClassify(batch: DataFrame, corpus: DataFrame,
                                  cand: DataFrame,
                                  fpIndex: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (a) exact-fingerprint index probe: 32-byte keys, uniform shuffle
    val corpusFp = fpIndex.getOrElse(
      corpus.select(TextOps.fingerprint(col("text")).as("fp")).distinct())
    val exactIds = batch.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .join(corpusFp, Seq("fp"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(true))

    // (b) band candidates + exact-Jaccard verify (candidate-bound)
    val nearIds = MinHash.withExactJaccard(cand, batch.unionByName(corpus))
      .filter(col("jaccard") >= 0.7)
      .select(col("id_a").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))

    // (c) keep-first within the delta itself
    val wB = Window.partitionBy(col("__bfp")).orderBy(col("doc_id"))
    val flagged = batch
      .withColumn("__bfp", TextOps.fingerprint(col("text")))
      .withColumn("is_bdup", row_number().over(wB) > 1)
      .drop("__bfp")

    flagged
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .withColumn("cls",
        when(col("is_exact"), "exact_corpus")
          .when(col("is_near"), "near_corpus")
          .when(col("is_bdup"), "batch_dup")
          .otherwise("admitted"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_batch"),
        count(when(col("cls") === "exact_corpus", 1)).as("n_exact_corpus"),
        count(when(col("cls") === "near_corpus", 1)).as("n_near_corpus"),
        count(when(col("cls") === "batch_dup", 1)).as("n_batch_dup"),
        count(when(col("cls") === "admitted", 1)).as("n_admitted"),
        sum(when(col("cls") === "admitted", col("doc_id"))).as("sum_admitted_ids"))
  }

  private def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val (corpus, batch) = incrementalFrames(s, dir)
    incrementalClassify(batch, corpus, MinHash.crossCandidatePairs(batch, corpus))
  }

  /** [[incrementalDedup]] with the corpus band index PERSISTED as a
    * catalog-backed table bucketed on the packed band key — the production
    * 100 TB shape the in-session variant only gestures at: the index's
    * shuffle is paid ONCE at ingest ([[graft.sources.Sinks.writeBucketed]],
    * the `layout_bucketed_join` path), and every delta batch thereafter
    * probes it with ZERO exchange on the index side — only the batch's own
    * bands shuffle into the index's bucketing (pinned in `PlanSpec`). Same
    * candidate set, same classification, same oracle as
    * `llm_incremental_dedup`; at a real 100 TB corpus the index table is
    * also sorted within buckets and the probe degrades gracefully to a
    * merge of pre-sorted co-located files. Here the write happens in-row so
    * the gate checks the whole write→catalog→probe path end-to-end.
    */
  /** Catalog names for the persisted dedup indexes, suffixed with a
    * per-JVM + per-dataset discriminator (r16 advice): two processes
    * sharing one warehouse (a Verify dump and a Bench run, parallel SF
    * sweeps) previously overwrote the same fixed global names mid-query —
    * wrong candidates, not an error. The pid suffix isolates concurrent
    * writers; the dir-hash suffix keeps SF sweeps within one JVM from
    * trampling each other. Stale suffixed tables from finished runs are
    * inert (SaveMode.Overwrite replaces them on reuse).
    */
  private[graft] def indexTableNames(dir: String): (String, String) = {
    val tag = java.lang.Long.toHexString(
      (dir.hashCode.toLong << 20) ^ ProcessHandle.current().pid())
    (s"llm_band_index_b_$tag", s"llm_fp_index_b_$tag")
  }

  private def incrementalDedupBucketed(s: SparkSession, dir: String): DataFrame = {
    val (corpus, batch) = incrementalFrames(s, dir)
    val (bandTable, fpTable) = indexTableNames(dir)
    graft.sources.Sinks.writeBucketed(
      MinHash.bandKeys(corpus), bandTable, 32, Seq("bk"))
    // the exact-fingerprint index persists the same way (32-byte keys,
    // bucketed on fp): with BOTH indexes in the catalog, admitting a batch
    // re-scans the corpus for NEITHER leg — the verify stage re-shingles
    // only docs that appear in a candidate pair (semi-join bound)
    graft.sources.Sinks.writeBucketed(
      corpus.select(TextOps.fingerprint(col("text")).as("fp")).distinct(),
      fpTable, 32, Seq("fp"))
    val cand = MinHash.bandKeys(batch).select(col("bk"), col("id").as("id_a"))
      .join(s.table(bandTable).select(col("bk"), col("id").as("id_b")), "bk")
      .select(col("id_a"), col("id_b")).distinct()
    incrementalClassify(batch, corpus, cand, Some(s.table(fpTable)))
  }

  private val incrementalDedupSql = {
    val Prime = 2038074743L
    val (as, bs) = MinHash.affineCoeffs(128)
    val aArr = "[" + as.mkString(",") + "]"
    val bArr = "[" + bs.mkString(",") + "]"
    val (chain, last, hsg, _) = OracleHash.xxh64String("shrow", "ix")
    val elems = (1 to 8).map(i => s"sig[band * 8 + $i]")
    val (mmChain, mmLast, bh) = OracleHash.murmur3LongArray("bandrow", "im", elems)
    s"""WITH corpus AS MATERIALIZED (
       |  SELECT doc_id, text, source FROM documents WHERE doc_id % 5 <> 0),
       |batch AS MATERIALIZED (
       |  SELECT doc_id, text, source FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, text || ' zqx zqy zqz', source
       |  FROM corpus WHERE doc_id % 50 = 1),
       |alls AS (SELECT doc_id, text FROM corpus UNION ALL SELECT doc_id, text FROM batch),
       |dm AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t FROM alls),
       |shl AS (SELECT doc_id,
       |    CASE WHEN len(ss) <= 3 THEN [t]
       |         ELSE list_transform(range(1, len(ss) - 1),
       |           i -> array_to_string(list_slice(ss, i, i + 2), ' ')) END AS sh
       |  FROM (SELECT doc_id, t, string_split(t, ' ') AS ss FROM dm)),
       |shrow AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM shl),
       |$chain,
       |hm AS (SELECT doc_id, (($hsg % $Prime) + $Prime) % $Prime AS h FROM $last),
       |hset AS MATERIALIZED (SELECT doc_id, list(DISTINCT h) AS hs FROM hm GROUP BY doc_id),
       |sigs AS MATERIALIZED (SELECT doc_id,
       |  list_transform(range(0, 128),
       |    q -> list_min(list_transform(hs, h -> ($aArr[(q + 1)::INTEGER] * h + $bArr[(q + 1)::INTEGER]) % $Prime))) AS sig
       |  FROM hset),
       |bandrow AS (SELECT doc_id, sig, unnest(range(0, 16)) AS band FROM sigs),
       |$mmChain,
       |bkey AS MATERIALIZED (SELECT doc_id, band, $bh AS bh FROM $mmLast),
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bkey a JOIN bkey b ON a.band = b.band AND a.bh = b.bh
       |  WHERE a.doc_id IN (SELECT doc_id FROM batch)
       |    AND b.doc_id IN (SELECT doc_id FROM corpus)),
       |near AS MATERIALIZED (SELECT DISTINCT id_a FROM cand
       |  JOIN hset ha ON ha.doc_id = id_a JOIN hset hb ON hb.doc_id = id_b
       |  WHERE len(list_intersect(ha.hs, hb.hs))::DOUBLE /
       |    (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) >= 0.7),
       |bn AS MATERIALIZED (SELECT doc_id, source,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t FROM batch),
       |cnorm AS (SELECT DISTINCT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM corpus),
       |ex AS MATERIALIZED (SELECT DISTINCT bn.doc_id FROM bn JOIN cnorm ON bn.t = cnorm.t),
       |bd AS (SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY t ORDER BY doc_id) AS rn FROM bn)
       |  WHERE rn > 1),
       |cls AS (SELECT bn.doc_id, bn.source,
       |  CASE WHEN bn.doc_id IN (SELECT doc_id FROM ex) THEN 'exact_corpus'
       |       WHEN bn.doc_id IN (SELECT id_a FROM near) THEN 'near_corpus'
       |       WHEN bn.doc_id IN (SELECT doc_id FROM bd) THEN 'batch_dup'
       |       ELSE 'admitted' END AS c
       |  FROM bn)
       |SELECT source, COUNT(*) AS n_batch,
       |  CAST(SUM(CASE WHEN c = 'exact_corpus' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_corpus,
       |  CAST(SUM(CASE WHEN c = 'near_corpus' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_corpus,
       |  CAST(SUM(CASE WHEN c = 'batch_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_batch_dup,
       |  CAST(SUM(CASE WHEN c = 'admitted' THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       |  CAST(SUM(CASE WHEN c = 'admitted' THEN doc_id END) AS BIGINT) AS sum_admitted_ids
       |FROM cls GROUP BY source""".stripMargin
  }

  /** Survivor-selection policy per duplicate cluster: CC clusters from the
    * verified near-dup graph (same edges as `llm_dup_clusters`), canonical
    * member = highest [[TextOps.qualityScore]], ties to the smallest
    * doc_id — "keep the best copy", the policy real pipelines apply
    * instead of keep-min-id (a near-dup cluster often mixes a clean
    * original with mangled re-crawls; id order is arbitrary, quality is
    * not). One extra broadcast-sized join + a struct-max aggregate on top
    * of the cluster map; the quality bucket is emitted floor(q·10) exactly
    * as `llm_quality_langid` pins it.
    *
    * Oracle-recall assumption (shared with `llm_dup_clusters`): the engine
    * edge set is LSH-band CANDIDATES verified at exact Jaccard ≥ 0.8, while
    * both oracles enumerate ALL pairs at true Jaccard ≥ 0.8. A true pair
    * sitting exactly at J = 0.8 has ≈5% chance of missing all 16 bands;
    * the gate is green because the TESTDATA duplicate pairs are exact or
    * high-J (band recall ≈ 1 well above the threshold), not because band
    * recall is 1 in general. On adversarial fixtures the oracle would need
    * to replay the band-candidate set first (as `llm_incremental_dedup`'s
    * oracle already does) before the exact-Jaccard filter.
    */
  private def clusterCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val edges = MinHash.withExactJaccard(MinHash.candidatePairs(docs), docs)
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val comp = graft.operators.ConnectedComponents.components(edges)
    comp.join(
        docs.select(col("doc_id").as("id"), TextOps.qualityScore(col("text")).as("q")),
        Seq("id"))
      .groupBy(col("component").as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q"), (-col("id")).as("nid"))).as("best"),
        sum(col("id")).as("sum_members"))
      .select(col("cluster_rep"), col("n_members"),
        (-col("best.nid")).as("canonical_doc_id"),
        floor(col("best.q") * 10).cast("int").as("canonical_q_bucket"),
        (col("sum_members") + col("best.nid")).as("sum_discarded_ids"))
  }

  private val clusterCanonicalSql = {
    val en = TextOps.stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    CASE WHEN len(string_split(norm, ' ')) <= 3 THEN [norm]
       |         ELSE list_transform(range(1, len(string_split(norm, ' ')) - 1),
       |           i -> array_to_string(list_slice(string_split(norm, ' '), i, i + 2), ' '))
       |    END AS sh
       |  FROM d),
       |ds AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    len(list_intersect(a.sh, b.sh)) AS ni,
       |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS nu
       |  FROM ds a, ds b WHERE a.doc_id < b.doc_id),
       |e AS (SELECT id_a, id_b FROM p WHERE ni::DOUBLE / nu >= 0.8),
       |sym AS (SELECT id_a AS a, id_b AS b FROM e
       |        UNION ALL SELECT id_b, id_a FROM e),
       |nodes AS (SELECT DISTINCT a AS id FROM sym),
       |cc AS (SELECT id, id AS comp FROM nodes
       |       UNION
       |       SELECT sy.b, cc.comp FROM cc JOIN sym sy ON sy.a = cc.id),
       |asg AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
       |q AS (SELECT doc_id,
       |    CASE WHEN len(list_filter(toks, t -> t SIMILAR TO '\\S+')) BETWEEN 5 AND 100000
       |      THEN 1.0 ELSE 0.0 END *
       |    (0.5 * (length(text) - length(regexp_replace(text, '[a-zA-Z ]', '', 'g')))::DOUBLE / greatest(length(text), 1) +
       |     0.5 * least(len(list_filter(toks, t -> t IN ($en)))::DOUBLE / greatest(len(toks), 1) * 5, 1.0)) AS q
       |  FROM (SELECT doc_id, text,
       |      string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |    FROM documents)),
       |r AS (SELECT asg.comp, asg.id, q.q,
       |    row_number() OVER (PARTITION BY asg.comp ORDER BY q.q DESC, asg.id ASC) AS rn
       |  FROM asg JOIN q ON q.doc_id = asg.id)
       |SELECT comp AS cluster_rep, COUNT(*) AS n_members,
       |  CAST(MAX(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS canonical_doc_id,
       |  CAST(floor(MAX(CASE WHEN rn = 1 THEN q END) * 10) AS INTEGER) AS canonical_q_bucket,
       |  CAST(SUM(id) - MAX(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS sum_discarded_ids
       |FROM r GROUP BY comp""".stripMargin
  }

  /** SUBSTRING-level dedup ([[graft.functions.SubstringDedup]]): per-doc
    * stats over cross-document duplicated 10-token windows — total windows,
    * duplicated windows, and tokens covered by the merged duplicated spans.
    * Only docs with at least one duplicated window appear. The engine's
    * shuffle is hash-bound (8-byte keys) with exact string verification on
    * candidates only; the oracle groups the window strings directly — same
    * pair semantics, engine-independent.
    */
  private def substringDedup(s: SparkSession, dir: String): DataFrame =
    graft.functions.SubstringDedup.crossDocDupStats(Tables.documents(s, dir))

  /** Maximal cross-document duplicated spans (token coordinates): the list
    * a trim pass would cut. Gaps-and-islands merge of adjacent duplicated
    * windows, per document.
    */
  private def substringSpans(s: SparkSession, dir: String): DataFrame =
    graft.functions.SubstringDedup.spans(Tables.documents(s, dir))

  /** Shared oracle prefix: every 10-token sliding window of the normalized
    * text (1-based start pos), then windows seen in >= 2 distinct docs
    * (min(doc_id) <> max(doc_id) — exactly the engine's distinctness test),
    * then gaps-and-islands span merge. Parallel unnest of two equal-length
    * lists zips in DuckDB, giving (pos, win) pairs without a lateral join.
    */
  private val substringSpanCtes =
    """WITH d AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |  FROM documents),
      |t AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM d),
      |w0 AS (SELECT doc_id, list_transform(range(1, len(toks) - 10 + 2),
      |         i -> array_to_string(list_slice(toks, i, i + 9), ' ')) AS wins
      |       FROM t WHERE len(toks) >= 10),
      |w AS (SELECT doc_id, CAST(unnest(range(1, len(wins) + 1)) AS BIGINT) AS pos,
      |             unnest(wins) AS win FROM w0),
      |dw AS (SELECT win FROM w GROUP BY win HAVING min(doc_id) <> max(doc_id)),
      |dp AS (SELECT w.doc_id, w.pos FROM w JOIN dw USING (win)),
      |isl AS (SELECT doc_id, pos,
      |    sum(CASE WHEN prev IS NULL OR pos - prev > 10 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM (SELECT doc_id, pos,
      |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM dp)),
      |sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end,
      |    count(*) AS n_windows_in_span
      |  FROM isl GROUP BY doc_id, island)""".stripMargin

  private val substringDedupSql = substringSpanCtes +
    """,
      |tot AS (SELECT doc_id, len(toks) - 9 AS n_windows FROM t
      |        WHERE len(toks) >= 10)
      |SELECT s.doc_id, CAST(tot.n_windows AS BIGINT) AS n_windows,
      |  CAST(sum(s.n_windows_in_span) AS BIGINT) AS n_dup_windows,
      |  CAST(sum(s.span_end - s.span_start + 1) AS BIGINT) AS dup_span_tokens
      |FROM sp s JOIN tot USING (doc_id)
      |GROUP BY s.doc_id, tot.n_windows""".stripMargin

  private val substringSpansSql = substringSpanCtes +
    """
      |SELECT doc_id, span_start, span_end, n_windows_in_span FROM sp""".stripMargin

  /** Canonical-owner trim stats ([[graft.functions.SubstringDedup.trimStats]]):
    * for each duplicated window the min doc_id keeps its copy; everyone
    * else's occurrence is removable, and tokens_removed is the interval
    * union of the removable windows' token ranges.
    */
  private def substringTrim(s: SparkSession, dir: String): DataFrame =
    graft.functions.SubstringDedup.trimStats(Tables.documents(s, dir))

  private val substringTrimSql =
    """WITH d AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |  FROM documents),
      |t AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM d),
      |w0 AS (SELECT doc_id, list_transform(range(1, len(toks) - 10 + 2),
      |         i -> array_to_string(list_slice(toks, i, i + 9), ' ')) AS wins
      |       FROM t WHERE len(toks) >= 10),
      |w AS (SELECT doc_id, CAST(unnest(range(1, len(wins) + 1)) AS BIGINT) AS pos,
      |             unnest(wins) AS win FROM w0),
      |dwo AS (SELECT win, min(doc_id) AS owner FROM w GROUP BY win
      |        HAVING min(doc_id) <> max(doc_id)),
      |rp AS (SELECT w.doc_id, w.pos FROM w JOIN dwo USING (win)
      |       WHERE w.doc_id <> dwo.owner),
      |isl AS (SELECT doc_id, pos,
      |    sum(CASE WHEN prev IS NULL OR pos - prev > 10 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM (SELECT doc_id, pos,
      |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM rp)),
      |sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end
      |  FROM isl GROUP BY doc_id, island),
      |rm AS (SELECT doc_id, sum(span_end - span_start + 1) AS tokens_removed
      |  FROM sp GROUP BY doc_id),
      |tok AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
      |SELECT rm.doc_id, tok.n_tokens,
      |  CAST(rm.tokens_removed AS BIGINT) AS tokens_removed,
      |  CAST(tok.n_tokens - rm.tokens_removed AS BIGINT) AS n_tokens_after
      |FROM rm JOIN tok USING (doc_id)""".stripMargin

  /** The trim pass MATERIALIZED ([[graft.functions.SubstringDedup.trimmedText]]):
    * for every non-owner document with removable duplicated spans, the
    * normalized token sequence with the interval union cut out — the text a
    * training corpus would actually ship. Includes the fully-trimmed edge
    * case (exact-duplicate docs collapse to n_tokens_after = 0, empty text).
    */
  private def substringTrimmedText(s: SparkSession, dir: String): DataFrame =
    graft.functions.SubstringDedup.trimmedText(Tables.documents(s, dir))

  private val substringTrimmedTextSql =
    """WITH d AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |  FROM documents),
      |t AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM d),
      |w0 AS (SELECT doc_id, list_transform(range(1, len(toks) - 10 + 2),
      |         i -> array_to_string(list_slice(toks, i, i + 9), ' ')) AS wins
      |       FROM t WHERE len(toks) >= 10),
      |w AS (SELECT doc_id, CAST(unnest(range(1, len(wins) + 1)) AS BIGINT) AS pos,
      |             unnest(wins) AS win FROM w0),
      |dwo AS (SELECT win, min(doc_id) AS owner FROM w GROUP BY win
      |        HAVING min(doc_id) <> max(doc_id)),
      |rp AS (SELECT w.doc_id, w.pos FROM w JOIN dwo USING (win)
      |       WHERE w.doc_id <> dwo.owner),
      |isl AS (SELECT doc_id, pos,
      |    sum(CASE WHEN prev IS NULL OR pos - prev > 10 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM (SELECT doc_id, pos,
      |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM rp)),
      |sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end
      |  FROM isl GROUP BY doc_id, island),
      |tp AS (SELECT doc_id, unnest(toks) AS tokn,
      |              CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) AS tpos
      |       FROM t WHERE doc_id IN (SELECT doc_id FROM sp)),
      |rt AS (SELECT DISTINCT doc_id,
      |              CAST(unnest(range(span_start, span_end + 1)) AS BIGINT) AS tpos
      |       FROM sp)
      |SELECT tp.doc_id,
      |  CAST(count(*) FILTER (rt.tpos IS NULL) AS BIGINT) AS n_tokens_after,
      |  coalesce(string_agg(tp.tokn, ' ' ORDER BY tp.tpos)
      |    FILTER (rt.tpos IS NULL), '') AS text_trimmed
      |FROM tp LEFT JOIN rt ON tp.doc_id = rt.doc_id AND tp.tpos = rt.tpos
      |GROUP BY tp.doc_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("llm_exact_dedup", dedup, Some(dedupSql)),
    Q("llm_substring_dedup", substringDedup, Some(substringDedupSql)),
    Q("llm_substring_spans", substringSpans, Some(substringSpansSql)),
    Q("llm_substring_trim", substringTrim, Some(substringTrimSql)),
    Q("llm_substring_trimmed_text", substringTrimmedText,
      Some(substringTrimmedTextSql)),
    Q("llm_incremental_dedup", incrementalDedup, Some(incrementalDedupSql)),
    Q("llm_incremental_bucketed", incrementalDedupBucketed, Some(incrementalDedupSql)),
    Q("llm_cluster_canonical", clusterCanonical, Some(clusterCanonicalSql)),
    Q("llm_text_stats", stats, Some(statsSql)),
    Q("llm_minhash_dedup", minhash, Some(LlmHashOracles.minhashSql), headline = true),
    Q("llm_minhash_dedup_verified", minhashVerified, Some(minhashVerifiedSql)),
    Q("llm_jaccard_pairs", jaccardPairs, Some(jaccardPairsSql)),
    Q("llm_prefix_join", prefixJoin, Some(jaccardPairsSql)),
    Q("llm_cluster_exact", clusterExact, Some(dupClustersSql)),
    Q("llm_dup_clusters", dupClusters, Some(dupClustersSql)),
    Q("llm_leakage_split", leakageSplit, Some(leakageSplitSql)),
    Q("llm_simhash_neardup", simhash, Some(LlmHashOracles.simhashSql)),
    Q("llm_simhash_recovery", simhashRecovery, Some(simhashRecoverySql)),
    Q("llm_cosine_topk", cosine, Some(cosineSql), headline = true),
    Q("llm_hard_negatives", hardNegatives, Some(hardNegativesSql)),
    Q("llm_ann_recall", ann, Some(LlmHashOracles.annSql)),
    Q("llm_ann_near_recall", annNear, Some(annNearSql)),
    Q("llm_ivf_near_recall", ivfNear, Some(ivfNearSql)),
    Q("llm_pq_near_recall", pqNear, Some(ivfNearSql)),
    Q("llm_ivfpq_near_recall", ivfPqNear, Some(ivfNearSql)),
    Q("llm_quality_langid", quality, Some(qualitySql)),
    Q("llm_quality_percentile", qualityPercentile, Some(qualityPercentileSql), headline = true),
    Q("llm_corpus_pipeline", corpusPipeline, Some(corpusPipelineSql)),
    Q("llm_embed_neardup", embedNearDup, Some(embedNearDupSql)),
    Q("llm_embed_neardup_lsh", embedNearDupLsh, Some(embedNearDupSql), headline = true),
    Q("llm_semantic_dedup", embedSemDedup, Some(embedNearDupSql)),
    // the LSH candidate path is the headline (scale-representative) DBSCAN
    // row; the exact all-pairs baseline is deliberately quadratic and its
    // bench time (47 s at sf1) is the price of the exact ε-graph, not a
    // plan defect — same convention as llm_embed_neardup[_lsh]
    Q("llm_dbscan_clusters", dbscanClusters, Some(dbscanClustersSql)),
    Q("llm_dbscan_lsh", dbscanClustersLsh, Some(dbscanClustersSql), headline = true),
    Q("mm_frame_stats", mmFrames, Some(mmFramesSql)),
    Q("mm_png_decode", mmPng, Some(mmPngSql)),
    Q("mm_image_resize", mmResize, Some(mmResizeSql)),
    Q("mm_wav_decode", mmWav, Some(mmWavSql)),
    Q("mm_audio_downsample", mmAudioDs, Some(mmAudioDsSql)),
    Q("mm_phash_neardup", mmPhashNearDup, Some(mmPhashNearDupSql)),
    Q("llm_suffix_array", suffixArray, Some(suffixArraySql), headline = true),
    Q("llm_suffix_dup_positions", suffixDupPositions, Some(suffixDupPositionsSql)),
    Q("llm_fingerprints", fingerprints, Some(LlmHashOracles.fingerprintsSql)),
    Q("llm_fingerprints_poly", fingerprintsPoly, Some(fingerprintsPolySql)),
    Q("j3_asof_join", asof, Some(asofSql))
  )
}
