package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: exact brute-force cosine top-k — a block-partitioned cross
  * join, embarrassingly parallel: queries broadcast (they are the small
  * side), corpus streams, per-partition top-k via window. Scale path:
  * sign-random-projection LSH — each vector gets a b-bit bucket from the
  * signs of dot products with deterministic pseudo-random hyperplanes;
  * candidates come from ONE shuffle on the bucket key, and the exact cosine
  * re-ranks only within buckets (quadratic only in bucket size).
  *
  * All math is column expressions: floats are cast to double element-wise
  * and reduced left-to-right (aggregate), so scores are deterministic under
  * any partitioning.
  */
object Similarity {

  /** Σ aᵢ·bᵢ over two float/double arrays, in double, sequential order —
    * the codegen'd native expression ([[DotProduct]]); value-identical to
    * the higher-order form `aggregate(zip_with(..x·y..), 0.0, _+_)` it
    * replaced (widen-to-double, left-to-right, null on mismatch), pinned by
    * VectorExprsSpec.
    */
  def dot(a: Column, b: Column): Column = VectorExprs.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The (vec_id, embedding, nrm) frame every exact scorer reads — each
    * vector's norm computed once here, not once per pair — plus any
    * `extra` columns the caller carries through.
    */
  private def normed(vectors: DataFrame, extra: Column*): DataFrame =
    vectors.select(Seq(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm")) ++ extra: _*)

  /** One side of a scored pair: a [[normed]] frame keyed as `id`, its
    * vector and norm under names derived from `id`. Selecting both sides
    * from one (possibly broadcast-hinted) frame keeps them canonically
    * identical, so ReuseExchange builds a broadcast once.
    */
  private def side(emb: DataFrame, id: String, extra: Column*): DataFrame =
    emb.select(Seq(col("vec_id").as(id), col("embedding").as(s"${id}__e"),
      col("nrm").as(s"${id}__n")) ++ extra: _*)

  /** The rounded exact cosine between the vectors of sides `a` and `b`,
    * from their PRE-COMPUTED norms — the same double ops in the same order
    * as [[cosine]] (dot / (na · nb)), so the rounded scores are
    * bit-identical, with 1 array reduction per pair instead of 3. At
    * 100 TB the per-pair savings dominate: a top-k over Q queries would
    * re-derive every corpus norm Q times.
    */
  private def pairCosine(a: String, b: String, roundTo: Int = 6): Column =
    round(dot(col(s"${a}__e"), col(s"${b}__e")) / (col(s"${a}__n") * col(s"${b}__n")),
      roundTo).as("cos")

  /** Candidate id pairs (columns `a`, `b`) scored exactly: both ids'
    * vectors re-attach from `emb` (a [[normed]] frame, broadcast-hinted
    * when the caller's gate says it fits) by two joins. Output: a, b, cos.
    */
  private def scorePairs(pairs: DataFrame, emb: DataFrame, a: String, b: String): DataFrame =
    pairs.join(side(emb, a), a).join(side(emb, b), b)
      .select(col(a), col(b), pairCosine(a, b))

  /** Each query's `k` best rows by `score` (a sort order: cosine
    * descending, PQ distance ascending), ties broken on the lower
    * neighbor_id, numbered 1..k as `rank`.
    */
  private def topK(scored: DataFrame, score: Column, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(score, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Keep the lower id of every near-dup pair: drop each pair's `id_b`. */
  private def dropHigherIds(vectors: DataFrame, pairs: DataFrame): DataFrame = {
    val dups = pairs.select(col("id_b").as("__dup")).distinct()
    vectors.join(dups, vectors("vec_id") === dups("__dup"), "left_anti")
  }

  /** Exact top-k neighbors for each query vector. Output: query_id,
    * neighbor_id, cosine rounded to `roundTo` decimals (rounding pins the
    * rank order across engines), rank.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                     roundTo: Int = 6): DataFrame = {
    val scored = side(normed(corpus), "neighbor_id")
      .join(broadcast(side(normed(queries), "query_id")), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pairCosine("query_id", "neighbor_id", roundTo))
    topK(scored, col("cos").desc, k)
  }

  /** Contrastive hard-negative mining: for each query vector, the top-k
    * most cosine-similar corpus vectors with a DIFFERENT label — the pairs
    * a contrastive trainer wants as negatives precisely because the model
    * must learn to push apart what the embedding space currently holds
    * close. Same broadcast-query/rounded-rank discipline as
    * [[bruteForceTopK]] (the label inequality rides the join condition, so
    * same-label rows never reach the ranking window); the scale path swaps
    * the brute scan for [[ivfTopK]] candidates with the label filter
    * applied before the final rank.
    *
    * CONTRACT (same as [[bruteForceTopK]]): the QUERY side is broadcast
    * unconditionally — it must be driver/executor-memory-sized (thousands
    * of vectors, not millions; the harness row uses `vec_id < 10`). A
    * corpus-scale query set belongs on the [[ivfTopK]] path, where queries
    * route to cells instead of being shipped whole. And `queries` and
    * `corpus` share ONE `vec_id` namespace: the `query_id =!= neighbor_id`
    * self-match guard assumes both ids come from the same table — a
    * colliding id from a DIFFERENT table would wrongly exclude a valid
    * negative. Re-key one side before calling if the sources differ.
    */
  def hardNegativeTopK(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                       roundTo: Int = 6): DataFrame = {
    val label = col("label")
    val q = side(normed(queries, label), "query_id", label.as("query_label"))
    val c = side(normed(corpus, label), "neighbor_id", label.as("neighbor_label"))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
          col("neighbor_label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"), col("neighbor_label"),
        pairCosine("query_id", "neighbor_id", roundTo))
    topK(scored, col("cos").desc, k)
  }

  /** Exact cosine near-duplicate pairs: id_a < id_b with rounded cosine ≥
    * threshold. All-pairs — the declared exact baseline, quadratic by
    * definition; the scale path buckets with [[lshTopK]]'s
    * sign-random-projection tables first and verifies only within buckets.
    */
  def nearDupPairs(vectors: DataFrame, threshold: Double, roundTo: Int = 6): DataFrame = {
    val emb = normed(vectors)
    side(emb, "id_a").join(side(emb, "id_b"), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), pairCosine("id_a", "id_b", roundTo))
      .filter(col("cos") >= threshold)
  }

  /** Embedding near-dup dedup: drop the larger id of every near-dup pair. */
  def dedupByCosine(vectors: DataFrame, threshold: Double): DataFrame =
    dropHigherIds(vectors, nearDupPairs(vectors, threshold))

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * a value in [-1, 1) derived from xxhash64 — reproducible everywhere,
    * no driver-side randomness to ship.
    */
  private def planeComponent(p: Column, d: Column): Column =
    (pmod(xxhash64(p, d), lit(2000001L)) - lit(1000000L)).cast("double") / lit(1000000.0)

  /** b-bit sign-random-projection bucket of an embedding; `seed` selects an
    * independent hash table's hyperplane family.
    *
    * This is the executable SPEC of the bucketing — the production path is
    * the native [[SignProjectionBuckets]] expression (all tables in one
    * compiled pass, hyperplane matrix cached per executor), pinned
    * bit-identical to this form by VectorExprsSpec.
    */
  def lshBucket(embedding: Column, bits: Int = 12, seed: Int = 0): Column = {
    val masks = array((0 until bits).map(j => lit(1L << j)): _*)
    aggregate(
      zip_with(sequence(lit(seed * bits), lit(seed * bits + bits - 1)), masks, (p, m) => {
        val proj = aggregate(
          zip_with(embedding, sequence(lit(0), size(embedding) - 1),
            (x, d) => x.cast("double") * planeComponent(p, d)),
          lit(0.0), (acc, v) => acc + v)
        when(proj >= 0, m).otherwise(lit(0L))
      }),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** The (vec_id, table, bucket)-exploded frame behind every LSH path —
    * SCALARS ONLY, pinned at a materialization boundary. Two reasons the
    * embedding column must not ride along: the frame feeds both sides of a
    * self-join, so arrays would cross the bucket shuffle ×tables×2; and
    * materializing array columns at the boundary costs more than the
    * entire downstream join (measured as a columnar cache: 2.0 s of a
    * 2.7 s query at bench scale). Embeddings re-attach from the input frame (one row per id)
    * only where exact scoring needs them. The boundary is an eager
    * localCheckpoint: see [[MinHash.candidatePairs]] for the contract.
    */
  private[graft] def bucketedFrame(vectors: DataFrame, bits: Int, tables: Int): DataFrame =
    // Materialized EAGERLY: the frame feeds both sides of a self-join in
    // ONE downstream action, and a lazy cache let the two sides race to
    // compute it concurrently (observed as "Block already exists" recompute
    // warnings and ~2× the bucketing cost at bench scale)
    explodeBuckets(bucketVectors(vectors, bits, tables)).localCheckpoint(true)

  /** (vec_id, bks): every table's bucket of each vector, from one native
    * pass. A NULL embedding gets bucket 0 in every table — the
    * expression-spec semantics (null proj -> no sign bits) — because
    * posexplode of the native NULL result would silently drop the id from
    * every bucket table.
    */
  private def bucketVectors(vectors: DataFrame, bits: Int, tables: Int): DataFrame =
    vectors.select(col("vec_id"),
      coalesce(VectorExprs.signBuckets(col("embedding"), bits, tables),
        array_repeat(lit(0L), tables)).as("bks"))

  /** (vec_id, table, bucket): posexplode position = table index. */
  private def explodeBuckets(perId: DataFrame): DataFrame =
    perId.select(col("vec_id"), posexplode(col("bks")).as(Seq("table", "bucket")))

  /** Approximate top-k: candidate id pairs share an LSH bucket (scalar
    * join, deduped across tables on two ids); exact cosine re-ranks the
    * candidates after embeddings re-attach via two hash joins. Recall
    * improves with fewer bits (bigger buckets) or multiple tables (union
    * over `tables` seeds).
    *
    * Building the result runs the bucketing job eagerly (a localCheckpoint,
    * see [[MinHash.candidatePairs]] for the contract).
    */
  def lshTopK(vectors: DataFrame, k: Int = 5, bits: Int = 12, tables: Int = 2): DataFrame = {
    val bucketed = bucketedFrame(vectors, bits, tables)
    val a = bucketed.select(col("table"), col("bucket"), col("vec_id").as("query_id"))
    val b = bucketed.select(col("table"), col("bucket"), col("vec_id").as("neighbor_id"))
    val cand = a.join(b, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    topK(scorePairs(cand, normed(vectors), "query_id", "neighbor_id"), col("cos").desc, k)
  }

  /** Embedding near-dup dedup through LSH buckets — the 100 TB path for
    * [[dedupByCosine]]: candidate id pairs come from shared (table, bucket)
    * keys (one shuffle, deduped on two scalars, arrays never cross the
    * distinct), then exact cosine verifies only the candidates (embeddings
    * re-attach via two hash joins, mirroring
    * [[MinHash.dedupFuzzyFromPairs]]). Reproduces the all-pairs answer
    * whenever every true near-dup pair shares ≥1 bucket. Size `tables` to
    * the tightest pair you must recall: per table the collision
    * probability is (1 − θ/π)^bits — e.g. θ = acos(0.99) gives 0.955⁸ ≈
    * 0.69, so 4 tables still miss ~0.9% of threshold-grazing pairs while
    * 8 tables miss ~9e-6. Callers with a known pair geometry should do
    * this arithmetic (the registry's injected-copy query runs 8 tables
    * after a 4-table miss materialized on the sf0.1 corpus).
    *
    * Building the result runs the bucketing job eagerly (see [[lshTopK]]).
    */
  def dedupByCosineLsh(vectors: DataFrame, threshold: Double, bits: Int = 8,
                       tables: Int = 4): DataFrame = {
    // exactly-once candidates via the first-colliding-table filter (r18;
    // see lshCandidatePairsDeduped) — the downstream __dup distinct is
    // indifferent to emission multiplicity, so output is unchanged
    val candidates = lshCandidatePairsDeduped(vectors, bits, tables)
    // re-attach embeddings from the INPUT frame (one row per id) — a
    // distinct over the bucketed frame would shuffle the arrays ×tables
    dropHigherIds(vectors,
      scorePairs(candidates, normed(vectors), "id_a", "id_b").filter(col("cos") >= threshold))
  }

  /** Byte budget for broadcasting the (vec_id, embedding, nrm) frame in
    * [[nearDupPairsLsh]]'s verify stage — estimate `rows × (dims·8 B + 64)`;
    * past it the attach falls back to a shuffled join instead of failing at
    * Spark's 8 GB broadcast ceiling. Session config, not a constant (the
    * [[graft.functions.PrefixJoin.BroadcastBytesKey]] convention): a real
    * cluster sizes it to executor memory.
    */
  val NearDupBroadcastBytesKey = "spark.graft.nearDupPairs.broadcastMaxBytes"
  private val NearDupBroadcastBytesDefault = 1600000000L

  /** Candidate-verified near-dup PAIRS through LSH buckets — the pair-list
    * form of [[dedupByCosineLsh]] for consumers that need the ε-graph
    * itself (e.g. [[Dbscan.cluster]]): candidates from shared
    * (table, bucket) keys, exact rounded cosine ≥ threshold verified after
    * embeddings re-attach. Same recall arithmetic as [[dedupByCosineLsh]],
    * sized for the LOOSER thresholds a density clustering uses: at
    * ε = 0.9 the grazing pairs sit at θ ≈ 0.42 rad (per-bit collision
    * ≈ 0.866), so narrow buckets need many tables — 12 bits × 64 tables
    * misses a grazing edge with p ≈ 3e-6 while verifying only ~bucket-local
    * candidates instead of all pairs.
    */
  def nearDupPairsLsh(vectors: DataFrame, threshold: Double, bits: Int = 12,
                      tables: Int = 64): DataFrame =
    verifyCandidatePairs(vectors, lshCandidatePairsDeduped(vectors, bits, tables), threshold)

  /** Distinct 16-B candidate id pairs from a bucketed (table, bucket,
    * vec_id) frame — the self-join stage of [[nearDupPairsLsh]], used as
    * the fallback when the bucket-vector frame outgrows its broadcast
    * budget (see [[lshCandidatePairsDeduped]]) and as DbscanSpec's
    * reference candidate set.
    */
  private[graft] def lshCandidatePairs(bucketed: DataFrame): DataFrame =
    pairsSharing(bucketed, Seq("table", "bucket"))

  /** Distinct id pairs id_a < id_b of a (keys…, vec_id) frame whose rows
    * share every key — one shuffle on the scalar keys, arrays never ride.
    */
  private def pairsSharing(keyed: DataFrame, keys: Seq[String]): DataFrame = {
    val a = keyed.select(keys.map(col) :+ col("vec_id").as("id_a"): _*)
    val b = keyed.select(keys.map(col) :+ col("vec_id").as("id_b"): _*)
    a.join(b, keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Byte budget for broadcasting the per-id bucket-VECTOR frame
    * ((vec_id, array of `tables` longs) ≈ tables·8+64 B/row) in
    * [[lshCandidatePairsDeduped]]'s first-colliding-table filter; past it
    * the candidate stage falls back to the distinct-exchange form. Session
    * config, not a constant (the [[NearDupBroadcastBytesKey]] convention).
    */
  val BucketVectorBroadcastBytesKey = "spark.graft.nearDupPairs.bucketVectorBroadcastMaxBytes"
  private val BucketVectorBroadcastBytesDefault = 1600000000L

  /** Exactly-once candidate id pairs from the multi-table LSH bucketing —
    * the r18 candidate stage (guide §2.4: remove the shuffle outright). The
    * (table, bucket) self-join emits a colliding pair once PER SHARED TABLE
    * (a near-identical pair collides in nearly all `tables` tables — the
    * r17 sf10 profile's 8.9 s candidate-distinct stage was mostly that
    * duplication crossing the pair-distinct exchange). Here each emission
    * attaches both ids' bucket VECTORS from ONE broadcast (reused across
    * both aliases) and survives only if its `table` is the pair's FIRST
    * colliding index ([[FirstCollisionIndex]]) — every colliding pair exits
    * the join stage exactly once, the candidate SET is identical by
    * construction (recall untouched), and the 16-B-pair distinct exchange
    * disappears: nothing between the bucket join and the verify filter
    * shuffles at all.
    *
    * The per-id frame is the materialization boundary (n rows of tables
    * longs ≈ 2.4× smaller than the exploded frame); the exploded frame is
    * derived per consumer by a posexplode over the checkpoint. Past the
    * bucket-vector broadcast budget the stage falls back to the old
    * distinct form — identical output either way.
    */
  private[graft] def lshCandidatePairsDeduped(vectors: DataFrame, bits: Int,
                                              tables: Int): DataFrame = {
    // eager for the same reason as bucketedFrame: both self-join sides (and
    // the broadcast build) consume it in one downstream action; the row
    // count then reads the checkpoint's local blocks, not the input
    val perId = bucketVectors(vectors, bits, tables).localCheckpoint(true)
    val n = perId.count()
    val exploded = explodeBuckets(perId)
    val budget = vectors.sparkSession.conf
      .getOption(BucketVectorBroadcastBytesKey).map(_.toLong)
      .getOrElse(BucketVectorBroadcastBytesDefault)
    if (n * (tables.toLong * 8L + 64L) > budget) lshCandidatePairs(exploded)
    else {
      val a = exploded.select(col("table"), col("bucket"), col("vec_id").as("id_a"))
      val b = exploded.select(col("table"), col("bucket"), col("vec_id").as("id_b"))
      // ONE broadcast of the bucket-vector frame, consumed under two
      // aliases — canonicalized identical, so ReuseExchange materializes it
      // once (the withExactJaccard set-attach pattern)
      val k = broadcast(perId.select(col("vec_id").as("__kid"), col("bks").as("__kbks")))
      a.join(b, Seq("table", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .join(k.as("__ka"), col("id_a") === col("__ka.__kid"))
        .join(k.as("__kb"), col("id_b") === col("__kb.__kid"))
        .filter(VectorExprs.firstCollisionIndex(
          col("__ka.__kbks"), col("__kb.__kbks")) === col("table"))
        .select(col("id_a"), col("id_b"))
    }
  }

  /** The (vec_id, embedding, nrm) frame's bytes as `rows × (dims·8 B + 64)`
    * from one bounded probe; -1 for an empty frame.
    */
  private def probedVectorBytes(vectors: DataFrame): Long = {
    val firstDims = vectors.select(size(col("embedding"))).take(1)
    if (firstDims.isEmpty) -1L
    else vectors.count() * (firstDims(0).getInt(0).toLong * 8L + 64L)
  }

  /** Exact rounded-cosine verification of candidate id pairs — the verify
    * stage of [[nearDupPairsLsh]]: vectors attach via BROADCAST (one shared
    * frame, two aliases — ReuseExchange materializes it once): at loose
    * thresholds the candidate volume is large, and a shuffled attach would
    * carry the ~0.5 KB embedding arrays per CANDIDATE row — the disk wall
    * the prefix join's verify hit at sf10. The vector frame is
    * rows × (dims·8 B) — broadcastable far past these corpora (sf10:
    * 260k × 64 dims ≈ 133 MB). The hint is GATED on that estimate against
    * [[NearDupBroadcastBytesKey]] (the exactJaccard budget pattern): past
    * the budget the attach degrades to the shuffled join — wider shuffle,
    * but it cannot hit Spark's hard 8 GB broadcast wall.
    *
    * The size estimate is two-tier (r15 advice + r16 regression): FIRST the
    * OPTIMIZER's `optimizedPlan.stats` — zero driver actions — but trusted
    * only WITHIN A SAFETY MARGIN (stats ≤ budget/4, r16 advice): Catalyst
    * stats err in both directions. They can be inflated by ORDERS OF
    * MAGNITUDE on derived inputs (the DBSCAN base is a localCheckpoint
    * whose LogicalRDD inherits the pre-checkpoint plan's stats, and its
    * crossJoin-product estimate reads ~800 GB for a 260 k-row frame —
    * measured: trusting it alone silently dropped the broadcast and put
    * the sf10 verify on the shuffled path, 10 s → 297 s) and also
    * UNDERESTIMATE real in-memory size (a parquet scan's sizeInBytes is
    * compressed file bytes; filter selectivity guesses shrink it further),
    * which in the old `stats ≤ budget` fast path could broadcast a frame
    * past the budget — or Spark's 8 GB hard wall — unchecked. Outside the
    * margin the estimate is settled by one bounded probe — `take(1)` for
    * dims (empty frame ⇒ skip the hint and stay lazy, the r15-advice fix)
    * + `count()` for rows — run once per call: the figure only picks the
    * join strategy, so no statistic outlives the call.
    */
  private[graft] def verifyCandidatePairs(vectors: DataFrame, candidates: DataFrame,
                                          threshold: Double): DataFrame = {
    val embPlain = normed(vectors)
    val maxBytes = vectors.sparkSession.conf
      .getOption(NearDupBroadcastBytesKey).map(_.toLong)
      .getOrElse(NearDupBroadcastBytesDefault)
    val statsEst = vectors.queryExecution.optimizedPlan.stats.sizeInBytes
    val fits =
      if (statsEst <= BigInt(maxBytes / 4)) true
      else {
        val bytes = probedVectorBytes(vectors)
        bytes >= 0L && bytes <= maxBytes
      }
    scorePairs(candidates, if (fits) broadcast(embPlain) else embPlain, "id_a", "id_b")
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space with k-means,
    * generate candidate pairs only WITHIN a cluster, verify each candidate
    * with exact cosine, and drop the higher id of every pair at or above
    * `threshold` — [[dedupByCosine]]'s answer at a within-cluster cost.
    *
    * Candidate generation is multi-probe: each vector contributes to its
    * `nprobe` nearest lists (the same broadcast-centroid + sorted-struct
    * aggregation as [[ivfTopK]]'s query routing), so a near-dup pair
    * straddling a Voronoi boundary is missed only if the two vectors'
    * nprobe-sets are DISJOINT — at dedup-grade cosine (θ ≈ 0.08 rad for
    * 0.99) the two distance vectors to the centroids differ by O(‖a−b‖)
    * while inter-centroid gaps are O(1), so the top-nprobe sets share at
    * least the common nearest list in practice (spec-checked against the
    * all-pairs baseline; the registry row hash-checks it against the same
    * all-pairs DuckDB oracle as the LSH path).
    *
    * 100 TB shape: one broadcast join against the k×dims centroid model,
    * one shuffle on the scalar (list) key for pairing — embeddings never
    * ride the self-join; they re-attach to verified-candidate ids via two
    * hash joins. Within-list pairing is quadratic in list size, so pick
    * nlist ∝ corpus size to hold the per-list population (and thus the
    * per-task pair count) constant; total candidate work is then
    * ≈ nprobe² · n · (n/nlist) — linear in n at fixed list size. The
    * k-means model itself is k×dims doubles, collected per Lloyd round
    * (model, not data).
    *
    * Null embeddings take no part in clustering and survive (a null cosine
    * never crosses the threshold) — the same semantics as
    * [[dedupByCosine]]/[[dedupByCosineLsh]].
    *
    * The probe-list frame feeds both sides of a self-join in one
    * downstream action, so it materializes eagerly (a localCheckpoint, see
    * [[MinHash.candidatePairs]] for the contract) — the same race
    * rationale as [[bucketedFrame]].
    */
  def semanticDedup(vectors: DataFrame, threshold: Double, nlist: Int = 16,
                    nprobe: Int = 2, iters: Int = 5): DataFrame = {
    val probes = probeLists(vectors, kmeansCentroids(vectors, nlist, iters), nprobe, "vec_id")
      .localCheckpoint(true)
    val candidates = pairsSharing(probes, Seq("list"))
    dropHigherIds(vectors,
      scorePairs(candidates, normed(vectors), "id_a", "id_b").filter(col("cos") >= threshold))
  }

  // ------------------------------------------------------------------ IVF

  /** The centroid MODEL as a tiny broadcast table (list id, centroid) —
    * nlist × dims doubles, a few hundred KB at nlist=256/dims=128. All
    * coarse-quantizer math joins against this instead of inlining nlist
    * array literals into the expression tree: the literal form made the
    * PLAN O(nlist × dims) (256 inline L2 blocks blow whole-stage codegen's
    * method budget and analysis time grows with nlist), where the join
    * form's plan is one broadcast join + one aggregation regardless of
    * nlist — plan build time stays flat as the quantizer grows.
    */
  private def centroidTable(spark: SparkSession, cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("__list_id", "__cent")
  }

  /** Each vector's nearest centroid (ties → lowest index, matching the
    * former array_min/array_position form): broadcast-cross the centroid
    * table, take min(struct(distance, index)) per vector — partial
    * aggregation collapses the nlist-way expansion map-side, so the
    * shuffle carries one row per vector. The embedding rides the struct as
    * payload (index is unique per vector, so it never participates in the
    * min comparison) for consumers that need it back without a re-join.
    */
  private def assignLists(vectors: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val centDf = centroidTable(vectors.sparkSession, cents)
    vectors.select(col("vec_id"), col("embedding"))
      .filter(col("embedding").isNotNull)
      .join(broadcast(centDf))
      .groupBy(col("vec_id"))
      .agg(min(struct(
        VectorExprs.l2Sq(col("embedding"), col("__cent")).as("d"),
        col("__list_id").as("i"),
        col("embedding").as("e"))).as("m"))
      .select(col("vec_id"), col("m.i").as("list"), col("m.e").as("embedding"))
  }

  /** Each vector's `nprobe` nearest lists, one (`id`, list) row per probe:
    * broadcast-cross the centroid table, collect_list + array_sort of
    * (distance, index) structs — partial aggregation folds the nlist
    * expansion map-side; ties break on the lower index, deterministically,
    * like [[assignLists]]. Null embeddings route nowhere.
    */
  private def probeLists(vectors: DataFrame, cents: Array[Array[Double]], nprobe: Int,
                         id: String): DataFrame =
    vectors
      .filter(col("embedding").isNotNull)
      .select(col("vec_id").as(id), col("embedding"))
      .join(broadcast(centroidTable(vectors.sparkSession, cents)))
      .groupBy(col(id))
      .agg(slice(array_sort(collect_list(struct(
        VectorExprs.l2Sq(col("embedding"), col("__cent")).as("d"),
        col("__list_id").as("i")))), 1, nprobe).as("__near"))
      .select(col(id), explode(expr("transform(__near, s -> s.i)")).as("list"))

  /** IVF candidate pairs: each query probes its `nprobe` nearest of
    * `nlist` k-means lists over `vectors` and meets every corpus vector
    * assigned there (scalars only — (id, list) on both sides), self-matches
    * excluded. Output: query_id, neighbor_id, not deduplicated.
    */
  private def ivfCandidates(vectors: DataFrame, queries: DataFrame, nlist: Int, nprobe: Int,
                            iters: Int): DataFrame = {
    val cents = kmeansCentroids(vectors, nlist, iters)
    val corpus = assignLists(vectors, cents)
      .select(col("vec_id").as("neighbor_id"), col("list"))
    probeLists(queries, cents, nprobe, "query_id").join(corpus, "list")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Lloyd's k-means over the embedding column, pure DataFrame ops: assign
    * by nearest centroid ([[assignLists]]), new centroids from
    * per-dimension sums, k×dims doubles collected per iteration (the
    * classic driver-side k-means loop — the collected state is the MODEL,
    * not data). Init is deterministic farthest-point
    * (maxmin) over a deterministic SAMPLE: the `initSample` lowest
    * xxhash64(vec_id) rows — ONE TakeOrdered pass over the corpus,
    * O(initSample) driver memory — then driver-side maxmin within the
    * sample (seed = lowest-id sampled vector; ties → lowest id). The
    * former k−1 full-corpus TakeOrdered jobs made init cost O(k × corpus);
    * at 100 TB that is k−1 full scans for a model of k×dims doubles. The
    * trade: init spread is now sample-relative, so an outlier outside the
    * sample can't seed a centroid — Lloyd (still full-corpus) recovers the
    * assignment; determinism is preserved because the sample membership is
    * a pure function of vec_id. Empty clusters keep their previous
    * centroid. Floating sums across a shuffle make low-order centroid bits
    * run-dependent — consumers must not hang exact equality on them (IVF
    * recall is floor-checked, not pinned).
    */
  def kmeansCentroids(vectors: DataFrame, k: Int = 16, iters: Int = 5,
                      initSample: Int = 4096): Array[Array[Double]] = {
    val dims = vectors.select(size(col("embedding"))).first().getInt(0)
    val asDouble = transform(col("embedding"), x => x.cast("double"))
    val sample = vectors
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble.as("__e"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(math.max(initSample, k))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(sample.nonEmpty, "kmeansCentroids: empty input frame")
    def l2sqLocal(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val seedIdx = sample.indices.minBy(i => sample(i)._1)
    var cents = Array(sample(seedIdx)._2)
    // distance-to-nearest-chosen per sampled vector, updated incrementally
    val dNear = sample.map(p => l2sqLocal(p._2, cents(0)))
    while (cents.length < k) {
      var best = 0
      var i = 1
      while (i < sample.length) {
        if (dNear(i) > dNear(best) ||
          (dNear(i) == dNear(best) && sample(i)._1 < sample(best)._1)) best = i
        i += 1
      }
      val next = sample(best)._2
      cents = cents :+ next
      i = 0
      while (i < sample.length) {
        val d = l2sqLocal(sample(i)._2, next)
        if (d < dNear(i)) dNear(i) = d
        i += 1
      }
    }
    for (_ <- 0 until iters) {
      // assignLists already drops null embeddings — under the literal form
      // they landed in a null list whose null-summed centroid could poison
      // the collect; with the join form they simply take no part in Lloyd
      val sums = assignLists(vectors, cents)
        .groupBy(col("list"))
        .agg(count(lit(1)).as("__n"),
          array((0 until dims).map(i =>
            sum(col("embedding")(i).cast("double"))): _*).as("__s"))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getSeq[Double](2))))
        .toMap
      cents = cents.zipWithIndex.map { case (old, i) =>
        sums.get(i) match {
          case Some((n, s)) => s.map(_ / n).toArray
          case None => old
        }
      }
    }
    cents
  }

  /** IVF-flat approximate top-k — the coarse-quantizer scale path beside
    * [[lshTopK]]: vectors are assigned to `nlist` k-means lists; each query
    * probes its `nprobe` nearest lists and exact cosine re-ranks only the
    * candidates there (search cost ≈ nprobe/nlist of the corpus). The
    * probe join carries scalars only — (id, list) on both sides —
    * and embeddings re-attach by id for scoring, same discipline as the
    * LSH paths.
    */
  def ivfTopK(vectors: DataFrame, k: Int = 5, nlist: Int = 16, nprobe: Int = 4,
              iters: Int = 5): DataFrame = {
    val cand = ivfCandidates(vectors, vectors, nlist, nprobe, iters).distinct()
    topK(scorePairs(cand, normed(vectors), "query_id", "neighbor_id"), col("cos").desc, k)
  }

  // ------------------------------------------------------------------ PQ

  /** Product-quantization codebooks: the embedding splits into `m`
    * contiguous dim-slices and each slice gets its own k-means codebook
    * (`ksub` centroids) — m small models fit with the same sampled-maxmin
    * + Lloyd machinery as the IVF quantizer. Returned as
    * books(sub)(code) = centroid (subDim doubles): m × ksub × subDim —
    * kilobytes, the whole index model broadcasts.
    */
  def pqCodebooks(vectors: DataFrame, m: Int = 8, ksub: Int = 16,
                  iters: Int = 5): Array[Array[Array[Double]]] = {
    val dims = vectors.select(size(col("embedding"))).first().getInt(0)
    require(dims % m == 0, s"pq: dims $dims not divisible by m=$m")
    val sub = dims / m
    (0 until m).toArray.map { s =>
      val sliced = vectors
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), slice(col("embedding"), s * sub + 1, sub).as("embedding"))
      kmeansCentroids(sliced, ksub, iters)
    }
  }

  /** All (sub, code, centroid) rows of the codebooks as one tiny broadcast
    * table — encode and LUT construction are then single joins, flat in
    * m × ksub exactly like the IVF [[centroidTable]] trick.
    */
  private def bookTable(spark: SparkSession,
                        books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    (for {
      (book, s) <- books.zipWithIndex
      (cent, c) <- book.zipWithIndex
    } yield (s, c, cent.toSeq)).toSeq.toDF("__sub", "__code", "__cent")
  }

  /** Each non-null embedding's `m` contiguous `sub`-dim slices, one
    * (`id`, __sub, __sv) row per slice.
    */
  private def subVectors(vectors: DataFrame, id: String, m: Int, sub: Int): DataFrame =
    vectors
      .filter(col("embedding").isNotNull)
      .select(col("vec_id").as(id), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(embedding, s * $sub + 1, $sub))")))
      .withColumnRenamed("pos", "__sub").withColumnRenamed("col", "__sv")

  /** PQ-encode: each vector becomes m small codes. One explode to
    * subvectors, one broadcast join against the codebook table, one
    * min-struct aggregation per (vec_id, sub), one collect per vec_id —
    * the corpus never rides a shuffle wider than (id, sub, code) scalars
    * plus the transient subvector. Output: vec_id, codes (array<int>,
    * sub-major order).
    */
  def pqEncode(vectors: DataFrame, books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val sub = books(0)(0).length
    val bt = bookTable(vectors.sparkSession, books)
    subVectors(vectors, "vec_id", m, sub)
      .join(broadcast(bt), "__sub")
      .groupBy(col("vec_id"), col("__sub"))
      .agg(min(struct(
        VectorExprs.l2Sq(col("__sv"), col("__cent")).as("d"),
        col("__code").as("c"))).as("m"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(__sub, m.c AS c))), s -> s.c)")
        .as("codes"))
  }

  /** PQ asymmetric-distance top-k (ADC): corpus vectors are scored against
    * each query through their codes only — estimated squared L2 =
    * Σ_sub lut(sub, code) where the per-query LUT holds the EXACT distance
    * from the query's subvector to each codebook centroid. Shapes:
    *
    *  - LUT = queries × m × ksub rows (scalars), built by one broadcast
    *    join, then itself broadcast to the scoring join;
    *  - scoring streams the corpus codes exploded to (id, sub, code) —
    *    3 scalar columns per corpus row per sub — and partial aggregation
    *    folds the m-way expansion map-side before the (query, id) shuffle.
    *
    * The full-precision corpus never participates: at 100 TB the scored
    * working set is m integers per vector — the point of PQ. Recall is
    * floor-checked (llm_pq_near_recall), never pinned: codes inherit the
    * k-means centroids' run-dependent low bits.
    */
  def pqTopK(vectors: DataFrame, queries: DataFrame, k: Int = 5,
             m: Int = 8, ksub: Int = 16, iters: Int = 5): DataFrame = {
    val (codes, lut) = adcInputs(vectors, queries, m, ksub, iters)
    adcRank(codes
      .join(broadcast(lut), Seq("__sub", "__code"))
      .filter(col("query_id") =!= col("neighbor_id")), m, k)
  }

  /** What [[pqTopK]] and [[ivfPqTopK]] score with: the corpus codes
    * exploded to (neighbor_id, __sub, __code), and the per-query LUT
    * (query_id, __sub, __code, __d) holding the exact squared L2 from each
    * query subvector to every codebook centroid.
    */
  private def adcInputs(vectors: DataFrame, queries: DataFrame, m: Int, ksub: Int,
                        iters: Int): (DataFrame, DataFrame) = {
    val books = pqCodebooks(vectors, m, ksub, iters)
    val codes = pqEncode(vectors, books)
      .select(col("vec_id").as("neighbor_id"), posexplode(col("codes")))
      .withColumnRenamed("pos", "__sub").withColumnRenamed("col", "__code")
    val lut = subVectors(queries, "query_id", m, books(0)(0).length)
      .join(broadcast(bookTable(vectors.sparkSession, books)), "__sub")
      .select(col("query_id"), col("__sub"), col("__code"),
        VectorExprs.l2Sq(col("__sv"), col("__cent")).as("__d"))
    (codes, lut)
  }

  /** The ADC tail: each (query, neighbor)'s m LUT distances summed to
    * est_dist, ranked ascending. A pair missing a sub never happens —
    * codes are total — but the `__n === m` guard keeps the invariant so a
    * broken encode fails loudly.
    */
  private def adcRank(scored: DataFrame, m: Int, k: Int): DataFrame =
    topK(scored
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__d")).as("est_dist"), count(lit(1)).as("__n"))
      .filter(col("__n") === m), col("est_dist").asc, k)
      .drop("__n")

  /** IVF-PQ: coarse-quantizer routing (nprobe of nlist lists per query,
    * exactly [[ivfTopK]]'s probe machinery) composed with PQ ADC scoring
    * over the CANDIDATES only — the billion-scale ANN shape: search cost ≈
    * (nprobe/nlist) × corpus, and what's scored is m small codes per
    * candidate, never the full-precision vectors. This variant PQ-encodes
    * raw vectors (IVFFlat-style routing + ADC); classic residual encoding
    * is the refinement on top, not a different plan shape. Recall is
    * floor-checked (llm_ivfpq_near_recall) like the IVF and PQ rows.
    */
  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, k: Int = 5,
                nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
                iters: Int = 5): DataFrame = {
    val cand = ivfCandidates(vectors, queries, nlist, nprobe, iters)
    val (codes, lut) = adcInputs(vectors, queries, m, ksub, iters)
    adcRank(cand.join(codes, "neighbor_id")
      .join(broadcast(lut), Seq("query_id", "__sub", "__code")), m, k)
  }
}
