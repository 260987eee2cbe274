package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT set-similarity join via prefix filtering (AllPairs/PPJoin-style) —
  * the complete complement to [[MinHash]]'s probabilistic LSH path.
  *
  * LSH banding trades recall for speed: a true pair sitting exactly at the
  * Jaccard threshold has a per-pair chance of missing every band (documented
  * on `llm_dup_clusters` / `llm_cluster_canonical`). This operator removes
  * that assumption: it enumerates EVERY pair with true n-gram-shingle
  * Jaccard ≥ τ, with no all-pairs compare, using the prefix-filter bound —
  * so the clustering rows built on it match the oracle's all-pairs edge set
  * by construction, on any fixture.
  *
  * Shape (all shuffles keyed, nothing quadratic in corpus size):
  *   1. distinct shingle-hash set per doc (one kernel pass, shared with the
  *      MinHash verify stage — identical normalization/shingling);
  *   2. global token order = (document frequency ASC, hash ASC): one
  *      groupBy-count shuffle on the token. Rare-first ordering is the
  *      classic AllPairs optimization — it puts the LOW-df tokens into
  *      prefixes, so prefix-token buckets stay small;
  *   3. prefix filter, LENGTH-ORDERED (PPJoin): the shorter doc of a pair
  *      indexes only its first |d| − ⌈2τ/(1+τ)·|d|⌉ + 1 tokens, the longer
  *      its first |d| − ⌈τ·|d|⌉ + 1. Completeness: J(A,B) ≥ τ ⇔
  *      |A∩B| ≥ ⌈τ/(1+τ)·(|A|+|B|)⌉, so fewer than that many tokens can
  *      sit outside either role prefix — a qualifying pair MUST collide on
  *      some prefix token (Bayardo et al., WWW'07; Xiao et al., WWW'08);
  *   4. candidate generation: join of the two role-prefix frames on the
  *      token, (len, id)-lexicographic role ordering, the length filter
  *      τ·|B| ≤ |A| (the other direction is the ordering itself), and the
  *      PPJoin positional filter at the tight α — all before the distinct;
  *   5. exact verification on the candidate pairs only
  *      ([[MinHash.withExactJaccard]] — semi-joined, candidate-bound).
  *
  * 100 TB story: the df table and the prefix index are both one shuffle
  * each; bucket sizes in the prefix join are bounded by how many documents
  * share a RARE token in their prefix (df-ascending order makes the hot,
  * high-df tokens land in suffixes, which are never indexed). The known
  * adversarial case — millions of near-identical tiny documents whose whole
  * token set IS the prefix — degrades toward the true output size, which is
  * itself quadratic in that clique; output-bound, like `j5_range_join`.
  */
object PrefixJoin {

  /** Name prefix of the observation each [[exactJaccardPairs]] call puts on
    * its candidate frame (suffixed per call: one query may hold several). */
  private val CandidatesObservation = "prefix_cand_"

  /** Candidate pairs (pre-verify, the quantity the prefix filter exists to
    * bound) counted by the prefix joins inside an executed query, read
    * from that query's own observed metrics — pass the QueryExecution of
    * the action that ran, e.g. `df.queryExecution` after `df.collect()`.
    * None when the analyzed plan holds no prefix join. A prefix join whose
    * observation is missing counts 0: with no candidates, AQE's
    * empty-relation propagation replaces the observed subtree and drops
    * its metric node.
    */
  def candidatePairs(qe: org.apache.spark.sql.execution.QueryExecution): Option[Long] = {
    val names = qe.analyzed.collect {
      case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
        if c.name.startsWith(CandidatesObservation) => c.name
    }
    if (names.isEmpty) None
    else Some(names.distinct.map(n => qe.observedMetrics.get(n).fold(0L)(_.getLong(0))).sum)
  }

  /** Verify-strategy config: byte budget for broadcasting the corpus
    * shingle-set frame in the exact-Jaccard verify stage
    * ([[graft.functions.MinHash.withExactJaccard]] `broadcastSets`). The
    * estimate is `tokenRows × 16 B` (8 B hash + array/row overhead); while
    * it fits, both set-attach joins are map-side and the candidate frame
    * never reshuffles carrying ~1 KB set arrays. Beyond the budget the
    * verify falls back to width-capped shuffled SMJ — correct but
    * disk-hungry (measured ~340 GB of shuffle files at sf10 / 520-wide on
    * the adversarial corpus; a corpus that dense is banded-LSH territory).
    * The 1.6 GB default (≈1e8 token rows ≈ this sandbox's measured-safe
    * bound) is deliberately `autoBroadcastJoinThreshold`-style session
    * config, not a constant: a real cluster sizes it to executor memory.
    */
  val BroadcastBytesKey = "spark.graft.exactJaccard.broadcastMaxBytes"
  private val BroadcastBytesDefault = 1600000000L
  private val BytesPerTokenRow = 16L

  /** All pairs (id_a < id_b) with exact shingle-set Jaccard ≥ `threshold`,
    * plus the verified `jaccard` value.
    *
    * Threshold arithmetic is integer-exact: the filters need ⌈τ·len⌉ and
    * `len_a ≥ τ·len_b`, and double-precision `ceil(len * τ)` can OVER-round
    * when the product lands a hair above an integer (0.7·10 = 7.000…001 in
    * IEEE754 → ceil 8), silently shortening the prefix and dropping true
    * pairs exactly at the threshold. We quantize τ DOWN to a rational
    * tnum/10⁹ (floor, so tnum/den ≤ τ) and compute ⌈len·tnum/den⌉ with
    * 64-bit integer DIV — biasing down can only lengthen the prefix and
    * loosen the filters, so completeness holds for ANY τ, not just the
    * exactly-representable shipped 0.8.
    */
  def exactJaccardPairs(docs: DataFrame, threshold: Double = 0.8,
                        textCol: String = "text", idCol: String = "doc_id",
                        n: Int = 3): DataFrame = {
    val den = 1000000000L
    val tnum = math.floor(threshold * den).toLong
    // ⌈lenExpr·τ⌉, exactly, in long arithmetic (lenExpr ≤ 2^31, product ≤
    // 2.1e18 < Long.Max): (len*tnum + den-1) DIV den
    def ceilTau(lenExpr: String): org.apache.spark.sql.Column =
      expr(s"CAST((CAST(($lenExpr) AS BIGINT) * $tnum + ${den - 1}) DIV $den AS INT)")
    // corpus-wide kernel input: same single-row-group widening as the
    // signature path (graft.core.Widen policy)
    val hs = MinHash.withShingleHashSets(
      graft.core.Widen.toCores(docs.select(col(idCol), col(textCol))),
      textCol, idCol, n)
    // (id, token) rows; consumed twice (df count + order join) → eager
    // localCheckpoint of scalars only, never the text (contract:
    // [[MinHash.candidatePairs]]); the row count reads its local blocks
    val tok = hs.select(col("id"), explode(col("hs")).as("tk")).localCheckpoint(true)
    val tokCount = tok.count()
    // Verify-join strategy: candidate volume scales with corpus size (and
    // explodes on low-entropy vocabularies — 5.6e8 pairs measured at sf10),
    // and the verify joins carry ~1 KB shingle-set arrays per pair row.
    // While the corpus set-frame fits the configured broadcast budget
    // ([[BroadcastBytesKey]]) the sets are BROADCAST so the candidate frame
    // never reshuffles with array payloads — measured alternatives both died
    // at sf10 (32-wide SMJ: spill OOM; 520-wide SMJ: ~340 GB of shuffle
    // files, disk wall). Past the budget, fall back to width-capped shuffled
    // joins — and note a corpus that dense is LSH territory (object
    // scaladoc).
    val maxBroadcastBytes = docs.sparkSession.conf
      .getOption(BroadcastBytesKey).map(_.toLong)
      .getOrElse(BroadcastBytesDefault)
    val broadcastVerify = tokCount * BytesPerTokenRow <= maxBroadcastBytes
    val verifyParts =
      if (broadcastVerify) None
      else Some(math.min(2048L, math.max(32L, tokCount / 50000L)).toInt)
    val dfreq = tok.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    // per-doc token list in global (df ASC, tk ASC) order + set size
    val ordered = tok.join(dfreq, "tk")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tk")))).as("ord"))
      .select(col("id"), col("ord.tk").as("toks"), size(col("ord")).as("len"))
    // LENGTH-ORDERED asymmetric prefixes (PPJoin, Xiao et al. WWW'08 §3):
    // a pair is generated with the SHORTER doc in the a-role and the longer
    // in the b-role ((len, id) lexicographic tie-break), which lets each
    // role index a different prefix:
    //   b-role (longer partner):  first |d| − ⌈τ·|d|⌉ + 1 tokens — against
    //     any shorter partner x, overlap α ≥ τ/(1+τ)(|x|+|d|) ≥ τ·|d|;
    //   a-role (shorter partner): first |d| − ⌈2τ/(1+τ)·|d|⌉ + 1 tokens —
    //     against any partner at least as long, α ≥ 2τ/(1+τ)·|d|.
    // The a-role prefix is the big cut: at τ = 0.8 it is ~11.1% of the
    // token set vs the symmetric 20%, so every token bucket's collision
    // count drops to (0.111/0.2) of the symmetric join's a-side.
    // Completeness: for a qualifying pair the FIRST shared token w* sits
    // inside BOTH role prefixes (if it sat past either prefix, the unshared
    // tokens before it would leave fewer than α shared — the prefix lemma),
    // and w*'s emission passes the positional filter below. Quantizing τ
    // down (tnum/den ≤ τ) only lengthens both prefixes and lowers α —
    // loosening every filter, so completeness holds for any τ.
    def ceil2TauOver1p(lenExpr: String): org.apache.spark.sql.Column =
      expr(s"CAST((CAST(($lenExpr) AS BIGINT) * ${2L * tnum} + ${den + tnum - 1}) " +
        s"DIV ${den + tnum} AS INT)")
    val pfxA = ordered
      .select(col("id"), col("len"),
        posexplode(slice(col("toks"), lit(1),
          (col("len") - ceil2TauOver1p("len") + 1))))
      .withColumnRenamed("col", "tk")
    val pfxB = ordered
      .select(col("id"), col("len"),
        posexplode(slice(col("toks"), lit(1),
          (col("len") - ceilTau("len") + 1))))
      .withColumnRenamed("col", "tk")
    val a = pfxA.select(col("tk"), col("id").as("id_s"), col("len").as("len_s"),
      col("pos").as("pos_s"))
    val b = pfxB.select(col("tk"), col("id").as("id_l"), col("len").as("len_l"),
      col("pos").as("pos_l"))
    // Positional filter with the TIGHT overlap bound: J ≥ τ ⟺
    // |A∩B| ≥ α = ⌈τ/(1+τ)·(|A|+|B|)⌉ — strictly ≥ the r12 ⌈τ·max⌉ bound
    // whenever the length filter passes (α ≥ τ·max ⟺ min ≥ τ·max). At the
    // pair's first common prefix token (0-based i, j) every shared token
    // sits at ≥ i in A and ≥ j in B, so |A∩B| ≤ min(len − i, len − j);
    // later collisions of a qualifying pair may fail the bound, but the
    // first passes and the distinct keeps a pair if ANY emission survives.
    // α in exact integers: ⌈(la+lb)·tnum/(den+tnum)⌉.
    val alpha =
      expr(s"CAST((CAST(len_s + len_l AS BIGINT) * $tnum + ${den + tnum - 1}) " +
        s"DIV ${den + tnum} AS INT)")
    // length filter len_s ≥ τ·len_l as integers: len_s·den ≥ len_l·tnum
    // (tnum/den ≤ τ ⇒ implied by the real inequality — never drops a pair);
    // the other direction is the role ordering itself
    val cand = a.join(b,
        a("tk") === b("tk") &&
          (col("len_s") < col("len_l") ||
            (col("len_s") === col("len_l") && col("id_s") < col("id_l"))) &&
          col("len_s").cast("long") * den >= col("len_l").cast("long") * tnum &&
          least(col("len_s") - col("pos_s"), col("len_l") - col("pos_l")) >= alpha)
      .select(least(col("id_s"), col("id_l")).as("id_a"),
        greatest(col("id_s"), col("id_l")).as("id_b"))
      .distinct()
    // Candidate-count instrumentation rides the query itself via observe()
    // — NO cache, NO extra pass. The first cut cached + counted this frame
    // eagerly, and at sf10 that was the operator's death: on the synthetic
    // low-entropy vocabulary the symmetric prefix filter admitted ~5.6e8
    // candidate pairs (measured; ~0.45% of all-pairs — a 220× cut), and
    // pinning 5.6e8 rows in storage while the distinct's hash map was
    // spilling OOM'd the executor. Uncached, the distinct spills cleanly
    // and the verify join streams. The r17 length-ordered prefixes + tight
    // positional bound cut the measured sf10 candidates to 325,989,530
    // (−42%) and the single-run wall 820 → 693 s (−16% — the residual is
    // Θ(candidates) verify on near-equal-length low-entropy docs, which
    // the positional filter cannot separate). Cost note for 100 TB:
    // everything below the distinct is Θ(candidates) — on low-entropy
    // corpora candidates are inherently dense and banded-LSH MinHash is
    // the right tool; this operator pays that price for COMPLETENESS at
    // the threshold.
    val obsName = s"$CandidatesObservation${System.nanoTime}"
    val observed = cand.observe(obsName, count(lit(1)).as("n"))
    // The count lands in the executing query's own observedMetrics (read it
    // with [[candidatePairs]]).
    // Verify with the THRESHOLD-BOUNDED kernel (r18): every output row must
    // pass `jaccard ≥ threshold` anyway, so below-threshold candidates are
    // abandoned mid-merge-scan the moment c + min(remaining) < α (PPJoin's
    // verification early termination) and surface as jaccard = −1.0, which
    // the filter drops exactly like their true sub-threshold value. Passing
    // pairs get the bit-identical exact Jaccard (tnum/den ≤ τ by the
    // quantize-down above, so no true pair is ever abandoned).
    MinHash.withExactJaccard(observed, docs, textCol, idCol,
        numPartitions = verifyParts, broadcastSets = broadcastVerify,
        minJaccard = Some((tnum, den)))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
