package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.{NativePass, PassKernel}

/** Distributed suffix-array construction by prefix doubling (the
  * Manber–Myers recurrence in its scan-parallel form, cf. Flick & Aluru,
  * SC'15), token-granular over a document corpus — the exact-substring
  * index behind suffix-array dedup of training data (Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better": their
  * single-node suffix array is the step that caps that pipeline's scale;
  * prefix doubling is the standard distributed escape).
  *
  * Semantics: suffixes live WITHIN documents (a suffix runs from a token
  * position to its document's end — never across a document boundary, which
  * concatenation-with-sentinel schemes emulate anyway). Comparison is
  * token-lexicographic, capped at `capTokens` tokens; suffixes equal through
  * the cap tie-break by (doc_id, pos). Token-sequence order equals
  * space-joined-string order whenever every token byte sorts above the
  * space character — true for this corpus' normalized ASCII text (the same
  * precondition the mm_frame_stats oracle verifies) — which is what lets a
  * SQL oracle replay the order with a plain ORDER BY on the capped joined
  * suffix.
  *
  * Scale shape: each doubling round is (a) one equi-join on the composite
  * key (doc_id, pos + 2^k) to fetch the partner rank, and (b) one
  * order-preserving re-rank = global range-partitioned sort + per-partition
  * index assignment (monotonic ids + a #partitions-long offsets collect,
  * nothing driver-side beyond #partitions longs) + a first-index-per-group
  * aggregate. log₂(capTokens) rounds total — at 100 TB this is the honest
  * cost of an EXACT global suffix order; the rolling-hash window pipeline
  * ([[graft.functions.SubstringDedup]]) is the cheaper candidate-based
  * production path, and this operator is its exactness backstop.
  */
object SuffixArray {

  /** Byte budget for broadcasting the per-round partner frame
    * ((doc_id, pos, rank) ≈ 24 B/row) in [[build]]'s doubling loop; past it
    * the partner fetch switches from the broadcast equi-join to the per-doc
    * `lead(rank, span)` window shift (one exchange instead of two per
    * round). Session config, not a constant — mirrors Spark's own 10 MB
    * autoBroadcastJoinThreshold so the small-corpus physical plan is
    * unchanged from the AQE-chosen broadcast it always had.
    */
  val PartnerBroadcastBytesKey = "spark.graft.suffixArray.partnerBroadcastMaxBytes"
  private val PartnerBroadcastBytesDefault = 10L * 1024 * 1024

  /** Global order index by `sortCols`: rows sorted, then assigned their
    * 0-based global position — via the native
    * [[graft.plans.PassKernel.GlobalIndex]] pass: the planner inserts ONE range
    * exchange + sort (OrderedDistribution — no single partition anywhere),
    * and the index append zips the sorted InternalRows directly through a
    * codegen'd projection. No external-Row round-trip (the r14-flagged
    * RDD.zipWithIndex cost) and no per-call materialization (the r15
    * checkpoint+offsets-join attempt measured WORSE, 3.3 → 5.7 s at
    * sf0.1); the only extra job is zipWithIndex's bounded per-partition
    * count — #partitions longs to the driver.
    */
  private[graft] def withGlobalIdx(df: DataFrame, sortCols: Seq[String]): DataFrame =
    NativePass.over(df, PassKernel.GlobalIndex(sortCols))

  /** Order-preserving sparse re-rank: rows that compare equal on `keyCols`
    * share a rank, ranks are monotone in `keyCols` order. The rank value is
    * the group's first global index — sparse, which the doubling recurrence
    * is indifferent to.
    *
    * Implementation: the native segmented scan ([[graft.plans.PassKernel.GlobalRank]])
    * — the frame leaving the range sort is already key-contiguous, so the
    * run-start rank needs only a #partitions-sized boundary exchange, not
    * the `groupBy(min)` + key join (two full hash exchanges per doubling
    * round) the DataFrame form paid. The legacy three-stage form (and its
    * `spark.graft.suffixArray.segmentedRank` escape hatch) was retired in
    * r17 after a full round of green artifacts on the segmented path
    * (r16: sf0.01 + sf0.1 + sf1 hash-green, sf10 A/B 29.6 → 23.1 s);
    * `GlobalIndexRankSpec` still pins exact parity against the public-API
    * groupBy(min)+join form, built inline as the test baseline.
    */
  private[graft] def rankBy(df: DataFrame, keyCols: Seq[String]): DataFrame =
    NativePass.over(df, PassKernel.GlobalRank(keyCols))

  /** Build the capped suffix array: one row per (doc_id, pos) with `sa_rank`
    * = the suffix's 1-based position in the global capped-token order
    * (ties through the cap broken by doc_id, pos).
    *
    * @param docs      (idCol, textCol) corpus slice
    * @param capTokens comparison cap; must be a power of two ≥ 2
    */
  def build(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
            capTokens: Int = 64): DataFrame = {
    require(capTokens >= 2 && (capTokens & (capTokens - 1)) == 0,
      s"capTokens $capTokens must be a power of two >= 2")
    val ranked = rankedToSpan(docs, textCol, idCol, capTokens, Nil)
    withGlobalIdx(ranked, Seq("rank", "doc_id", "pos"))
      .select((col("__idx") + 1).as("sa_rank"), col("doc_id"), col("pos"))
  }

  /** The prefix-doubling core, run to `maxSpan`: returns the
    * (doc_id, pos, rank) frame whose `rank` is the equivalence class of the
    * min(maxSpan, remaining)-token capped prefix — classes of different
    * capped lengths never collide (the −1 partner sentinel separates them
    * at every round). `passengerSpans` names earlier rounds whose rank
    * should ride along as a `__r<span>` column (the k-decomposition readout
    * of [[dupWindowPositions]] needs them; +8 B/row through the later
    * rounds' exchanges, nothing else).
    *
    * Each round is eagerly localCheckpoint'ed (the ConnectedComponents
    * convention): the re-rank runs jobs per round, and an uncut lineage
    * would re-execute every earlier round inside it — O(rounds²) work
    * instead of O(rounds) — and recompute the whole chain again at the
    * caller's action.
    *
    * Partner-rank fetch: rank2(doc, pos) = rank(doc, pos + span), with two
    * size-gated physical forms (one bounded count on the already-
    * materialized round-0 checkpoint decides for all rounds):
    *  - SMALL (frame fits a broadcast): the (doc_id, pos) equi-join — the
    *    partner side broadcasts, zero exchanges per fetch. Forcing the
    *    window form here regressed sf0.1 2.5 -> 3.0 s: it replaced a
    *    broadcast join with a real shuffle.
    *  - LARGE (past the broadcast budget, where the join would shuffle the
    *    frame TWICE per round as an SMJ): positions are DENSE per doc
    *    (posexplode; every round keeps all rows), so the fetch is a per-doc
    *    shift — lead(rank, span) over (doc_id, pos) — one doc_id exchange +
    *    one in-partition sort per round. Document-granular suffixes bound
    *    the per-doc row count, so a window partition cannot outgrow a task.
    */
  private def rankedToSpan(docs: DataFrame, textCol: String, idCol: String,
                           maxSpan: Int, passengerSpans: Seq[Int]): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        posexplode(split(graft.functions.TextOps.normalized(col(textCol)), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("tok"))
    var passengers = Seq.empty[String]
    def carry(span: Int, df: DataFrame): DataFrame =
      if (!passengerSpans.contains(span) || span == maxSpan) df
      else {
        passengers = passengers :+ s"__r$span"
        df.withColumn(s"__r$span", col("rank"))
      }
    // rank covering 1 token
    var ranked = carry(1, rankBy(toks, Seq("tok"))
      .select(col("doc_id"), col("pos"), col("__rank").as("rank")))
      .localCheckpoint(true)
    val rows = ranked.count()
    val maxBroadcast = docs.sparkSession.conf
      .getOption(PartnerBroadcastBytesKey).map(_.toLong)
      .getOrElse(PartnerBroadcastBytesDefault)
    val shiftByWindow = rows * 24L > maxBroadcast
    var span = 1
    while (span < maxSpan) {
      val kept = Seq("doc_id", "pos") ++ passengers
      ranked = carry(span * 2,
        rankBy(partnerFetch(ranked, span, shiftByWindow, passengers), Seq("rank", "rank2"))
          .select((kept.map(col) :+ col("__rank").as("rank")): _*))
        .localCheckpoint(true)
      span *= 2
    }
    ranked
  }

  /** One doubling round's partner fetch (both size-gated forms — see the
    * comment in [[rankedToSpan]]); `passengers` ride along unchanged. */
  private def partnerFetch(ranked: DataFrame, span: Int,
                           shiftByWindow: Boolean,
                           passengers: Seq[String]): DataFrame = {
    val carried = passengers.map(col)
    if (shiftByWindow) {
      val byDocPos = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      ranked.select((Seq(col("doc_id"), col("pos"), col("rank"),
        coalesce(lead(col("rank"), span).over(byDocPos), lit(-1L)).as("rank2")) ++ carried): _*)
    } else {
      val partner = ranked.select(col("doc_id"),
        (col("pos") - span).as("pos"), col("rank").as("rank2"))
      ranked.join(broadcast(partner), Seq("doc_id", "pos"), "left")
        .select((Seq(col("doc_id"), col("pos"), col("rank"),
          coalesce(col("rank2"), lit(-1L)).as("rank2")) ++ carried): _*)
    }
  }

  /** Duplicated fixed-width window positions — the operational dedup output
    * of the exact index (Lee et al. 2021's suffix-array step). A position
    * (doc, pos) hosts a duplicated `k`-token window iff its window's
    * EQUIVALENCE CLASS holds ≥ 2 positions, and the prefix-doubling rounds
    * already compute exact capped-prefix classes — so the readout (r18)
    * stops the doubling at k's binary decomposition instead of building the
    * full capTokens-order array and joining adjacent ranks:
    *
    *  - decompose k = 2^b₁ + 2^b₂ + … (descending); the window-equality
    *    key is (rank_{2^b₁}(pos), rank_{2^b₂}(pos + 2^b₁), …) — component
    *    ranks are exact equivalence classes of capped prefixes (classes of
    *    different capped lengths never collide: the −1 partner sentinel
    *    separates them at every round), and every component of a valid
    *    (≥ k tokens remaining) position covers a FULL 2^bᵢ tokens, so key
    *    equality ⟺ the k-token windows are equal, token for token. For the
    *    shipped k = 10 that is (rank₈(pos), rank₂(pos+8)): rounds run only
    *    to span 8 — the 16/32/64 rounds, the final global range sort, the
    *    token-array re-attach join, and the rank+1 self-join carrying
    *    10-token window arrays all disappear (guide §1.2: the cheapest
    *    execution is the one that skips the work; the r17 form's self-join
    *    was 57.3 s of the sf10 row).
    *  - shifted components ride ONE per-doc window pass (lead(·, offset)
    *    over (doc_id, pos) — positions are dense), which also supplies the
    *    ≥ k-tokens-remaining validity test (lead(pos, k−1) non-null).
    *  - dup detection is then one count-over-key window: every position in
    *    a class of size ≥ 2 is emitted, exactly once — the same set the
    *    old adjacency self-join emitted through union+distinct (all
    *    positions of a class are rank-consecutive, so adjacency chained
    *    them all), pinned by SuffixArraySpec's readout-parity test and the
    *    definitional DuckDB oracle (which groups the window STRINGS).
    *
    * Unlike the rolling-hash pipeline ([[graft.functions.SubstringDedup]],
    * which counts CROSS-DOC duplicates only), this counts ANY second
    * occurrence, within-doc repeats included — the two exact paths
    * cross-check each other's contracts where they overlap.
    *
    * @return one row per position hosting a duplicated k-token window:
    *         (doc_id, pos), pos 1-based.
    */
  def dupWindowPositions(docs: DataFrame, k: Int = 10, textCol: String = "text",
                         idCol: String = "doc_id", capTokens: Int = 64): DataFrame = {
    require(k >= 1 && k <= capTokens, s"k $k must be in [1, capTokens=$capTokens]")
    // binary decomposition, descending: k = Σ comps
    val comps = (30 to 0 by -1).map(1 << _).filter(c => (k & c) != 0)
    val maxComp = comps.head
    val ranked = rankedToSpan(docs, textCol, idCol, maxComp, comps.tail)
    val byDocPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // key components at their cumulative offsets, all off one window pass
    val offsets = comps.scanLeft(0)(_ + _).init
    val keyCols = comps.zip(offsets).zipWithIndex.map { case ((c, off), i) =>
      val src = if (c == maxComp) col("rank") else col(s"__r$c")
      (if (off == 0) src else lead(src, off).over(byDocPos)).as(s"__k$i")
    }
    val valid =
      if (k == 1) lit(true)
      else lead(col("pos"), k - 1).over(byDocPos).isNotNull
    val keyed = ranked
      .select((Seq(col("doc_id"), col("pos"), valid.as("__ok")) ++ keyCols): _*)
      .filter(col("__ok"))
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.indices.map(i => col(s"__k$i")): _*)
    keyed.withColumn("__n", count(lit(1)).over(byKey))
      .filter(col("__n") > 1)
      .select(col("doc_id"), col("pos"))
  }
}
