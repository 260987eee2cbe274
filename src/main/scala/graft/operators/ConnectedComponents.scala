package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge frame — the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14), which converges in O(log² n) rounds
  * on ANY graph shape and keeps every reduce key's fan-in bounded by node
  * degree — no driver-side graph, no assumption that components are
  * shallow. This is the canonical completion of a dedup pipeline: pair
  * hits (near-duplicate edges) become duplicate GROUPS with a
  * deterministic min-id representative, so keep-one-per-group, group-size
  * stats, and provenance all fall out of one assignment table.
  *
  * Each round is two star operations, each ONE shuffle on the node id:
  *
  *  - large-star: every node u links each strictly-larger neighbor to
  *    m(u) = min(u ∪ Γ(u));
  *  - small-star: every node u links each not-larger neighbor (and itself)
  *    to the minimum over those.
  *
  * Edges live as plain (a, b) rows — scalars only ride the shuffles. The
  * fixpoint is detected by a one-action (count, Σa, Σb) fingerprint per
  * round — the star ops are monotone in the partner ids — with one exact
  * set-difference confirmation when the fingerprint stabilizes; `maxIters`
  * is a safety valve, not a tuning knob.
  */
object ConnectedComponents {

  private def canon(edges: DataFrame): DataFrame =
    edges.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
    val mins = sym.groupBy(col("a"))
      .agg(min(col("b")).as("__mb"))
      .select(col("a"), least(col("a"), col("__mb")).as("__m"))
    sym.join(mins, "a")
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("__m").as("b"))
  }

  private def smallStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
    val smaller = sym.filter(col("b") < col("a"))
    val mins = smaller.groupBy(col("a")).agg(min(col("b")).as("__m"))
    smaller.join(mins, "a")
      .filter(col("b") =!= col("__m"))
      .select(col("b").as("a"), col("__m").as("b"))
      .union(mins.select(col("a"), col("__m").as("b")))
  }

  /** (id, component) for every node appearing in `edges` (two long columns
    * named a, b); component = the minimum node id reachable. Deterministic.
    *
    * Each round MUST truncate lineage (eager localCheckpoint): a star step
    * references its input four times (two unions + a join), so an uncut
    * logical plan grows ~4^rounds and Catalyst analysis — not the data —
    * becomes the bottleneck by round ten. localCheckpoint keeps the edge
    * frame distributed; swap in `checkpoint` (reliable storage) for runs
    * where losing an executor mid-iteration must be recoverable.
    */
  def components(edges: DataFrame, maxIters: Int = 50): DataFrame =
    componentsWithRounds(edges, maxIters)._1

  /** [[components]] plus the star-rounds it took to reach the fixpoint —
    * the scaling number for CC (work is rounds × edge shuffles, and
    * Kiveris-style alternation converges in O(log² n) rounds). Returned
    * per call, so concurrent calls in one session each see their own.
    */
  private[graft] def componentsWithRounds(edges: DataFrame,
                                          maxIters: Int = 50): (DataFrame, Int) = {
    // (count, Σa, Σb) fingerprint with ZERO extra actions per round (r17):
    // the metrics ride the round's own checkpoint materialization as an
    // `observe()` node, read back from queryExecution.observedMetrics after
    // the eager localCheckpoint. Star ops only ever lower partner ids, so an
    // unchanged fingerprint is a near-certain fixpoint — confirmed by ONE
    // exact set-difference check at that point (not per round, the r8
    // cost). Decimal sums: ANSI mode would throw on a long-sum overflow at
    // extreme id ranges. A Spark version that stops populating
    // observedMetrics on the checkpoint action fails loudly here rather than
    // paying a silent second pass per round.
    def checkpointWithStats(df: DataFrame): (DataFrame, (Long, BigDecimal, BigDecimal)) = {
      val observed = df.observe("cc_fingerprint", count(lit(1)).as("n"),
        sum(col("a").cast("decimal(38,0)")).as("sa"),
        sum(col("b").cast("decimal(38,0)")).as("sb"))
      val ck = observed.localCheckpoint(true)
      val r = observed.queryExecution.observedMetrics.getOrElse("cc_fingerprint",
        throw new IllegalStateException(
          "observe channel cc_fingerprint missing after the checkpoint action"))
      (ck, (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
        if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2))))
    }
    var (cur, n) = checkpointWithStats(canon(edges))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val (next, m) = checkpointWithStats(canon(smallStar(largeStar(cur))))
      converged = m == n && next.except(cur).isEmpty
      cur = next
      n = m
      it += 1
    }
    // at the fixpoint every edge is (member, root); roots map to themselves
    val assigned = cur.select(col("a").as("id"), col("b").as("component"))
      .union(cur.select(col("b").as("id"), col("b").as("component")))
      .distinct()
    (assigned, it)
  }
}
