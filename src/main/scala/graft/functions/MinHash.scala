package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash + LSH fuzzy deduplication over documents, 100 TB-shaped:
  *
  *  - each shingle is hashed ONCE (xxhash64 reduced mod a prime); the
  *    numPerms permutation values derive arithmetically from that single
  *    hash as (a_p·h + b_p) mod P — the classic affine MinHash family (the
  *    same construction Spark MLlib's MinHashLSH uses). This replaces a
  *    full-string rehash per permutation with one multiply-add, cutting the
  *    signature constant factor by ~numPerms;
  *  - candidate generation is LSH banding: equal band-hash → same bucket;
  *    ONE shuffle keyed by (band, bandHash), never an all-pairs compare —
  *    within-bucket pairing is quadratic only in bucket size, and buckets
  *    are bounded because equal band-hash implies near-duplicate content.
  *    The band self-join carries ids only; the 128-long signature arrays
  *    are re-attached AFTER the distinct on the id pair, so they cross the
  *    shuffle once per side instead of once per band per side;
  *  - verification re-checks candidate pairs on full-signature agreement
  *    (estimated Jaccard), and clustering keeps the minimum doc id per
  *    connected component approximated by "representative = min candidate
  *    neighbor" (single pass; exact union-find would iterate — documented).
  *
  * With numPerms = bands × rowsPerBand = 128 = 16×8, the candidate
  * probability curve has its threshold near t ≈ (1/16)^(1/8) ≈ 0.71 Jaccard.
  */
object MinHash {

  /** Modulus of the affine permutation family; a prime just under 2^31 so
    * a·h + b stays well inside a 64-bit long (same prime as MLlib).
    */
  private val Prime = 2038074743L

  /** Deterministic per-permutation affine coefficients (a_p odd-ish in
    * [1, P), b_p in [0, P)), fixed seed — reproducible everywhere with no
    * driver-side state to ship.
    */
  /** Exposed for the DuckDB oracle replay (LlmHashOracles inlines the
    * coefficient arrays into the SQL).
    */
  private[graft] def affineCoeffs(numPerms: Int): (Array[Long], Array[Long]) = coeffs(numPerms)

  private def coeffs(numPerms: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(0x5eed)
    val as = Array.fill(numPerms)(1L + rnd.nextInt((Prime - 1).toInt))
    val bs = Array.fill(numPerms)(rnd.nextInt(Prime.toInt).toLong)
    (as, bs)
  }

  /** Word n-gram shingles of the normalized text. */
  def shingles(text: Column, n: Int = 3): Column = {
    val tokens = split(TextOps.normalized(text), " ")
    when(size(tokens) <= n, array(concat_ws(" ", tokens)))
      .otherwise(transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))
  }

  /** One base hash per shingle, reduced into [0, Prime). Materialize this
    * (projection + cache/checkpoint) before signatureFromHashes so the
    * string hashing runs once, not once per permutation.
    */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => pmod(xxhash64(s), lit(Prime)))

  /** MinHash signature from pre-computed shingle hashes: a single fold over
    * the hash array, zip-min'ing the numPerms affine images of each hash
    * into the accumulator — O(shingles × numPerms) multiply-adds, zero
    * string work.
    */
  def signatureFromHashes(hashCol: Column, numPerms: Int = 128): Column = {
    val (as, bs) = coeffs(numPerms)
    val colA = array(as.map(lit): _*)
    val colB = array(bs.map(lit): _*)
    aggregate(
      hashCol,
      array_repeat(lit(Long.MaxValue), numPerms),
      (acc, h) => zip_with(
        zip_with(colA, colB, (a, b) => pmod(a * h + b, lit(Prime))),
        acc, (v, m) => least(v, m)))
  }

  /** MinHash signature straight from shingles (convenience; prefer the
    * two-step form with a materialization boundary between hashing and
    * signature when the plan reuses the signature).
    */
  def signature(shingleCol: Column, numPerms: Int = 128): Column =
    signatureFromHashes(shingleHashes(shingleCol), numPerms)

  /** The text→signature fold as a plain-Scala mapPartitions kernel.
    *
    * Higher-order expressions (`aggregate`/`zip_with`/`transform`) never hit
    * whole-stage codegen — every multiply-add of the signature fold runs
    * interpreted, and that constant factor was the single most expensive
    * query in the bench (~15 s of a 46 s suite at sf0.1). This kernel does
    * the identical work — Spark's own xxhash64 (same seed 42) per shingle,
    * then the affine min-fold — in while-loops: O(shingles × numPerms)
    * multiply-adds at native speed, no string re-hashing per permutation.
    *
    * Bit-compatible with [[signature]]∘[[shingleHashes]]∘[[shingles]]: the
    * normalization (trim-spaces → lowercase → `\s+`→" ", as
    * [[TextOps.normalized]]), shingling, hashing and fold reproduce the
    * expression semantics value-for-value, so candidate pairs and survivor
    * sets are unchanged. The input is widened first ([[graft.core.Widen]]):
    * a one-row-group corpus would otherwise run the kernel on one thread.
    */
  def withSignatures(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                     numPerms: Int = 128, n: Int = 3): DataFrame = {
    val (as, bs) = coeffs(numPerms)
    val in = graft.core.Widen.toCores(
      docs.select(col(idCol).as("id"), col(textCol).cast("string").as("t")))
    val outSchema = StructType(Seq(
      in.schema.head, StructField("sig", ArrayType(LongType, containsNull = false))))
    in.mapPartitions { rows =>
      rows.map { r =>
        val sig = signatureOf(r.getString(1), as, bs, numPerms, n)
        Row(r.get(0), sig)
      }
    }(Encoders.row(outSchema))
  }

  /** Spark's trim strips 0x20 only; then lower; then whitespace-run split —
    * the exact token sequence of TextOps.normalized + split(" ", -1): a
    * ws-run collapse to " " followed by a space split yields the segments
    * BETWEEN ws runs, with one empty token for a leading run and one for a
    * trailing run (split -1 keeps trailing empties) and [""] for empty
    * input. r18: that is computed directly by one char scan — the former
    * regex collapse built an intermediate collapsed String and ran a
    * second split pass per document on the shingle hot path. Parity with
    * the regex+split form is pinned by MinHashSpec.
    */
  private def isWsChar(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  private[functions] def normTokens(text: String): Array[String] = {
    var b0 = 0
    var e0 = text.length
    while (b0 < e0 && text.charAt(b0) == ' ') b0 += 1
    while (e0 > b0 && text.charAt(e0 - 1) == ' ') e0 -= 1
    val s = text.substring(b0, e0).toLowerCase
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[String](16)
    var i = 0
    var start = 0
    while (i < n) {
      if (isWsChar(s.charAt(i))) {
        out += s.substring(start, i)
        while (i < n && isWsChar(s.charAt(i))) i += 1
        start = i
      } else i += 1
    }
    out += s.substring(start, n)
    out.toArray
  }

  /** Applies `f` to the reduced xxhash64 of every word n-gram shingle. */
  private def foreachShingleHash(tokens: Array[String], n: Int)(f: Long => Unit): Unit = {
    def hashOf(shingle: String): Long = {
      val raw = XxHash64Function.hash(UTF8String.fromString(shingle), StringType, 42L)
      ((raw % Prime) + Prime) % Prime
    }
    if (tokens.length <= n) f(hashOf(tokens.mkString(" ")))
    else {
      var i = 0
      val sb = new java.lang.StringBuilder
      while (i <= tokens.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(tokens(i + j))
          j += 1
        }
        f(hashOf(sb.toString))
        i += 1
      }
    }
  }

  private def signatureOf(text: String, as: Array[Long], bs: Array[Long],
                          numPerms: Int, n: Int): Array[Long] = {
    val acc = Array.fill(numPerms)(Long.MaxValue)
    foreachShingleHash(normTokens(text), n) { h =>
      var p = 0
      while (p < numPerms) {
        val v = (as(p) * h + bs(p)) % Prime
        if (v < acc(p)) acc(p) = v
        p += 1
      }
    }
    acc
  }

  /** Distinct shingle-hash set per doc, as a kernel — the verify-stage input
    * for exact Jaccard (same SET as
    * array_distinct(shingleHashes(shingles(text)))), emitted SORTED
    * ascending (r17): the verify kernel is then one allocation-free merge
    * scan per candidate pair ([[graft.functions.SortedIntersectCount]])
    * instead of two hash-set builds; the per-doc sort amortizes over the
    * hundreds of pairs a candidate doc participates in. Set membership is
    * unchanged — every consumer is order-insensitive (intersect/union
    * semantics, or a token explode).
    */
  def withShingleHashSets(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id", n: Int = 3): DataFrame = {
    // no Widen.toCores here: the verify stage's input is candidate-bound
    // (semi-joined to pair ids), so it is small by construction and a
    // forced repartition only adds a shuffle + per-task overhead
    val in = docs.select(col(idCol).as("id"), col(textCol).cast("string").as("t"))
    val outSchema = StructType(Seq(
      in.schema.head, StructField("hs", ArrayType(LongType, containsNull = false))))
    in.mapPartitions { rows =>
      rows.map { r =>
        val set = new java.util.LinkedHashSet[java.lang.Long]()
        foreachShingleHash(normTokens(r.getString(1)), n)(h => set.add(h))
        val arr = new Array[Long](set.size)
        val it = set.iterator()
        var i = 0
        while (it.hasNext) { arr(i) = it.next(); i += 1 }
        java.util.Arrays.sort(arr)
        Row(r.get(0), arr)
      }
    }(Encoders.row(outSchema))
  }

  /** (band, bandHash) rows for LSH bucketing: murmur3 of each signature
    * slice.
    */
  def bands(sig: Column, numBands: Int = 16, rowsPerBand: Int = 8): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => struct(b.as("band"), hash(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("band_hash")))

  /** Packed LSH band-key frame `(id, bk)` — the signature pass plus the
    * band explode, with (band, band_hash) packed injectively into one long
    * (band high 32 bits, murmur3 band hash zero-extended low 32, the
    * [[candidatePairs]] key shape). This IS the persistable band index of
    * an admitted corpus: write it `bucketBy(bk)` once at ingest
    * ([[graft.sources.Sinks.writeBucketed]]) and every future delta batch
    * probes it with its index-side shuffle already paid — the
    * `llm_incremental_bucketed` shape.
    */
  def bandKeys(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
               numPerms: Int = 128, numBands: Int = 16, rowsPerBand: Int = 8): DataFrame =
    bandFrame(withSignatures(docs, textCol, idCol, numPerms), numBands, rowsPerBand)

  /** `(id, bk)` rows of an `(id, sig)` frame: the band explode with the
    * packed long key.
    */
  private def bandFrame(sigd: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame =
    sigd.select(col("id"), explode(bands(col("sig"), numBands, rowsPerBand)).as("b"))
      .select(col("id"),
        (shiftleft(col("b.band").cast("long"), 32) bitwiseOR
          (col("b.band_hash").cast("long") bitwiseAND lit(0xFFFFFFFFL))).as("bk"))

  /** Candidate near-duplicate pairs (a < b) with their estimated Jaccard
    * (fraction of agreeing signature positions). One shuffle on the band
    * bucket + one on the scalar pair key for distinct; signatures join back
    * after the distinct.
    *
    * Materialization contract (shared by every graft call that cuts a plan
    * mid-way — [[crossCandidatePairs]], [[Similarity]]'s LSH and semantic
    * paths, [[PrefixJoin.exactJaccardPairs]], [[Dbscan.cluster]],
    * [[graft.operators.ConnectedComponents]]): an intermediate frame that
    * several subtrees of one downstream action consume is computed ONCE,
    * eagerly, while the result is built, by `localCheckpoint(true)`. The
    * blocks live exactly as long as the result that reads them — the
    * ContextCleaner frees them once it is unreachable — so a second action
    * over the result reuses them and no call leaves a cache behind. A block
    * lost with its executor fails the job instead of being recomputed; on
    * the `local[*]` [[graft.core.GraftSession]] that cannot happen. A caller
    * that needs reliable storage checkpoints the inputs or the result with
    * Spark's own `Dataset.checkpoint()`.
    */
  def candidatePairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                     numPerms: Int = 128, numBands: Int = 16, rowsPerBand: Int = 8): DataFrame = {
    // The signature materialization boundary is load-bearing: the signature
    // frame is consumed three times (band explode + both sides of the
    // re-attach), and without a boundary the projection collapse would
    // re-run the text kernel per consumer; eager, so the three subtrees of
    // the one downstream action cannot race to compute it concurrently.
    val sigd = withSignatures(docs, textCol, idCol, numPerms).localCheckpoint(true)
    // (band, bandHash) packed into ONE long — band in the high 32 bits,
    // the murmur3 band hash zero-extended in the low 32 — so the bucket
    // key is injective, the shuffle carries two longs per row instead of
    // a struct, and the join comparator is a single long compare. The
    // BUCKETS are the same (band, hash) pairs the oracle replays; only
    // the physical key shape changes. The exploded frame materializes
    // eagerly (scalars only: id + key) so the self-join's two sides read
    // it from the checkpoint instead of each re-running the explode over
    // the signature arrays (measured ~2× the band-stage cost at 500k docs).
    val banded = bandFrame(sigd, numBands, rowsPerBand).localCheckpoint(true)
    val a = banded.select(col("bk").as("bk_a"), col("id").as("id_a"))
    val bd = banded.select(col("bk").as("bk_b"), col("id").as("id_b"))
    val idPairs = a.join(bd, col("bk_a") === col("bk_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    idPairs
      .join(sigd.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigd.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), eq => eq))
          / lit(numPerms.toDouble)).as("est_jaccard"))
  }

  /** Candidate pairs between a PROBE frame (a newly-arrived batch) and an
    * INDEX frame (the existing corpus): identical signature/band
    * construction to [[candidatePairs]], but the band join is
    * probe-bands → index-bands instead of a self-join — the INCREMENTAL
    * ingest shape. At 100 TB the corpus's banded table is PREBUILT and
    * bucketed on the packed band key (a layout job, amortized over every
    * future batch), so admitting a new batch costs one batch-sized
    * signature pass + one shuffle of the batch bands into the index's
    * bucketing — zero corpus-side recompute, which is the whole point of
    * incremental dedup (re-running the self-join corpus-wide per batch
    * would be O(corpus) per arrival).
    *
    * Returns distinct (probe_id, index_id, est_jaccard); ids need not be
    * disjoint — no `<` ordering is applied across frames.
    */
  def crossCandidatePairs(probe: DataFrame, index: DataFrame,
                          textCol: String = "text", idCol: String = "doc_id",
                          numPerms: Int = 128, numBands: Int = 16,
                          rowsPerBand: Int = 8): DataFrame = {
    def prep(docs: DataFrame): (DataFrame, DataFrame) = {
      val sig = withSignatures(docs, textCol, idCol, numPerms).localCheckpoint(true)
      (sig, bandFrame(sig, numBands, rowsPerBand))
    }
    val (sigP, bandP) = prep(probe)
    val (sigI, bandI) = prep(index)
    val idPairs = bandP.select(col("bk"), col("id").as("id_a"))
      .join(bandI.select(col("bk"), col("id").as("id_b")), "bk")
      .select(col("id_a"), col("id_b"))
      .distinct()
    idPairs
      .join(sigP.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigI.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), eq => eq))
          / lit(numPerms.toDouble)).as("est_jaccard"))
  }

  /** Exact n-gram Jaccard verification on candidate pairs: the true
    * |A∩B|/|A∪B| over the (distinct) shingle-hash sets, attached to each
    * candidate pair. Only docs that appear in a pair get re-shingled (a
    * semi-join keeps the verify stage proportional to candidates, not to
    * corpus size) — the classic LSH-then-verify shape at 100 TB.
    */
  /** Exact-Jaccard attach for a candidate-pair frame. Two strategies for
    * the set-attach joins, chosen by the caller (both exact, identical
    * output):
    *
    *  - DEFAULT (shuffled SMJ at session width): right for model-sized pair
    *    frames — the LSH candidate sets, the sf0.1-and-below surface.
    *  - `broadcastSets = true`: the shingle-set frame is broadcast and both
    *    attaches become map-side hash joins in ONE pipelined stage, so the
    *    pair frame NEVER reshuffles carrying the ~0.5-1 KB set arrays.
    *    This is the only shape that survives candidate-VOLUME-driven pair
    *    frames: at sf10 the prefix join's measured 5.6e8 candidates put
    *    ~14 GB of array-carrying rows through each 32-wide SMJ task
    *    (spill-during-spill OOM), and at a task-safe 520-wide repartition
    *    the same rows wrote ~340 GB of shuffle files (disk wall). Broadcast
    *    caps the cost at one corpus-sets copy per executor (~250 MB at
    *    500k docs) plus the pairs-only distinct shuffle (16 B rows).
    *    The caller asserts the set frame is executor-memory-sized — true
    *    whenever docs × avgShingles × 8 B ≲ 1 GB; beyond that, a corpus
    *    this dense should be deduped by banded LSH, not the exact join
    *    (see PrefixJoin's scale note).
    *  - `numPartitions`: middle path — explicit width for the shuffled
    *    joins (both sides repartitioned to the SAME hash partitioning, so
    *    EnsureRequirements adds no further exchange and AQE cannot coalesce
    *    it). Keeps per-task sort volume bounded when the pair frame is big
    *    but disk can absorb the shuffle.
    *  - `minJaccard = Some((tnum, den))`: threshold-bounded verify for
    *    callers that FILTER `jaccard ≥ τ` immediately downstream (the
    *    prefix join): pairs whose Jaccard is provably < tnum/den get
    *    `jaccard = −1.0` from an early-terminating merge scan
    *    ([[VectorExprs.sortedJaccardThresholded]]) instead of a full scan;
    *    pairs at or above tnum/den get the bit-identical exact value.
    *    tnum/den MUST be ≤ the caller's filter threshold, or real pairs
    *    would surface as −1.0.
    */
  def withExactJaccard(pairs: DataFrame, docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id",
                       numPartitions: Option[Int] = None,
                       broadcastSets: Boolean = false,
                       minJaccard: Option[(Long, Long)] = None): DataFrame = {
    def jac(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      minJaccard match {
        case Some((tnum, den)) => VectorExprs.sortedJaccardThresholded(a, b, tnum, den)
        case None =>
          val inter = VectorExprs.sortedIntersectCount(a, b)
          inter.cast("double") / (size(a) + size(b) - inter)
      }
    val ids = pairs.select(col("id_a").as("__jid"))
      .union(pairs.select(col("id_b").as("__jid"))).distinct()
    val hs = withShingleHashSets(
      docs.join(ids, docs(idCol) === ids("__jid"), "left_semi"), textCol, idCol)
      .select(col("id").as("__jid"), col("hs").as("__hs"))
    if (broadcastSets) {
      // ONE broadcast of the set frame, consumed by both attach joins under
      // different aliases: the two BroadcastExchange subplans canonicalize
      // identical, so ReuseExchange materializes (and executes the
      // candidate-ids semi-join + shingle kernel behind) the corpus sets
      // exactly ONCE per run — the earlier per-side broadcast() re-ran the
      // whole semi-join/shingle pipeline twice.
      // r17 verify kernel: |A∩B| by one sorted-merge scan (the producer
      // sorts each set once), |A∪B| = |A|+|B|−|A∩B| by distinctness —
      // same integers, same double division, zero per-pair allocation
      // (size(array_intersect)/size(array_union) built two hash sets AND
      // materialized both result arrays per candidate pair). The jac
      // variant (bounded vs full) is chosen above from `minJaccard`.
      val h = broadcast(hs)
      pairs.as("__p")
        .join(h.as("__ha"), col("__p.id_a") === col("__ha.__jid"))
        .join(h.as("__hb"), col("__p.id_b") === col("__hb.__jid"))
        .select(col("__p.*"),
          jac(col("__ha.__hs"), col("__hb.__hs")).as("jaccard"))
    } else {
      def byKey(df: DataFrame, key: String): DataFrame =
        numPartitions.fold(df)(n => df.repartition(n, col(key)))
      val hsA = hs.select(col("__jid").as("id_a"), col("__hs").as("__hs_a"))
      val hsB = hs.select(col("__jid").as("id_b"), col("__hs").as("__hs_b"))
      byKey(byKey(pairs, "id_a")
          .join(byKey(hsA, "id_a"), "id_a"), "id_b")
        .join(byKey(hsB, "id_b"), "id_b")
        .withColumn("jaccard", jac(col("__hs_a"), col("__hs_b")))
        .drop("__hs_a", "__hs_b")
    }
  }

  /** Fuzzy dedup: docs whose estimated Jaccard with a smaller-id candidate
    * exceeds `threshold` are dropped; returns the survivors.
    */
  def dedupFuzzy(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                 threshold: Double = 0.8): DataFrame =
    dedupFuzzyFromPairs(docs, candidatePairs(docs, textCol, idCol), idCol, threshold)

  /** Same, reusing an already-computed pairs frame. */
  def dedupFuzzyFromPairs(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
                          threshold: Double = 0.8): DataFrame = {
    val dups = pairs.filter(col("est_jaccard") >= threshold)
      .select(col("id_b").as("__dup_id")).distinct()
    docs.join(dups, docs(idCol) === dups("__dup_id"), "left_anti")
  }

  /** Verify-then-drop dedup: LSH candidates are re-scored with EXACT n-gram
    * Jaccard before the drop decision, so the signature estimate's false
    * positives never cost a document and its false negatives on recalled
    * candidates are repaired. Same shuffle shape as the estimate path plus
    * the verification join — the grade of dedup a training corpus actually
    * ships with.
    */
  def dedupFuzzyVerified(docs: DataFrame, pairs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id", threshold: Double = 0.8): DataFrame = {
    val dups = withExactJaccard(pairs, docs, textCol, idCol)
      .filter(col("jaccard") >= threshold)
      .select(col("id_b").as("__dup_id")).distinct()
    docs.join(dups, docs(idCol) === dups("__dup_id"), "left_anti")
  }
}
