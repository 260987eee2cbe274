package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact SUBSTRING-level deduplication: find every k-token window that
  * occurs verbatim in more than one document, and the maximal duplicated
  * spans they merge into. This is the span-granular complement to the
  * document-granular dedup family ([[TextOps]] exact, [[MinHash]] /
  * [[PrefixJoin]] fuzzy): two documents that are NOT near-duplicates can
  * still share a boilerplate paragraph, and a training pipeline wants that
  * span found and trimmed, not the whole document dropped. The method
  * follows the published exact-substring-dedup recipe (Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better"): their
  * suffix-array pass finds byte-level repeats on one machine; the
  * distributed equivalent below finds token-window repeats with shuffles
  * that stay hash-/candidate-bound.
  *
  * 100 TB shape — the full window STRINGS never shuffle corpus-wide:
  *
  *  1. window hashing is map-side and string-free: the native
  *     [[TokenWindowHashes]] rolling-hash kernel turns each token array
  *     into its k-window hash array in O(tokens) (each token hashed once,
  *     windows combined by polynomial rolling) — no window-string
  *     materialization anywhere on the corpus-wide path;
  *  2. the corpus-wide shuffle is keyed by that 64-bit window hash —
  *     aggregating `(min_doc, max_doc)` per hash; a hash is CANDIDATE iff
  *     `min_doc != max_doc` (seen in ≥ 2 distinct docs). Duplicated
  *     boilerplate is rare relative to the corpus, so the candidate set is
  *     tiny;
  *  3. only candidate windows (semi-join on the hash) re-group by the full
  *     window string, re-checking `min_doc != max_doc` on the STRING — so
  *     a 64-bit hash collision can create a false candidate (verified
  *     away) but never a false duplicate. Exactness does not ride on the
  *     hash;
  *  4. span merging (gaps-and-islands over window start positions) is a
  *     per-document window function — partition-local after one shuffle by
  *     doc.
  *
  * Reference scope: the reference pipeline dedups at row granularity only
  * (`aggregator_candles.py:64-88` keep-last); substring dedup is part of
  * the training-data extension surface, same ground rules as MinHash/LSH.
  */
object SubstringDedup {

  /** (id, pos, win) — every k-token sliding window of the normalized text,
    * 1-based `pos` (matching DuckDB list indexing in the oracle), one row
    * per window. Documents with fewer than k tokens yield no rows.
    */
  def windows(docs: DataFrame, k: Int, textCol: String = "text",
              idCol: String = "doc_id"): DataFrame = {
    val toks = split(TextOps.normalized(col(textCol)), " ")
    docs
      .select(col(idCol).as("id"), toks.as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - k),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(k))))))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("win"))
  }

  /** Window-(id,pos) rows whose k-token window occurs verbatim in at least
    * one OTHER document. Shuffle plan as per the object scaladoc: hash
    * candidates first, exact string verification on candidates only.
    *
    * The map side never builds window strings at all: the
    * [[TokenWindowHashes]] rolling-hash kernel emits the k-window hash
    * array straight off the token array (O(tokens) per doc, vs
    * O(tokens × k) for hash-of-concat), and strings are reconstructed by
    * token-slice ONLY for candidate (id, pos) rows — candidate-bound work
    * on a corpus where duplicated boilerplate is the rare case.
    */
  def dupWindowPositions(docs: DataFrame, k: Int, textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame =
    dupWindowsWithOwner(docs, k, textCol, idCol).select(col("id"), col("pos"))

  /** The verified dup-window rows with the window's canonical OWNER (the
    * minimum doc_id containing that exact window string) attached — the
    * trim pass's tiebreak: the owner keeps its copy, everyone else's is
    * removable. [[dupWindowPositions]] is this minus the owner column.
    */
  private def dupWindowsWithOwner(docs: DataFrame, k: Int, textCol: String,
                                  idCol: String): DataFrame = {
    val base = tokenized(docs, k, textCol, idCol)
    val hashed = hashedWindows(base, k)
    val candPos = candidatePositions(hashed)
    // Candidate string reconstruction joins the RAW docs ONCE PER DOCUMENT,
    // not once per candidate row: positions are first collected per doc, so
    // the document (the heavy payload) crosses the join exactly once and the
    // per-window strings are sliced out map-side after the join. The earlier
    // row-per-candidate join duplicated each doc's token array across all of
    // its candidate windows — at sf10 a boilerplate-heavy doc with hundreds
    // of candidate windows shuffled hundreds of copies of itself.
    val candByDoc = candPos.groupBy(col("id"))
      .agg(collect_list(col("pos")).as("poss"))
    // Tokenize AFTER the candidate join, not before it: joining `base` here
    // re-tokenized the WHOLE corpus a second time (the projection below the
    // join runs for every row, matched or not), where only candidate docs —
    // rare by design — need their tokens back. `bindOnce` pins the split to
    // one evaluation per row; inlined into the transform lambda it would
    // re-run once per candidate position.
    val cand = candByDoc
      .join(docs.select(col(idCol).as("id"), col(textCol).as("__text")), Seq("id"))
      .select(col("id"), explode(TextOps.bindOnce(
        split(TextOps.normalized(col("__text")), " "),
        toks => transform(col("poss"),
          p => struct(p.as("pos"),
            concat_ws(" ", slice(toks, p, lit(k))).as("win"))))).as("pw"))
      .select(col("id"), col("pw.pos").as("pos"), col("pw.win").as("win"))
    val dupOwn = cand.groupBy(col("win"))
      .agg(min(col("id")).as("owner"), max(col("id")).as("mx"))
      .filter(col("owner") =!= col("mx"))
      .select(col("win"), col("owner"))
    cand.join(dupOwn, Seq("win"))
      .select(col("id"), col("pos"), col("owner"))
  }

  /** (id, toks) per document with ≥ k tokens — the map-side tokenization
    * every stage shares. Package-private for SubstringDedupSpec, not query
    * API.
    */
  private[graft] def tokenized(docs: DataFrame, k: Int, textCol: String,
                               idCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        split(TextOps.normalized(col(textCol)), " ").as("toks"))
      .filter(size(col("toks")) >= k)

  /** (id, pos, h) — every k-window's 64-bit rolling hash, 1-based pos.
    * Map-side and string-free ([[TextExprs.windowHashes]] kernel).
    */
  private[graft] def hashedWindows(base: DataFrame, k: Int): DataFrame =
    base
      .select(col("id"), posexplode(TextExprs.windowHashes(col("toks"), k)))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("h"))

  /** The (id, pos) rows whose window hash was seen in ≥ 2 distinct docs —
    * ONE corpus-wide 8-byte-key shuffle: min/max doc per hash as window
    * aggregates over the hash partitions, filtered in place. The earlier
    * groupBy(h)+left-semi-join form paid the same exchange volume TWICE
    * (the agg's partial rows are ~as many as the windows — hashes are
    * mostly unique — plus the probe side) and, because `hashed` appeared
    * on both sides of the join, re-ran the whole tokenize+rolling-hash
    * subtree a second time. Here the subtree runs once, the frame crosses
    * the network once, and the filter is partition-local after the sort.
    */
  private[graft] def candidatePositions(hashed: DataFrame): DataFrame = {
    val wH = Window.partitionBy(col("h"))
    hashed
      .withColumn("mn", min(col("id")).over(wH))
      .withColumn("mx", max(col("id")).over(wH))
      .filter(col("mn") =!= col("mx"))
      .select(col("id"), col("pos"), col("h"))
  }

  /** Per-document TRIM stats under canonical-owner semantics (the published
    * recipe's "remove all but one occurrence"): for every duplicated
    * window, the minimum doc_id containing it keeps its copy; every other
    * document's occurrence is removable. tokens_removed is the INTERVAL
    * UNION of the removable windows' [pos, pos+k-1] ranges — overlapping
    * windows never double-count. Only documents with at least one removable
    * window are returned.
    *
    * Output: (doc_id, n_tokens, tokens_removed, n_tokens_after).
    */
  def trimStats(docs: DataFrame, k: Int = 10, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val removable = dupWindowsWithOwner(docs, k, textCol, idCol)
      .filter(col("id") =!= col("owner"))
      .select(col("id"), col("pos"))
    val removed = mergeIslands(removable, k)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("tokens_removed"))
    // Only docs with a removable window appear (inner join), so the token
    // count is computed AFTER the join — candidate-bound, not corpus-bound:
    // the pre-join form tokenized every document a further full pass.
    removed
      .join(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
        Seq("doc_id"))
      .withColumn("n_tokens",
        size(split(TextOps.normalized(col("__text")), " ")).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("tokens_removed"),
        (col("n_tokens") - col("tokens_removed")).as("n_tokens_after"))
  }

  /** The trim pass MATERIALIZED: for every document that has at least one
    * removable span (canonical-owner semantics as in [[trimStats]] — the
    * min doc_id keeps its copy), rebuild the NORMALIZED token sequence with
    * the removable spans' interval union cut out, as the training corpus
    * would actually ship it. Token indexing is 1-based to match the span
    * coordinates.
    *
    * Shape at 100 TB: spans are computed exactly as [[trimStats]] (hash-
    * then-verify, candidate-bound); the reconstruction joins each doc's
    * token array with its (few) spans ONCE, keyed by doc — the
    * index-filter/exists lambdas are map-side per row, O(tokens × spans)
    * with spans per doc small by construction (disjoint maximal intervals).
    *
    * Output: (doc_id, n_tokens_after, text_trimmed).
    */
  def trimmedText(docs: DataFrame, k: Int = 10, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val removable = dupWindowsWithOwner(docs, k, textCol, idCol)
      .filter(col("id") =!= col("owner"))
      .select(col("id"), col("pos"))
    val spansArr = mergeIslands(removable, k)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    // Tokenize AFTER the join (candidate-bound, same reasoning as
    // [[trimStats]]): only docs with a removable span are rebuilt. The
    // split is the filter's COLLECTION argument, evaluated once per row —
    // no bindOnce needed (only lambda-BODY references re-evaluate).
    spansArr
      .join(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
        Seq("doc_id"))
      .select(col("doc_id"), col("spans"),
        split(TextOps.normalized(col("__text")), " ").as("toks"))
      .select(col("doc_id"),
        filter(col("toks"), (_, i) =>
          !exists(col("spans"), s =>
            (i + 1) >= s.getField("span_start") &&
              (i + 1) <= s.getField("span_end"))).as("kept"))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_tokens_after"),
        concat_ws(" ", col("kept")).as("text_trimmed"))
  }

  /** Per-document duplication stats: total k-token windows, how many are
    * cross-document duplicated, and how many TOKENS the merged duplicated
    * spans cover (the amount a trim pass would remove if this doc were the
    * non-canonical copy everywhere). Only documents with at least one
    * duplicated window are returned.
    *
    * Output: (doc_id, n_windows, n_dup_windows, dup_span_tokens).
    */
  def crossDocDupStats(docs: DataFrame, k: Int = 10, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val spansDf = spans(docs, k, textCol, idCol)
    // n_windows is arithmetic on the token count, computed AFTER the join —
    // only docs with a duplicated window appear (inner join; such docs have
    // ≥ k tokens, so the old `n_windows >= 1` pre-filter was vacuous on the
    // join result), so this pass tokenizes candidates, not the corpus.
    spansDf
      .groupBy(col("doc_id"))
      .agg(sum(col("n_windows_in_span")).as("n_dup_windows"),
        sum(col("span_end") - col("span_start") + 1).as("dup_span_tokens"))
      .join(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")),
        Seq("doc_id"))
      .select(col("doc_id"),
        (size(split(TextOps.normalized(col("__text")), " ")) - (k - 1))
          .cast("long").as("n_windows"),
        col("n_dup_windows"), col("dup_span_tokens"))
  }

  /** Maximal cross-document duplicated spans per document — the INTERVAL
    * UNION of the duplicated windows' [pos, pos+k-1] token ranges: two
    * duplicated windows merge whenever their token ranges touch or overlap
    * (start positions within k of each other), so the reported spans are
    * disjoint maximal duplicated regions, in TOKEN coordinates —
    * `span_start` = first token index (1-based), `span_end` = last token
    * index covered.
    *
    * Output: (doc_id, span_start, span_end, n_windows_in_span).
    */
  def spans(docs: DataFrame, k: Int = 10, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
    mergeIslands(dupWindowPositions(docs, k, textCol, idCol), k)

  /** Interval-union merge of k-token windows at the given start positions:
    * (id, pos) → disjoint (doc_id, span_start, span_end, n_windows_in_span)
    * covering exactly ∪ [pos, pos+k-1]. Windows sorted by pos all have
    * equal length, so a window starts a new island iff its start is more
    * than k past the previous start (its range clears the previous range
    * entirely). One per-doc shuffle; the lag + running-sum island id is
    * partition-local after it.
    */
  private def mergeIslands(positions: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    positions
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > k, 1)
          .otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        Window.partitionBy(col("id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id").as("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_windows_in_span"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"), col("n_windows_in_span"))
  }
}
