package graft.core

import org.apache.spark.sql.DataFrame

/** Stats-gated input widening for per-row-heavy kernels (the MinHash
  * signature kernel, the regex quality score).
  *
  * A mid-size text corpus often arrives as ONE parquet row group (row group
  * < maxPartitionBytes ⇒ one effective split), which would run any
  * expensive per-row expression — and everything downstream until the
  * first shuffle — single-threaded: the MinHash kernel measured 16 s
  * single-threaded vs ~4 s wide at 500k docs.
  *
  * The scan's partition COUNT is no parallelism signal: Spark
  * byte-range-splits a parquet file into ~cores slices, but a row group
  * belongs entirely to the slice holding its midpoint, so a
  * single-row-group file reports ~cores partitions with every one of them
  * empty except one (measured: 15 "partitions", 1 effective). So below a
  * single-node-scale ceiling we repartition by plan-stats byte size
  * (~2 MB per task) — the ~1 s shuffle of tens of MB buys back a >10×
  * kernel speedup. Tiny inputs skip it: the shuffle + task overhead
  * exceeds the kernel time below a few MB (measured as a 60% regression at
  * 5k docs). Above the ceiling we trust the scan: cluster-scale tables are
  * written with row groups ≤ maxPartitionBytes, where splits are genuinely
  * parallel and a forced global reshuffle would cost more than it saves.
  */
object Widen {

  /** `perTaskBytes` sets the per-task chunk: the default (2 MB) is the
    * MinHash kernel's measured sweet spot (~2 µs/byte kernel); callers with
    * a heavier per-byte cost (e.g. the regex-quality score, ~10× that)
    * pass a smaller chunk so each task still lands in the ~100 ms range.
    */
  def toCores(in: DataFrame, perTaskBytes: Long = 2L << 20): DataFrame = {
    val cores = in.sparkSession.sparkContext.defaultParallelism
    val bytes = in.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes = (bytes / perTaskBytes).min(cores).toInt
    if (byBytes >= 2 && bytes <= (4L << 30)) in.repartition(byBytes) else in
  }
}
