package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.operators.TickOps

/** Streaming output modes (SURVEY §2.9): the reference appends to CSVs and
  * keeps them canonical by dedup-on-merge rewrites
  * (fetch_historical_trades_nvda.py:239-245, candle_to_calcs.py:788-799) —
  * "update by rewrite". In Spark that is `foreachBatch` doing the keyed
  * upsert per micro-batch: merge the batch into the table with keep-new
  * semantics (G5), so replays and corrections overwrite instead of
  * duplicating. Plain append stays the default for immutable event streams.
  */
object StreamingSinks {

  /** Starts a foreachBatch upsert into a parquet table: each micro-batch
    * merges into `path` on `keys`, new rows winning (the reference's
    * keep-last concat order). The merge is the oracle-verified
    * [[TickOps.mergeKeepNew]]; the rewrite is atomic per batch via
    * overwrite-after-read.
    *
    * Note: a whole-table rewrite per batch is the reference's own semantics
    * made explicit (it rewrites its CSV on every merge). At lake scale the
    * same `foreachBatch` body swaps to a partition-pruned MERGE on a table
    * format — the operator contract (keyed upsert per batch) is unchanged.
    */
  def upsertParquet(stream: DataFrame, path: String, keys: Seq[String],
                    checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // ONLY a missing table may start fresh — any other read failure must
        // fail the batch (the checkpoint retries it); swallowing it would
        // overwrite the table with the batch alone and drop every earlier row
        val existing =
          try Some(spark.read.parquet(path))
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        val merged = (existing match {
          case Some(old) => TickOps.mergeKeepNew(old, batch, keys)
          case None => batch
        }).cache()
        merged.count() // pin into executor cache BEFORE truncating the source files
        merged.write.mode(SaveMode.Overwrite).parquet(path)
        merged.unpersist()
        ()
      }
      .start()

  /** The lake-scale upsert: the table is partitioned on `partitionCol`, and
    * each micro-batch (a) reads back ONLY the partitions it touches
    * (partition-pruned scan), (b) merges keep-new, (c) rewrites ONLY those
    * partitions via dynamic partition overwrite. Untouched partitions are
    * never read or written — per-batch cost scales with the batch's
    * partition span, not the table. This is the partition-pruned MERGE the
    * [[upsertParquet]] docstring promises, in plain parquet; a table format
    * (Delta/Iceberg) swaps in at the same contract for row-level merges.
    *
    * The per-batch `collect()` of distinct partition values is driver-side
    * by design: it is the pruning predicate (bounded by partitions touched
    * per batch — e.g. 1-2 trading dates), not data.
    */
  def upsertParquetPartitioned(stream: DataFrame, path: String, keys: Seq[String],
                               partitionCol: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.col
        val spark = batch.sparkSession
        // bounded collect: distinct PARTITION VALUES touched by this batch
        // (1-2 trading dates / a handful of symbols), never row data
        val parts = batch.select(partitionCol).distinct().collect().map(_.get(0)).toSeq
        if (parts.nonEmpty) {
          // cast the read-back partition column to the batch's dtype:
          // directory values are type-INFERRED on read (a "2024-01-02"
          // string partition comes back DATE), which would poison the merge
          // ONLY a missing table may start fresh (see upsertParquet): any
          // other failure propagates so the touched partitions are not
          // rewritten from the batch alone
          val existing =
            try Some(spark.read.parquet(path)
              .withColumn(partitionCol,
                col(partitionCol).cast(batch.schema(partitionCol).dataType))
              .filter(col(partitionCol).isInCollection(parts)))
            catch { case _: org.apache.spark.sql.AnalysisException => None }
          val merged = (existing match {
            case Some(old) => TickOps.mergeKeepNew(old, batch, keys)
            case None => batch
          }).cache()
          merged.count() // pin BEFORE the overwrite truncates the source partitions
          // the write option outranks the session conf, so the batch never
          // changes a setting the session's other queries read mid-write
          merged.write.mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partitionCol).parquet(path)
          merged.unpersist()
        }
        ()
      }
      .start()
}
