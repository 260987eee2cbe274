package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.core.GraftSession
import graft.queries.Registry

/** A workload whose operation is one full run of a composition. */
trait BatchWorkload {
  /** The composition, untraced. */
  def result(): DataFrame
  /** The same composition with every layer call in a stage span; returns
    * the final output's hash.
    */
  def tracedResult(t: Tracer): Long
  def inputRows: Long
}

/** One benchmark JVM, started by run.py: builds the session, then runs
  * operations of --workload on --data for --seconds, always finishing the
  * operation in progress and measuring at least --min-ops (--workload none:
  * set-up only). With --trace 1 a batch workload runs a warm-up, one
  * untraced operation with plan and task probes and one traced operation
  * instead; the stream runs an untraced and then a traced session.
  *
  * READY is printed on stdout once GraftSession.get() has returned and a
  * first small query has run; run.py times set-up from process start to
  * that line. Everything else goes to --out as JSON.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Proc.peakHeapAfterGcMb()
    val t0 = System.nanoTime()
    val spark = GraftSession.get()
    val sessionS = (System.nanoTime() - t0) / 1e9
    phase("session ready")
    Materialize(spark.range(1000).toDF("id"))
    phase("first query done")
    println("READY")
    System.out.flush()
    if (opt("workload") != "none") runWorkload(spark, opt, sessionS)
    spark.stop()
    phase("stopped")
  }

  private def runWorkload(spark: SparkSession, opt: Map[String, String], sessionS: Double): Unit = {
    // load average is recorded as context only; it gates nothing
    val rec = mutable.LinkedHashMap[String, String]()
    rec("session_s") = Json.num(sessionS)
    rec("load_1m_before") = Json.num(Proc.loadAvg1m())
    opt("workload") match {
      case "ticks_stream" => runStream(spark, opt, rec)
      case _ => runBatch(spark, opt, rec)
    }
    rec("load_1m_after") = Json.num(Proc.loadAvg1m())
    rec("peak_rss_mb") = Json.num(Proc.peakRssMb())
    rec("peak_heap_mb") = Json.num(Proc.peakHeapAfterGcMb())
    Files.writeString(Paths.get(opt("out")), Json.obj(rec.toSeq) + "\n")
  }

  /** Progress note on stderr (the JVM log), stamped with JVM uptime. */
  def phase(what: String): Unit = System.err.println(
    f"[graftbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $what")

  private def batchWorkload(spark: SparkSession, name: String, dir: String): BatchWorkload =
    name match {
      case "ticks_batch" => new TicksBatch(spark, dir)
      case "corpus_dedup" => new CorpusDedup(spark, dir)
    }

  /** (wall ns, cpu ns, hash, rows) of one untraced operation: the
    * composition's result written to parquet at `out`, as a batch job
    * writes its output, with the full-column hash observed on the way.
    */
  private def timedOp(spark: SparkSession, w: BatchWorkload, out: String): (Long, Long, Long, Long) = {
    val cpu0 = Proc.cpuNanos()
    val t0 = System.nanoTime()
    val (h, n) = Materialize.write(w.result(), out)
    val wall = System.nanoTime() - t0
    val cpu = Proc.cpuNanos() - cpu0
    // drop this operation's cached data, and let the ContextCleaner free
    // its checkpoint blocks, so every operation starts from the same state
    spark.catalog.clearCache()
    System.gc()
    (wall, cpu, h, n)
  }

  private def opsJson(ops: Seq[(Long, Long)]): String =
    Json.arr(ops.map { case (w, c) => Json.arr(Seq(Json.num(w / 1e9), Json.num(c / 1e9))) })

  private def runBatch(spark: SparkSession, opt: Map[String, String],
                       rec: mutable.LinkedHashMap[String, String]): Unit = {
    val name = opt("workload")
    val w = batchWorkload(spark, name, opt("data"))
    val out = opt("output")
    // the traced pass compares a warm untraced operation with a warm traced one
    if (opt("trace") == "1") timedOp(spark, w, out)
    rec("rows_per_op") = w.inputRows.toString
    val hashes = mutable.ArrayBuffer[Long]()
    if (opt("trace") == "0") {
      val ops = mutable.ArrayBuffer[(Long, Long)]()
      val until = System.nanoTime() + (opt("seconds").toDouble * 1e9).toLong
      while (ops.length < opt("min-ops").toInt || System.nanoTime() < until) {
        val (wall, cpu, h, n) = timedOp(spark, w, out)
        hashes += h
        rec("rows_out") = n.toString
        ops += ((wall, cpu))
      }
      rec("ops") = opsJson(ops.toSeq)
    } else {
      val tasks = new TaskProbe
      val plans = new PlanProbe
      spark.sparkContext.addSparkListener(tasks)
      spark.listenerManager.register(plans)
      val (wall, cpu, h, n) = timedOp(spark, w, out)
      plans.drain(spark, "untraced")
      tasks.drain(spark, "graftbench/untraced")
      spark.listenerManager.unregister(plans)
      rec("ops") = opsJson(Seq((wall, cpu)))
      rec("rows_out") = n.toString
      hashes += h
      val layer = mutable.LinkedHashMap[String, Double](
        "plans.exchanges" -> plans.exchanges.toDouble,
        "plans.broadcast_exchanges" -> plans.broadcasts.toDouble,
        "plans.native_nodes" -> plans.nativeNodes.toDouble,
        "shuffle_bytes" -> tasks.counters("*").shuffleBytes.toDouble)
      val tracer = new Tracer(spark, s"traced-${ProcessHandle.current.pid}", tasks)
      val t0 = System.nanoTime()
      rec("traced_hash") = Json.str(w.tracedResult(tracer).toString)
      tasks.drain(spark, "graftbench/traced")
      tracer.attachTaskCounters()
      spark.catalog.clearCache()
      val stages = stageMetrics(tracer.spans.toSeq)
      layer ++= stages
      layer("trace_gap_s") =
        tracer.spans.filter(_.parent < 0).map(_.busyS).sum - wall / 1e9
      rec("per_layer") = Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) })
      Files.writeString(Paths.get(opt("spans")), tracer.toJson(t0))
    }
    phase("measured")
    rec("hashes") = Json.arr(hashes.distinct.map(h => Json.str(h.toString)).toSeq)
    // the output of the last operation stays at --output for run.py's
    // check of a new seed against an independent reference
    if (name == "ticks_batch")
      Files.writeString(Paths.get(out + ".sql"), Registry.oracleSql("pipeline_full"))
  }

  /** Per stage name: spans of one name are summed (skew: max). */
  private def stageMetrics(spans: Seq[Span]): Seq[(String, Double)] =
    spans.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, ss) =>
      val keys = ss.flatMap(_.metrics.keys).distinct
      (s"$name.busy_s" -> ss.map(_.busyS).sum) +: keys.map { k =>
        val vs = ss.flatMap(_.metrics.get(k))
        s"$name.$k" -> (if (k == "task_skew") vs.max else vs.sum)
      }
    }

  // ---------------------------------------------------------------- stream

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def hopMetrics(name: String, per: Seq[Seq[StreamingQueryProgress]],
                         rowsOut: Double): Seq[(String, Double)] = {
    val all = per.flatten
    def ops(p: StreamingQueryProgress) = p.stateOperators.toSeq
    Seq(
      s"$name.batch_ms_p50" -> median(per.map(_.map(_.durationMs.get("triggerExecution").toDouble).sum)),
      s"$name.rows_out" -> rowsOut,
      s"$name.state_rows" -> all.map(p => ops(p).map(_.numRowsTotal).sum.toDouble).maxOption.getOrElse(0.0),
      s"$name.state_mem_bytes" ->
        all.map(p => ops(p).map(_.memoryUsedBytes).sum.toDouble).maxOption.getOrElse(0.0),
      s"$name.late_rows_dropped" ->
        all.map(p => ops(p).map(_.numRowsDroppedByWatermark).sum.toDouble).sum)
  }

  private def runStream(spark: SparkSession, opt: Map[String, String],
                        rec: mutable.LinkedHashMap[String, String]): Unit = {
    val batchTicks = opt("batch-ticks").toInt
    val w = new TicksStream(spark, opt("data"), batchTicks, opt("max-batches").toInt,
      opt("scratch"))
    val lateIds = Files.readAllLines(Paths.get(opt("late"))).toArray(Array.empty[String])
      .filter(_.nonEmpty).map(_.toLong).toSeq
    val trace = opt("trace") == "1"
    val tasks = new TaskProbe
    if (trace) spark.sparkContext.addSparkListener(tasks)
    val s = w.newSession("run", None)
    val until = System.nanoTime() + (opt("seconds").toDouble * 1e9).toLong
    while ((s.batches.length < opt("min-ops").toInt || System.nanoTime() < until) && s.step()) ()
    phase("measured batches done")
    if (trace) tasks.drain(spark, "graftbench/untraced")
    val out = s.finish()
    rec("ops") = opsJson(s.batches.map(b => (b.wallNs, b.cpuNs)).toSeq)
    rec("rows_per_op") = batchTicks.toString
    val (streamHash, streamRows) = Materialize(out)
    val (refHash, refRows) = Materialize(w.batchReference(s.fed, lateIds, out.columns.toSeq))
    rec("hashes") = Json.arr(Seq(Json.str(streamHash.toString)))
    rec("rows_out") = streamRows.toString
    rec("reference_hash") = Json.str(refHash.toString)
    rec("reference_rows") = refRows.toString
    rec("late_dropped") = Json.num(s.batches.flatMap(_.hop1)
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble)
    rec("late_expected") = w.validLate(s.fed, lateIds).toString
    phase("reference check done")

    if (trace) {
      val plans = s.planCounts()
      val layer = mutable.LinkedHashMap[String, Double](
        "plans.exchanges" -> plans.exchanges.toDouble,
        "plans.broadcast_exchanges" -> plans.broadcasts.toDouble,
        "plans.native_nodes" -> plans.nativeNodes.toDouble,
        "shuffle_bytes" -> tasks.counters("*").shuffleBytes.toDouble)
      // hop counters come from StreamingQueryProgress: micro-batch jobs run
      // on the stream's own thread, outside the feeder's job groups
      val tracer = new Tracer(spark, s"traced-${ProcessHandle.current.pid}", tasks)
      val traced = w.newSession("traced", Some(tracer))
      val t1 = System.nanoTime()
      while (traced.batches.length < s.batches.length && traced.step()) ()
      rec("traced_hash") = Json.str(Materialize(traced.finish())._1.toString)
      val bs = traced.batches.toSeq
      layer ++= hopMetrics("streaming.candles", bs.map(_.hop1), bs.map(_.candles).sum.toDouble)
      layer ++= hopMetrics("streaming.indicators", bs.map(_.hop2),
          bs.flatMap(_.hop2).map(p => math.max(p.sink.numOutputRows, 0L)).sum.toDouble)
        .filterNot(_._1.endsWith("late_rows_dropped"))
      layer("trace_gap_s") =
        tracer.spans.map(_.busyS).sum - s.batches.map(_.wallNs / 1e9).sum
      rec("per_layer") = Json.obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) })
      Files.writeString(Paths.get(opt("spans")), tracer.toJson(t1))
    }
  }
}
