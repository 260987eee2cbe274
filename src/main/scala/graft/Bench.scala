package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.queries.Registry

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and prints
  * one JSON line {"metric":...,"queries":{name:sec,...}}.
  *
  * Materialization: a query is timed to FULL completion — we aggregate a
  * 64-bit hash over every output column so Catalyst cannot prune the
  * projections a bare count() would discard (window/indicator exprs would
  * otherwise be benchmarked away). Failures are recorded as -1, never
  * swallowed into a fake near-zero time.
  *
  * A plain timer: per row it clears the cache and times `REPS` runs, then
  * reports their median and minimum. It never sleeps, polls or re-runs a
  * row; the load and CPU fields only label the run.
  */
object Bench {

  /** Runs the hash aggregate; returns the QueryExecution that ran it, whose
    * observed metrics carry the query's algorithm counters. */
  private def materialize(df: DataFrame): QueryExecution = {
    // bit_xor, not sum: a long sum of hashes overflows under ANSI mode.
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val hashed = df.select(h.as("h")).agg(bit_xor(col("h")))
    hashed.collect()
    hashed.queryExecution
  }

  /** 1-minute load average from /proc/loadavg — recorded in the bench JSON
    * so a run taken on a loaded box is self-labeling (round 10's recorded
    * numbers were ~5× inflated by background load and nothing in the
    * artifact said so). -1 if unreadable (non-Linux).
    */
  private def loadAvg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // 5 reps: this box carries background load (observed load-avg > 5 while
    // idle-benching), and median-of-3 still let one bad rep show through —
    // cross-run spread on the heaviest query was 2.2-6.7 s on identical code
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val spark = GraftSession.get()
    // Untimed warmup: the first query of a cold JVM otherwise absorbs ~5 s
    // of classloading/codegen that belongs to no query (it landed on
    // whichever query ran first — suite-order noise).
    materialize(spark.read.parquet(s"$sfDir/nation.parquet"))
    // Median of `reps` runs per query: single-run times carry ±0.3 s of JVM
    // noise, which last round manufactured two phantom regressions. The
    // cache is cleared between reps — Spark keys cached data on the
    // canonicalized plan, so rep 2 of a registry row with a lazy .cache()
    // (the shared candle frames) would otherwise reuse rep 1's
    // materialization and report a fantasy time. Library calls cache
    // nothing: their eager stages are localCheckpoints, rebuilt per call.
    // SPARK_GRAFT_BENCH_ONLY=a,b,c: spot-bench subset (sf10 scale runs).
    // An explicit list selects from the FULL registry — a spot-bench may
    // name a non-headline query (llm_dup_clusters); the default run stays
    // the headline set.
    // SPARK_GRAFT_BENCH_EXTRA=a,b: headline set PLUS named registry rows —
    // for scale records that carry one extra non-headline row (e.g. the
    // stream-static-join LM scorer at sf1) without restating the whole set.
    val extra = sys.env.get("SPARK_GRAFT_BENCH_EXTRA")
      .map(_.split(',').toSet).getOrElse(Set.empty)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val pool =
      if (only.isDefined) Registry.all
      else if (extra.nonEmpty)
        Registry.headline ++ Registry.all.filter(q => extra.contains(q.name) &&
          !Registry.headline.exists(_.name == q.name))
      else Registry.headline
    val loadBefore = loadAvg1m()
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpuT0 = osBean.getProcessCpuTime
    val wallT0 = System.nanoTime()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // selectivity evidence for the prefix-filter similarity join: the
    // candidate count observed on a prefix-join row's own timed query
    var prefixCand = -1L
    val results = pool
      .filter(q => only.forall(_.contains(q.name)))
      .map { q =>
      // production-path variant where one exists (codegen'd doubles); the
      // exact-decimal run stays Verify-only oracle parity machinery
      val fn = q.benchRun.getOrElse(q.run)
      val isPrefix = q.name.contains("prefix_join")
      val times = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          val qe = materialize(fn(spark, sfDir))
          val sec = (System.nanoTime() - t0) / 1e9
          if (isPrefix) graft.functions.PrefixJoin.candidatePairs(qe).foreach(prefixCand = _)
          sec
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
            // a -1 row without its reason made a failed sf10 run
            // undiagnosable from the artifact — carry the message
            errors.put(q.name,
              (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300))
            -1.0
        }
      }
      // min-of-reps rides along: the median of sub-second rows jitters
      // ±0.2s run-to-run (JIT/GC/page-cache), which round 12's adjudication
      // mistook for regressions; the min is the stable floor that separates
      // noise from a real shift without changing the headline number
      q.name -> (
        if (times.exists(_ < 0)) (-1.0, -1.0)
        else (times.sorted.apply(times.length / 2), times.min))
    }
    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qsMin = results.map { case (k, (_, v)) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val ok = results.map(_._2._1).filter(_ >= 0)
    val total = if (ok.nonEmpty) ok.sum else 0.0
    // Contamination labels, not gates: load average before/after, and this
    // process's CPU-seconds over the bench wall time. On an idle box
    // cpu/wall lands well above 1 (parallel stages); a run stolen from by
    // other processes shows elevated loadavg relative to its own cpu/wall —
    // the artifact carries the evidence, and the reader compares same-day
    // A/B runs rather than trusting one record.
    val wallSec = (System.nanoTime() - wallT0) / 1e9
    val cpuSec = (osBean.getProcessCpuTime - cpuT0) / 1e9
    val loadAfter = loadAvg1m()
    val envJson = f""""load_1m_before":$loadBefore%.2f,"load_1m_after":$loadAfter%.2f,"proc_cpu_sec":$cpuSec%.1f,"wall_sec":$wallSec%.1f,"cpu_over_wall":${cpuSec / math.max(wallSec, 1e-9)}%.2f"""
    val candJson =
      if (prefixCand >= 0) s""","prefix_candidate_pairs":$prefixCand"""
      else ""
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) =>
        "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
          .replaceAll("[\\n\\r\\t]", " ") + "\""
      }.mkString(""","errors":{""", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_min":$qsMin,"sf":"$sfDir","reps":$reps,$envJson$candJson$errJson}"""
    println(json)
    // Also land the JSON in a file: the stdout line is buried in sbt [info]
    // noise and the driver's log scrape has missed it two rounds running.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")), json + "\n")
    spark.stop()
  }
}
