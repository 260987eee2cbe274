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

  /** Fraction of TOTAL machine CPU consumed by processes OTHER than this
    * JVM over a short sampling window — the per-query contamination gate.
    * The 1-minute load average cannot serve here: between queries it is
    * dominated by the decay of OUR OWN just-finished 32-thread burn (a
    * sweep gating each query on load < 1.0 would spend ~3 min/query waiting
    * out its own exhaust). /proc/stat deltas minus /proc/self CPU ticks are
    * instantaneous and measure exactly the thing that contaminates a
    * timing: someone else on the cores RIGHT NOW. -1 if unreadable.
    */
  private def externalCpuFrac(windowMs: Long = 500): Double = {
    def totals(): Option[(Long, Long)] =
      try {
        val f = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
          .linesIterator.next().split("\\s+").drop(1).map(_.toLong)
        Some((f.sum, f(3) + f(4))) // (total, idle+iowait)
      } catch { case _: Throwable => None }
    def selfTicks(): Option[Long] =
      try {
        // fields 14+15 (utime+stime), counted from after the comm field —
        // comm may contain spaces, so split after the closing paren
        val s = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
        val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
        Some(rest(11).toLong + rest(12).toLong)
      } catch { case _: Throwable => None }
    (totals(), selfTicks()) match {
      case (Some((t0, i0)), Some(s0)) =>
        Thread.sleep(windowMs)
        (totals(), selfTicks()) match {
          case (Some((t1, i1)), Some(s1)) =>
            val total = (t1 - t0).max(1L)
            val busy = total - (i1 - i0)
            ((busy - (s1 - s0)).max(0L).toDouble / total).min(1.0)
          case _ => -1.0
        }
      case _ => -1.0
    }
  }

  /** Per-query external-load gate: poll until other processes use under
    * `maxFrac` of the machine (default 2% ≈ 0.6 of 32 cores) or `waitSec`
    * elapses. Returns the last observed fraction.
    */
  private def gateExternal(maxFrac: Double, waitSec: Int): Double = {
    val t0 = System.nanoTime()
    var f = externalCpuFrac()
    while (f > maxFrac && (System.nanoTime() - t0) / 1e9 < waitSec) {
      System.err.println(f"[bench] external-cpu gate: $f%.3f > $maxFrac%.3f, waiting")
      Thread.sleep(5000)
      f = externalCpuFrac()
    }
    f
  }

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
    // Automatic load gate: round 12's record was taken at load 4.85 and its
    // phantom regressions cost a judge pass to adjudicate. If the 1-minute
    // load average is above 1.0, poll (up to SPARK_GRAFT_BENCH_WAIT seconds,
    // default 300) for the box to go idle before timing anything; if it
    // never does, the record proceeds but is branded "load_gate":"loaded" so
    // no downstream reader can mistake it for a clean baseline.
    val gateWait = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT", "300").toInt
    val gateT0 = System.nanoTime()
    while (loadAvg1m() > 1.0 && (System.nanoTime() - gateT0) / 1e9 < gateWait) {
      System.err.println(f"[bench] load gate: 1m load ${loadAvg1m()}%.2f > 1.0, waiting for idle box")
      Thread.sleep(10000)
    }
    val loadBefore = loadAvg1m()
    val loadGate = if (loadBefore > 1.0) "loaded" else "ok"
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpuT0 = osBean.getProcessCpuTime
    val wallT0 = System.nanoTime()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // selectivity evidence for the prefix-filter similarity join: the
    // candidate count observed on a prefix-join row's own timed query
    var prefixCand = -1L
    // Per-query gating + self-consistency retry (the r15 sf10 record was
    // contaminated on rows the sweep never touched — the start-only gate
    // can't see load arriving mid-sweep):
    //  - before each query's reps, wait for OTHER processes to quiesce
    //    (externalCpuFrac, instantaneous — see scaladoc) up to QWAIT s;
    //  - after the reps, if median/min > RATIO (default 1.4 — the judge's
    //    adjudication threshold), the reps disagree with themselves:
    //    re-gate and re-run, up to ATTEMPTS total, keeping the LAST
    //    attempt (r16 advice: keeping the lowest median was best-of-N
    //    selection that biased published medians downward; the last
    //    attempt is the one taken under the freshest gate, protocol-
    //    comparable to single-attempt rows). EVERY attempt's median is
    //    recorded in the artifact's "attempts" field so discarded values
    //    are visible. Queries that never settled are listed in the
    //    artifact's "noisy" field — self-labeling, never silent.
    val gateEach = sys.env.getOrElse("SPARK_GRAFT_BENCH_GATE_EACH", "1") == "1"
    val qWait = sys.env.getOrElse("SPARK_GRAFT_BENCH_QWAIT", "120").toInt
    val extMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXT_MAX", "0.02").toDouble
    val ratioMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_RATIO", "1.4").toDouble
    val attemptsMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "3").toInt
    val regated = scala.collection.mutable.ArrayBuffer[String]()
    val noisy = scala.collection.mutable.ArrayBuffer[String]()
    // all attempt medians per re-gated query, in attempt order
    val attemptLog = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val results = pool
      .filter(q => only.forall(_.contains(q.name)))
      .map { q =>
      // production-path variant where one exists (codegen'd doubles); the
      // exact-decimal run stays Verify-only oracle parity machinery
      val fn = q.benchRun.getOrElse(q.run)
      val isPrefix = q.name.contains("prefix_join")
      def runReps(): Seq[Double] = (1 to reps).map { _ =>
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
      def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.length / 2)
      def settled(ts: Seq[Double]): Boolean =
        reps == 1 || ts.min <= 0.0 || median(ts) / ts.min <= ratioMax
      if (gateEach) gateExternal(extMax, qWait)
      var times = runReps()
      var attempt = 1
      while (times.forall(_ >= 0) && !settled(times) && attempt < attemptsMax) {
        System.err.println(f"[bench] ${q.name}: median/min ${median(times) / times.min}%.2f > " +
          f"$ratioMax%.2f — re-gating and re-running (attempt ${attempt + 1}/$attemptsMax)")
        if (!regated.contains(q.name)) regated += q.name
        attemptLog(q.name) = attemptLog.getOrElse(q.name, Seq.empty) :+ median(times)
        gateExternal(extMax, qWait)
        val again = runReps()
        // keep the LAST attempt (not the lowest median — r16 advice): the
        // retry exists to replace a contaminated measurement with a fresh
        // one, not to select a minimum
        if (again.forall(_ >= 0)) times = again
        attempt += 1
      }
      if (attemptLog.contains(q.name) && times.forall(_ >= 0))
        attemptLog(q.name) = attemptLog(q.name) :+ median(times)
      if (times.forall(_ >= 0) && !settled(times)) noisy += q.name
      val sec =
        if (times.exists(_ < 0)) -1.0
        else median(times)
      // min-of-reps rides along: the median of sub-second rows jitters
      // ±0.2s run-to-run (JIT/GC/page-cache), which round 12's adjudication
      // mistook for regressions; the min is the stable floor that separates
      // noise from a real shift without changing the headline number
      val secMin = if (times.exists(_ < 0)) -1.0 else times.min
      q.name -> (sec, secMin)
    }
    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qsMin = results.map { case (k, (_, v)) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val ok = results.map(_._2._1).filter(_ >= 0)
    val total = if (ok.nonEmpty) ok.sum else 0.0
    // Contamination indicators: load average before/after, and this
    // process's CPU-seconds over the bench wall time. On an idle local[32]
    // run cpu/wall lands well above 1 (parallel stages); a run stolen from
    // by other processes shows elevated loadavg relative to its own
    // cpu/wall — the artifact carries the evidence either way.
    val wallSec = (System.nanoTime() - wallT0) / 1e9
    val cpuSec = (osBean.getProcessCpuTime - cpuT0) / 1e9
    val loadAfter = loadAvg1m()
    val gateFields =
      s""""regated":[${regated.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""noisy":[${noisy.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""attempts":${attemptLog.map { case (k, ms) =>
        "\"" + k + "\":[" + ms.map(m => f"$m%.3f").mkString(",") + "]"
      }.mkString("{", ",", "}")},""" +
      s""""gate_each":${gateEach}"""
    val envJson = f""""load_1m_before":$loadBefore%.2f,"load_1m_after":$loadAfter%.2f,"proc_cpu_sec":$cpuSec%.1f,"wall_sec":$wallSec%.1f,"cpu_over_wall":${cpuSec / math.max(wallSec, 1e-9)}%.2f,"load_gate":"$loadGate",$gateFields"""
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
