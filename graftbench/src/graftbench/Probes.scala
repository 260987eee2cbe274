package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Full-column materialization: xxhash64 over every output column, folded
  * with bit_xor, plus the row count — the same hash graft.Bench uses, so a
  * plan cannot prune columns the way a bare count() lets it. Row order does
  * not change the hash.
  */
object Materialize {
  private def rowHash(df: DataFrame) = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)

  def apply(df: DataFrame): (Long, Long) = {
    val r = df.select(rowHash(df).as("h")).agg(bit_xor(col("h")), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** Writes `df` to parquet at `path` and returns the same (hash, rows),
    * observed during the write, so the output is materialized once.
    */
  def write(df: DataFrame, path: String): (Long, Long) = {
    val obs = Observation("graftbench_output")
    df.observe(obs, bit_xor(rowHash(df)).as("h"), count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(path)
    val m = obs.get
    (Option(m("h")).map(_.asInstanceOf[Long]).getOrElse(0L), m("n").asInstanceOf[Long])
  }
}

/** Process-level readings from /proc (Linux). */
object Proc {
  private val bean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNanos(): Long = bean.getProcessCpuTime

  /** Peak resident set size (VmHWM) in MB. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)

  /** Largest heap occupancy right after a garbage collection since the
    * first call, in MB: the memory the run's data kept alive.
    */
  def peakHeapAfterGcMb(): Double = { gcWatch; maxAfterGc / 1048576.0 }

  @volatile private var maxAfterGc = 0L
  private lazy val gcWatch: Unit = {
    import java.lang.management.ManagementFactory
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    val listener = new NotificationListener {
      override def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
          if (used > maxAfterGc) maxAfterGc = used
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def loadAvg1m(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
}

/** Task counters summed per job group. */
final class GroupCounters {
  var cpuNanos = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** per stage: task run times (ms), for the skew ratio */
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  /** max/median task time of the stage with the largest summed task time. */
  def skew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.length / 2).max(1L)
      ts.last.toDouble / med
    }
}

/** Benchmark-owned SparkListener: attributes every finished task's metrics
  * to the job group its job ran under (the group names a span), and counts
  * everything under the pseudo-group "*". Also records job ends, so a
  * reader can wait for a marker job and know every earlier event arrived.
  */
final class TaskProbe extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, String]()
  private val groups = mutable.Map[String, GroupCounters]()
  @volatile private var doneJobs = Set.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.get(e.jobId).foreach(g => doneJobs += g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrElse(e.stageId, "")
      Seq(g, "*").foreach { k =>
        val c = groups.getOrElseUpdate(k, new GroupCounters)
        c.cpuNanos += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
      }
    }
  }

  def counters(group: String): GroupCounters = synchronized {
    groups.getOrElse(group, new GroupCounters)
  }

  /** Runs a one-task job under `group` and waits until its end event is
    * delivered: events on one listener queue arrive in order, so every
    * task of every earlier job has been counted when this returns.
    */
  def drain(spark: SparkSession, group: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, "graftbench drain marker", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val t0 = System.nanoTime()
    while (!doneJobs.contains(group) && System.nanoTime() - t0 < 30000000000L)
      Thread.sleep(5)
    if (!doneJobs.contains(group)) sys.error(s"listener bus did not deliver $group")
  }
}

/** Plan-shape counts over the AQE final plans of every action a workload
  * runs (collected through a QueryExecutionListener): shuffle exchanges,
  * broadcast exchanges and graft's own physical operators. A cached
  * relation's plan counts once, however many scans read it; a reused
  * exchange counts as no new exchange.
  */
final class PlanProbe extends QueryExecutionListener {
  private val seenCaches = mutable.Set[AnyRef]()
  @volatile private var markers = Set.empty[String]
  var exchanges = 0L
  var broadcasts = 0L
  var nativeNodes = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val marker = qe.analyzed.output.map(_.name).find(_.startsWith("graftbench_marker_"))
      marker match {
        case Some(m) => markers += m
        case None => countPlan(qe.executedPlan)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def countPlan(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => countPlan(a.executedPlan); return
      case s: QueryStageExec => countPlan(s.plan); return
      case _: ReusedExchangeExec => return
      case m: InMemoryTableScanExec =>
        val key = m.relation.cacheBuilder
        if (seenCaches.add(key)) countPlan(m.relation.cachedPlan)
      case _: ShuffleExchangeLike => exchanges += 1
      case _: BroadcastExchangeLike => broadcasts += 1
      case _ =>
    }
    if (p.getClass.getName.startsWith("graft.")) nativeNodes += 1
    p.children.foreach(countPlan)
    p.subqueries.foreach(countPlan)
  }

  /** Runs a marker action and waits for its event (see TaskProbe.drain). */
  def drain(spark: SparkSession, name: String): Unit = {
    val m = s"graftbench_marker_$name"
    spark.range(1).toDF(m).collect()
    val t0 = System.nanoTime()
    while (!markers.contains(m) && System.nanoTime() - t0 < 30000000000L) Thread.sleep(5)
    if (!markers.contains(m)) sys.error(s"listener bus did not deliver $m")
  }
}
