package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed layer call. `metrics` holds the counters attached to it. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                      metrics: mutable.LinkedHashMap[String, Double]) {
  def busyS: Double = (endNs - startNs) / 1e9
}

/** A materialized stage output: the cached frame, its span and its hash. */
final case class Boundary(df: DataFrame, span: Span, hash: Long) {
  def rows: Double = span.metrics("rows_out")
}

/** Records spans around layer calls, in memory, for one run. Each span's
  * Spark jobs run under the job group `<runId>/<spanId>`, so the TaskProbe
  * attributes their task counters to the span.
  */
final class Tracer(spark: SparkSession, val runId: String, probe: TaskProbe) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var nextId = 0
  private val open = mutable.Stack[Int]()

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    sc.setJobGroup(s"$runId/$id", name, interruptOnCancel = false)
    open.push(id)
    val t0 = System.nanoTime()
    val out =
      try body
      finally {
        open.pop()
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"$runId/$p", name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    val s = Span(id, name, parent, t0, System.nanoTime(), mutable.LinkedHashMap())
    spans += s
    (out, s)
  }

  /** A batch stage: `build` makes the layer call; its output is cached and
    * materialized with every column (Materialize), so the span covers the
    * layer's own work and later stages read the boundary from the cache.
    */
  def stage(name: String)(build: => DataFrame): Boundary = {
    val ((df, hash, rows), s) = span(name) {
      val df = build.cache()
      val (hash, rows) = Materialize(df)
      (df, hash, rows)
    }
    s.metrics("rows_out") = rows.toDouble
    Boundary(df, s, hash)
  }

  /** Attaches the TaskProbe counters of every span (call after drain). */
  def attachTaskCounters(): Unit = spans.foreach { s =>
    if (!s.metrics.contains("task_cpu_s")) {
      val c = probe.counters(s"$runId/${s.id}")
      s.metrics("shuffle_bytes") = c.shuffleBytes.toDouble
      s.metrics("spill_bytes") = c.spillBytes.toDouble
      s.metrics("task_cpu_s") = c.cpuNanos / 1e9
      s.metrics("task_skew") = c.skew
    }
  }

  def toJson(t0Ns: Long): String = spans.sortBy(_.id).map { s =>
    Json.obj(Seq(
      "run" -> Json.str(runId), "id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.toString,
      "start_s" -> Json.num((s.startNs - t0Ns) / 1e9), "end_s" -> Json.num((s.endNs - t0Ns) / 1e9),
      "metrics" -> Json.obj(s.metrics.toSeq.map { case (k, v) => k -> Json.num(v) })))
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
