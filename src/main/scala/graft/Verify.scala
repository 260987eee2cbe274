package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare
  * (scripts/check_correctness.py). A row that throws
  * does not stop the dump: every other row is still written, the failures
  * go to failures.json beside oracle_sql.json (`{}` when there are none),
  * and the process exits 1. timings.json beside them holds each dumped
  * row's wall seconds, slowest first. */
object Verify {
  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name filter for local iteration;
    // the driver always calls with exactly (sfDir, outDir) = full dump.
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val spark = graft.core.GraftSession.get()
    val failures = dump(spark, sfDir, outDir, SparkEntry.queries, only)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} row(s) failed: " +
        failures.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }

  /** Writes each query (those named in `only`, if given) to
    * `outDir/<name>`, then oracle_sql.json, failures.json and timings.json
    * (seconds per row, failed rows included). Returns the
    * failed rows with their error messages; a name in `only` that is not a
    * query counts as failed.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, Query], only: Option[Set[String]]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val unknown = only.getOrElse(Set.empty).toSeq.sorted
      .filterNot(queries.contains).map(_ -> "not a registry row")
    val timings = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val failed = queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        val failure =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(name -> String.valueOf(e.getMessage))
          }
        timings += name -> (System.nanoTime() - t0) / 1e9
        // the parquet write fully materialized this query; a registry row's
        // lazy .cache() (the shared candle frames) is dead weight from here
        // on. Released per query so the 150-query dump never accumulates
        // pinned storage (at sf1 the candle caches are tens of MB EACH) —
        // same per-query hygiene Bench gets from its per-rep clearCache.
        // Library calls keep no cache: their eager stages are
        // localCheckpoints, freed once the result is unreachable.
        spark.catalog.clearCache()
        failure
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failures = unknown ++ failed
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/timings.json"),
      timings.sortBy(-_._2).map { case (k, v) => s"${q(k)}: ${"%.3f".formatLocal(java.util.Locale.ROOT, v)}" }.mkString("{", ",", "}"))
    failures
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in oracle SQL would otherwise make the reader's
  // json.load fail and silently drop every oracle.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
