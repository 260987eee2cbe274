package graft.core

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory.
  *
  * Every entry point (Verify, Bench, tests) builds its session here so the
  * settings that affect correctness parity with the DuckDB oracle are applied
  * uniformly:
  *
  *  - session time zone UTC: the reference normalizes all event time to UTC on
  *    entry (reference: aggregator_candles.py:79, candle_to_calcs.py:595).
  *  - `nanosAsLong`: the testdata `events.parquet` carries INT64
  *    TIMESTAMP(NANOS) which Spark has no native type for; we read the raw
  *    nanos and convert with integer division (see [[Tables.ticks]]).
  *  - shuffle partitions sized to the local core count (at least 4), with
  *    AQE enabled so the same plans re-partition themselves on a real cluster.
  */
object GraftSession {

  def builder(master: String = defaultMaster, shufflePartitions: Int = defaultShuffle): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions { ext =>
        graft.functions.VectorExprs.register(ext)
        graft.functions.TextExprs.register(ext)
        graft.functions.Sketches.register(ext)
        ext.injectPlannerStrategy(_ => graft.plans.NativePassStrategy)
      }
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed tables (Sinks.writeBucketed) are catalog-backed; keep their
      // files out of the checkout, and per-process so a stale location from
      // a previous run can never collide with this session's catalog
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.ui.enabled", "false")

  /** The session every entry point uses. Conf overrides for an A/B run
    * (e.g. `spark.graft.exactJaccard.broadcastMaxBytes=0` to time the
    * prefix join's shuffled verify) go in as system properties —
    * `JAVA_TOOL_OPTIONS=-Dspark.graft...=…` — which SparkConf loads and the
    * session merges into its SQL conf.
    */
  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-JVM, and deleted with its contents when the JVM exits. */
  private lazy val warehouseDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_warehouse_").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.toString
  }

  /** Default to every core on the machine; `SPARK_GRAFT_CPUS` overrides
    * for constrained runs.
    */
  private def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  private def defaultMaster: String = s"local[$cpus]"

  private def defaultShuffle: Int = cpus.max(4)
}
