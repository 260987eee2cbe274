package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

/** Verify fails loudly: a row that throws is listed in failures.json and
  * turns the process's exit status non-zero, while every other row is
  * still dumped.
  */
class VerifySpec extends SparkSpec {

  // the planted queries never read their scale-factor directory
  private val dir = "unused"

  test("a failing row goes to failures.json; the rows around it still dump") {
    withTempDir("verify_spec_") { out =>
      val ok: Verify.Query = (s, _) => s.range(3).toDF("x")
      val boom: Verify.Query = (_, _) => throw new IllegalStateException("planted failure")
      val failures = Verify.dump(spark, dir, out.toString,
        Map("a_ok" -> ok, "b_boom" -> boom, "c_ok" -> ok), None)
      assert(failures == Seq("b_boom" -> "planted failure"))
      assert(spark.read.parquet(s"$out/a_ok").count() == 3)
      assert(spark.read.parquet(s"$out/c_ok").count() == 3)
      assert(!Files.exists(out.resolve("b_boom")))
      assert(Files.readString(out.resolve("failures.json")) == """{"b_boom": "planted failure"}""")
      assert(Files.exists(out.resolve("oracle_sql.json")))
    }
  }

  test("a clean dump writes an empty failures.json; an unknown row name fails") {
    withTempDir("verify_spec_") { out =>
      val ok: Verify.Query = (s, _) => s.range(1).toDF("x")
      assert(Verify.dump(spark, dir, out.toString, Map("a_ok" -> ok), None).isEmpty)
      assert(Files.readString(out.resolve("failures.json")) == "{}")
      assert(Verify.dump(spark, dir, out.toString, Map("a_ok" -> ok), Some(Set("a_ok", "no_such_row"))) ==
        Seq("no_such_row" -> "not a registry row"))
    }
  }

  test("the Verify process exits non-zero when a row fails") {
    withTempDir("verify_exit_") { out =>
      // a missing scale-factor directory makes the row's scan throw; the
      // child's own temp root shows what its session leaves behind
      val tmp = Files.createDirectory(out.resolve("tmp"))
      val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") ||
          a.startsWith("-javaagent") || a.startsWith("-Djava.io.tmpdir="))
      val cmd = Seq(java) ++ jvmArgs ++ Seq("-Xmx1g", s"-Djava.io.tmpdir=$tmp",
        "-cp", System.getProperty("java.class.path"),
        "graft.Verify", s"$out/no_such_sf", s"$out/dump", "g1_candles_1s")
      val log = new StringBuilder
      val status = Process(cmd, None, "SPARK_GRAFT_CPUS" -> "1")
        .!(ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
      assert(status != 0, s"Verify must exit non-zero on a failed row:\n$log")
      assert(Files.readString(Paths.get(s"$out/dump/failures.json")).contains("\"g1_candles_1s\""))
      assert(Files.exists(Paths.get(s"$out/dump/oracle_sql.json")))
      val left = tmp.toFile.list().filter(_.startsWith("graft_warehouse_"))
      assert(left.isEmpty,
        s"the session's warehouse directory must not outlive its JVM: ${left.mkString(", ")}")
    }
  }
}
