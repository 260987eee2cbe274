package graft

import graft.core.GraftSession

/** Plan dumper: `graft.Profile explain <row>...` prints each registry row's
  * formatted physical plan over `SPARK_GRAFT_SF_DIR` (the dumps under
  * `plans/` come from here). Stage timings come from the executed plan
  * instead: `graftbench/run.py --trace 1` and `SPARK_GRAFT_BENCH_ONLY`.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (!args.headOption.contains("explain")) {
      System.err.println("usage: graft.Profile explain <row> [<row> ...]")
      sys.exit(2)
    }
    val spark = GraftSession.get()
    args.drop(1).foreach { name =>
      println(s"=== $name")
      graft.queries.Registry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
