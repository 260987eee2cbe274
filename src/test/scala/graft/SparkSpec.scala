package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** A fresh scratch directory for `body`, deleted with its contents after. */
  def withTempDir[R](prefix: String)(body: java.nio.file.Path => R): R = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    graft.core.GraftSession.builder(master = "local[2]", shufflePartitions = 4)
      .getOrCreate()
}
