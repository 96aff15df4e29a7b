package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local-session fixture. One session per suite, small shuffle
  * fan-out so tests stay fast on the tiny scale factor.
  */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(cores = 4, shufflePartitions = 4)
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh directory in the application's scratch dir
    * ([[Tables.scratch]]), removed with the SparkContext.
    */
  def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(Tables.scratch(spark)), prefix).toString

  override def afterAll(): Unit = {
    // session is shared across suites in one JVM; don't stop it here.
    super.afterAll()
  }
}
