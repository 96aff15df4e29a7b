package graft

import java.nio.file.{Path, Paths}
import scala.jdk.CollectionConverters._

/** Every piece of state graft stages on disk lives in the application's
  * scratch dir under `SparkFiles.getRootDirectory()`, which Spark deletes
  * with the SparkContext: the staging registry rows read their staged
  * tables from there, and touch neither the per-user tmpdir nor the
  * session warehouse.
  */
class ScratchSpec extends SparkSpec {

  private val staging = Seq("d11_snapshot_diff", "d25_stats_pruned_scan",
    "d51_spj_join", "p4_ccnet_pipeline", "q43_bucketed_join")

  private def local(p: String): Path =
    Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath).normalize

  /** Path → (mtime, length) of everything below `root`. The root itself
    * is left out: Spark's catalog creates an empty warehouse dir on
    * first use.
    */
  private def listing(root: Path): Map[String, (Long, Long)] =
    if (!root.toFile.exists()) Map.empty
    else {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.filter(_ != root).map { p =>
        val f = p.toFile
        p.toString -> (f.lastModified, if (f.isFile) f.length else 0L)
      }.toMap
      finally walk.close()
    }

  /** Every file or table path a plan reads: file scans and graft tables. */
  private def readPaths(df: org.apache.spark.sql.DataFrame): Seq[Path] =
    (df.inputFiles.toSeq ++ df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        Option(r.options.get("path"))
    }.flatten).map(local)

  test("staging rows read staged state only from the scratch dir and leave nothing behind") {
    val warehouse = local(spark.sessionState.conf.warehousePath)
    val root = local(org.apache.spark.SparkFiles.getRootDirectory()) // of `spark`'s context
    val userDir = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft-" + Integer.toHexString(System.getProperty("user.name", "anon").hashCode))
    val before = (listing(userDir), listing(warehouse))
    val data = local(sfDir)
    staging.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(df.collect().nonEmpty, s"$name returned no rows")
      val staged = readPaths(df).filterNot(_.startsWith(data))
      if (name != "p4_ccnet_pipeline") assert(staged.nonEmpty, s"$name read no staged table")
      staged.foreach(p => assert(p.startsWith(root), s"$name read $p outside $root"))
    }
    val after = (listing(userDir), listing(warehouse))
    assert(after._1 == before._1, s"$userDir changed")
    assert(after._2 == before._2, s"$warehouse changed")
  }
}
