package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Output layer (SURVEY.md §1.6: the reference's NetCDF writer becomes
  * columnar, partition-prunable files).
  *
  * Layout rules the writers encode:
  *  - partition columns = the predicates downstream queries prune on
  *    (the reference's per-profile files become per-class/mission dirs)
  *  - sortWithinPartitions on range-filtered columns → parquet/ORC
  *    min-max row-group stats actually cut IO
  *  - bucketing co-locates a join key so repeated joins skip the shuffle
  */
object Sink {

  def writePartitioned(df: DataFrame, path: String, format: String,
                       partitionCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(df(_)): _*) else df
    sorted.write.mode("overwrite").format(format)
      .partitionBy(partitionCols: _*).save(path)
  }

  /** Bucketed table at `location`: `nBuckets` hash buckets on
    * `bucketCol`, sorted inside each bucket — joins and aggregations on
    * the bucket key read co-located data with no exchange.
    */
  def writeBucketed(df: DataFrame, table: String, location: String, format: String,
                    bucketCol: String, nBuckets: Int): Unit =
    df.write.mode("overwrite").format(format).option("path", location)
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** Small-file compaction — the operational tax of incremental 100 TB
    * ingest: every micro-batch/task leaves files far below the ideal
    * scan unit, and a table of a million 100 KB files throttles every
    * downstream scan on open/seek overhead and starves min-max pruning.
    *
    * Rewrites `path` (same format, same optional sort) into
    * ceil(bytes / targetFileBytes) files, sized from the CURRENT
    * on-disk footprint so the result lands near the target regardless
    * of input fragmentation. The rewrite is one
    * scan → repartition → write (staged to `path + ".compact.tmp"`,
    * then atomically swapped) and preserves row content exactly; with
    * `sortCols` the rewritten files regain min-max prunability that
    * fragmented writes lost.
    */
  def compact(spark: SparkSession, path: String, format: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              sortCols: Seq[String] = Nil): CompactionStats = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
          buf += f
      }
      buf.toSeq
    }
    val before = dataFiles(hp)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)

    val df = spark.read.format(format).load(path)
    val repart = df.repartition(nOut)
    val sorted =
      if (sortCols.nonEmpty) repart.sortWithinPartitions(sortCols.map(df(_)): _*) else repart
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact.tmp")
    sorted.write.mode("overwrite").format(format).save(tmp.toString)
    // swap: the window without `path` is the two renames — callers that
    // need stronger atomicity layer a table format on top; the
    // compaction kernel (size-targeted rewrite) is the same either way
    val old = new org.apache.hadoop.fs.Path(path + ".compact.old")
    if (fs.exists(old)) fs.delete(old, true)
    // Hadoop FileSystem.rename signals most failures by returning false,
    // not throwing — every step must be checked or a false return after
    // the original was moved aside would let the unconditional cleanup
    // delete the only copy of the data.
    if (!fs.rename(hp, old))
      throw new java.io.IOException(
        s"compact: could not move $hp aside to $old; original left in place, rewrite at $tmp")
    if (!fs.rename(tmp, hp)) {
      val restored = fs.rename(old, hp)
      throw new java.io.IOException(
        s"compact: could not promote $tmp to $hp; " +
          (if (restored) "original restored" else s"original stranded at $old"))
    }
    // drop the backup only once the promoted copy is verifiably in place
    if (fs.exists(hp)) fs.delete(old, true)
    CompactionStats(before.size, dataFiles(hp).size, totalBytes)
  }

  final case class CompactionStats(filesBefore: Int, filesAfter: Int, bytes: Long)
}
