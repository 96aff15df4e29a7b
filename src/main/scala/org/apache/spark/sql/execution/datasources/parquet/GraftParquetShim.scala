package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** `private[parquet]` access shim: Spark's own footer reader and footer
  * → schema conversion, called on the driver. Schema inference runs the
  * same conversion on the same footers, but inside a Spark job.
  */
object GraftParquetShim {
  /** The Spark schema of parquet `files` (merged), read from their
    * footers under the session's parquet settings, or None when no
    * footer could be read.
    */
  def footerSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val conf = spark.sessionState.conf
    ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), files, conf.ignoreCorruptFiles), spark)
  }
}
