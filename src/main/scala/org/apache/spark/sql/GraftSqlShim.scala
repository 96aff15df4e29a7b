package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.util.HadoopFSUtils

/** `private[sql]` access shim: builds a DataFrame from a raw LogicalPlan
  * so library operators can inject custom logical nodes (the standard
  * pattern for Spark-native extension libraries; `Dataset.ofRows` is the
  * only construction path for plans the public DSL cannot express).
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a raw Catalyst expression as a user-facing Column (the
    * construction path for custom expressions the public DSL cannot
    * spell).
    */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The inverse: recover the Catalyst expression behind a Column. */
  def expression(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** -0.0/NaN canonicalization for grouping keys in custom physical plans
    * — the optimizer applies [[catalyst.optimizer.NormalizeFloatingNumbers]]
    * only to built-in Aggregate/Window/Join nodes.
    */
  def normalizeFloats(e: catalyst.expressions.Expression): catalyst.expressions.Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** `df.write.mode("overwrite").format(format).partitionBy(partitionCols*)
    * .save(path)` that also returns the rows written. It plans the
    * command `DataFrameWriter.save` plans for a V1 source
    * (`DataSource.planForWriting`), runs it the way
    * `DataFrameWriter.runCommand` does, and reads `numOutputRows` off the
    * executed `DataWritingCommandExec` — a count the write job already
    * made, so the caller never re-reads the files to learn it.
    */
  def saveCounted(df: DataFrame, format: String, partitionCols: Seq[String],
                  path: String): Long = {
    import execution.datasources.{DataSource, DataSourceUtils}
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    val partOpt =
      if (partitionCols.isEmpty) Map.empty[String, String]
      else Map(DataSourceUtils.PARTITIONING_COLUMNS_KEY ->
        DataSourceUtils.encodePartitioningColumns(partitionCols))
    val cmd = DataSource(session, className = format, partitionColumns = partitionCols,
        options = partOpt + ("path" -> path))
      .planForWriting(SaveMode.Overwrite, ds.logicalPlan)
    val qe = new execution.QueryExecution(session, cmd, ds.queryExecution.tracker,
      shuffleCleanupMode =
        execution.QueryExecution.determineShuffleCleanupMode(session.sessionState.conf))
    qe.assertCommandExecuted()
    val written = qe.commandExecuted.collectFirst {
      case r: catalyst.plans.logical.CommandResult => writeExec(r.commandPhysicalPlan)
    }.flatten.getOrElse(throw new IllegalStateException(
      s"write to $path executed no DataWritingCommandExec"))
    written.metrics("numOutputRows").value
  }

  /** The write node of an executed command plan. Under AQE the command
    * sits below `AdaptiveSparkPlanExec`, and a write whose child
    * shuffles is wrapped in a result query stage.
    */
  private def writeExec(p: execution.SparkPlan)
      : Option[execution.command.DataWritingCommandExec] = p match {
    case w: execution.command.DataWritingCommandExec => Some(w)
    case a: execution.adaptive.AdaptiveSparkPlanExec => writeExec(a.executedPlan)
    case s: execution.adaptive.QueryStageExec => writeExec(s.plan)
    case other => other.children.iterator.map(writeExec).collectFirst { case Some(w) => w }
  }

  /** `spark.read.format("text").option("wholetext", "true").load(...)`
    * of the `matched` statuses of a driver-side glob, which it lists no
    * further: each matched file is its own leaf, so loading many files
    * runs no parallel listing job. A matched directory is listed as that
    * load lists it, and a matched hidden file is skipped as it skips it.
    */
  def wholeTextFiles(spark: SparkSession, matched: Seq[FileStatus]): DataFrame = {
    import execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
    val leaves = matched.filter(_.isFile).map { s =>
      val hidden = HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName)
      s.getPath -> (if (hidden) Array.empty[FileStatus] else Array(s))
    }.toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = leaves.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("wholetext" -> "true")
    val index = new InMemoryFileIndex(spark, matched.map(_.getPath), options, None, listed)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      new types.StructType().add("value", types.StringType), None,
      new execution.datasources.text.TextFileFormat, options)(spark))
  }

  /** `bloom_filter_agg(c, expectedItems, numBits)` — the aggregate
    * `df.stat.bloomFilter` runs, as a Column to select alongside others.
    */
  def bloomFilterAgg(c: Column, expectedItems: Long, numBits: Long): Column =
    Column.internalFn("bloom_filter_agg", c,
      functions.lit(expectedItems), functions.lit(numBits))
}
