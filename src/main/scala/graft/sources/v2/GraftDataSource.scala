package graft.sources.v2

import graft.operators.SnapshotTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, NoopCache, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.hadoop.fs.Path
import java.util

/** DataSource V2 integration for graft snapshot tables — the surface
  * that makes the table format Spark-NATIVE rather than API-only:
  *
  * {{{
  *   spark.read.format("graft").load(path)                        // current
  *   spark.read.format("graft").option("versionAsOf", 3).load(p)  // pinned
  *   spark.read.format("graft").option("timestampAsOf", ts).load(p)
  * }}}
  *
  * plus the SQL path through [[GraftCatalog]] (`SELECT ... FROM
  * graft_cat.t VERSION AS OF 3`). The scan wires Spark's pushdown
  * hooks straight into [[SnapshotTable.planPrunedFiles]] — the SAME
  * stats/bloom/partition pruning `readWhere` runs — so a SQL consumer
  * gets file skipping identical to the Scala API's, then delegates the
  * surviving files to Spark's own vectorized [[ParquetScan]] (full
  * whole-stage codegen + columnar batches; nothing re-implemented).
  *
  * Scale shape: planning touches manifest + stats sidecars only
  * (driver metadata, O(files) rows); file contents stream through
  * Spark's parquet reader executor-side. Column mapping is handled
  * POSITIONALLY: the scan reports LOGICAL names while the delegated
  * parquet scan reads the PHYSICAL schema in the same field order —
  * rows are positional at this layer, so no rename projection is
  * needed. BOTH read overlays are APPLIED in-scan by the per-file
  * reader wrapper over size-gated broadcast masks: positional deletes
  * by (file subpath, row ordinal), KEY tombstones (keyed merge-on-read
  * — e.g. a table maintained by streaming upserts) by (MOR key, dir
  * version) with the strictly-later rule, so SQL reads the same rows
  * as [[SnapshotTable.read]] between compactions. Writes land through
  * [[GraftWriteBuilder]]
  * / [[GraftDataSource.createRelation]] (INSERT paths) and
  * [[GraftRowLevelOperation]] (UPDATE / MERGE / subquery DELETE), all
  * committing through the same operators as the Scala API.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider {
  override def shortName(): String = "graft"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTable.resolve(options).schema()

  /** True so DataFrameWriter resolves a PATH SAVE's table from the
    * frame's own schema instead of inferSchema — a first save to a
    * not-yet-committed path must not fail table resolution before the
    * write (that creates the table) even runs.
    */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val spark = SparkSession.active
    val path = Option(options.get("path")).filter(_.nonEmpty)
    path.filter(p => SnapshotTable.currentVersion(spark, p).isEmpty &&
        !options.containsKey("versionAsOf") &&
        !options.containsKey("timestampAsOf")) match {
      // a write is about to CREATE this table: hand back a minimal
      // write-only table (V1 bridge routes the data to createRelation,
      // which commits with the declared partitioning/format)
      case Some(p) if schema != null => new GraftNewTable(p, schema)
      case _ => GraftTable.resolve(options)
    }
  }

  /** `df.write.format("graft").mode(...).save(path)` — DataFrameWriter
    * routes path-based saves through the V1 write bridge whenever a V2
    * table doesn't expose a native BATCH_WRITE (ours is the V1-fallback
    * write, like Delta's), so this provider implements the V1 hook and
    * lands every mode on the SAME committed operators:
    * append → [[SnapshotTable.append]], overwrite → [[SnapshotTable.write]],
    * errorifexists/ignore → their SQL meanings against the committed
    * chain. Reads are unaffected (TableProvider wins for `load`).
    */
  override def createRelation(ctx: org.apache.spark.sql.SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = ctx.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft write requires a table path: df.write.format(\"graft\").save(<dir>)"))
    if (parameters.contains("versionAsOf") || parameters.contains("timestampAsOf"))
      throw new UnsupportedOperationException(
        s"writing through a time-travel-pinned load of $path is not allowed: " +
          "writes always commit against the CURRENT snapshot — drop the " +
          "versionAsOf/timestampAsOf option to modify the table")
    // branch writes: `.option("branch", name).mode("append")` stages onto
    // the ref's chain ([[SnapshotTable.appendBranch]] — the WAP staging
    // write); branch chains are append-only, so every other mode refuses
    parameters.get("branch").filter(_.nonEmpty) match {
      case Some(b) =>
        if (mode != SaveMode.Append) throw new UnsupportedOperationException(
          s"branch '$b' of $path accepts mode(\"append\") only: branch chains " +
            "are append-only staging refs — publish with fastForward, or " +
            "drop the branch option to rewrite the main table")
        SnapshotTable.appendBranch(spark, data, path, b)
        return new org.apache.spark.sql.sources.BaseRelation {
          override def sqlContext: org.apache.spark.sql.SQLContext = ctx
          override def schema: StructType = data.schema
        }
      case None => ()
    }
    val cur = SnapshotTable.currentVersion(spark, path)
    val exists = cur.isDefined
    // an existing table's committed format governs every later commit —
    // hard-coding the default would stage a parquet delta into (say) an
    // orc chain and flip the whole manifest's format
    val fmt = cur.map(v =>
        SnapshotTable.readManifestChecked(spark, path, v).format)
      .orElse(parameters.get("format"))
      .getOrElse("parquet")
    // DataFrameWriter encodes .partitionBy(...) into the V1 parameters
    // as a JSON list under this key — dropping it would silently create
    // an unpartitioned table
    val partCols = parameters
      .get(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .PARTITIONING_COLUMNS_KEY)
      .map(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .decodePartitioningColumns)
      .getOrElse(Nil)
    mode match {
      case SaveMode.Append =>
        SnapshotTable.append(spark, data, path, fmt, partitionCols = partCols)
      case SaveMode.Overwrite =>
        SnapshotTable.write(spark, data, path, fmt, partitionCols = partCols)
      case SaveMode.ErrorIfExists if exists =>
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(s"graft.`$path`")
      case SaveMode.ErrorIfExists =>
        SnapshotTable.write(spark, data, path, fmt, partitionCols = partCols)
      case SaveMode.Ignore if exists => // no-op by contract
      case SaveMode.Ignore =>
        SnapshotTable.write(spark, data, path, fmt, partitionCols = partCols)
    }
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }
}

/** A graft table that does not exist yet — the resolution target of a
  * path save's FIRST write. Write-only: the V1 bridge carries the data
  * to [[GraftDataSource.createRelation]], which stages and commits
  * version 1 (with the save's declared partitioning and format). Reads
  * refuse — there is nothing to read until that commit lands.
  */
class GraftNewTable(path: String, schema0: StructType)
    extends Table with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
  override def name(): String = s"graft.`$path` (uncommitted)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(SparkSession.active, path, "parquet", info)
}

object GraftTable {
  /** Resolve (path, version) from read options and load the manifest.
    * `versionAsOf` and `timestampAsOf` mirror Delta's reader options;
    * the timestamp accepts epoch millis or `yyyy-MM-dd HH:mm:ss[.f]`.
    */
  def resolve(options: CaseInsensitiveStringMap): GraftTable = {
    val spark = SparkSession.active
    val path = Option(options.get("path")).filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        "graft source requires a single table path: " +
          "spark.read.format(\"graft\").load(<table dir>)"))
    val vOpt = Option(options.get("versionAsOf")).map(_.trim.toLong)
    val tsOpt = Option(options.get("timestampAsOf")).map(_.trim)
    if (vOpt.isDefined && tsOpt.isDefined) throw new IllegalArgumentException(
      "pass versionAsOf OR timestampAsOf, not both")
    Option(options.get("branch")).filter(_.nonEmpty).foreach { b =>
      if (vOpt.isDefined || tsOpt.isDefined ||
          options.getBoolean("readChangeFeed", false))
        throw new IllegalArgumentException(
          "the branch option reads the ref's HEAD; it does not combine with " +
            "versionAsOf/timestampAsOf/readChangeFeed")
      return forBranch(spark, path, b)
    }
    val version = vOpt.getOrElse {
      tsOpt match {
        case Some(ts) =>
          val millis =
            if (ts.matches("-?\\d+")) ts.toLong
            else java.sql.Timestamp.valueOf(ts).getTime
          SnapshotTable.versionAtTimestamp(spark, path, millis)
        case None => SnapshotTable.currentVersion(spark, path).getOrElse(
          throw new IllegalArgumentException(
            s"no committed graft snapshot at $path"))
      }
    }
    forVersion(spark, path, version, pinned = vOpt.isDefined || tsOpt.isDefined,
      cdf = options.getBoolean("readChangeFeed", false))
  }

  def forVersion(spark: SparkSession, path: String, version: Long,
                 pinned: Boolean = false, cdf: Boolean = false): GraftTable = {
    val m = SnapshotTable.readManifestChecked(spark, path, version)
    new GraftTable(spark, path, version, m, SnapshotTable.nullableSchema(m.schema), pinned, cdf)
  }

  /** A BRANCH head as a V2 table: the ref's head manifest pinned
    * exactly (branch chains share the main chain's version numbers, so
    * resolution must carry the manifest, never re-derive it from the
    * version). Batch-read only — V2 writes land on main by contract
    * (branch staging writes go through the V1 bridge's branch option
    * or [[SnapshotTable.appendBranch]]), and the streaming source
    * follows the MAIN chain, which would silently serve the wrong ref.
    */
  def forBranch(spark: SparkSession, path: String, name: String): GraftTable = {
    val (v, m) = SnapshotTable.branchHeadManifest(spark, path, name)
    new GraftTable(spark, path, v, m, SnapshotTable.nullableSchema(m.schema), pinned = true,
      branch = Some(name))
  }
}

/** The engine's row-identity METADATA COLUMNS — the V2 analogue of
  * parquet's `_metadata` struct and the rowId the SQL row-level
  * commands (UPDATE / MERGE / subquery DELETE) join on: `_graft_file`
  * is the row's snapshot-dir-relative file subpath (the canonical file
  * identity every sidecar keys on) and `_graft_pos` its in-file row
  * ordinal. Non-nullable by construction (every physical row has
  * both); hidden from `SELECT *`, selectable by name.
  */
object GraftMeta {
  import org.apache.spark.sql.types.{DataType, LongType, StringType}
  val FileCol = "_graft_file"
  val PosCol = "_graft_pos"
  val names: Seq[String] = Seq(FileCol, PosCol)
  def typeOf(name: String): DataType =
    if (name == FileCol) StringType else LongType
  final class Col(cname: String, doc: String)
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = cname
    override def dataType(): DataType = typeOf(cname)
    override def isNullable: Boolean = false
    override def comment(): String = doc
  }
  val columns: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new Col(FileCol, "snapshot-dir-relative data file subpath"),
      new Col(PosCol, "row ordinal within the data file"))
}

class GraftTable(spark: SparkSession, path: String, version: Long,
                 m: SnapshotTable.Manifest, logical: StructType,
                 pinned: Boolean = false, cdf: Boolean = false,
                 branch: Option[String] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
  override def name(): String = s"graft.`$path` @ " +
    branch.fold(s"v$version")(b => s"branch '$b' (v$version)") +
    (if (cdf) " (changeFeed)" else "")
  // readChangeFeed mode serves ROW EVENTS, so the table's schema grows
  // the event columns and the scan is the CDF stream (FileScan row
  // order: data fields, partition fields, then the event columns)
  override def schema(): StructType =
    if (!cdf) logical
    else {
      val partSet = m.partitionCols.toSet
      StructType(logical.fields.filterNot(f => partSet(f.name)) ++
        logical.fields.filter(f => partSet(f.name)) ++ GraftCdf.metaFields)
    }
  override def capabilities(): util.Set[TableCapability] =
    // a branch table is BATCH_READ only: the streaming source follows
    // the MAIN chain (a "branch stream" would silently serve the wrong
    // ref), and V2 writes commit against main — Spark then refuses
    // stream/write at analysis instead of this table mis-serving them
    if (branch.isDefined) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftMeta.columns

  /** SQL `UPDATE` / `MERGE INTO` (and DELETEs whose predicates the
    * metadata path cannot express, e.g. subqueries) — the DELTA-based
    * row-level contract ([[SupportsDelta]]): Spark reads the table with
    * the `_graft_file`/`_graft_pos` rowId columns, computes the per-row
    * delete/insert operations, and [[GraftDeltaWrite]] lands them as
    * the SAME commit shape the API operators use — a `_posdel/` sidecar
    * plus one delta directory, atomically.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    refusePinned(s"${info.command} (row-level operation)")
    if (m.format != "parquet") throw new UnsupportedOperationException(
      s"row-level SQL operations need the parquet V2 scan; table at $path " +
        s"is committed as '${m.format}'")
    () => new GraftRowLevelOperation(spark, path, m, logical, info.command, version)
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // the V2 scan delegates to Spark's vectorized PARQUET reader; a
    // chain committed under another format must refuse loudly rather
    // than decode garbage (the SnapshotTable API reads any format)
    if (m.format != "parquet") throw new UnsupportedOperationException(
      s"the graft V2 scan reads parquet chains only; table at $path is " +
        s"committed as '${m.format}' — read it through the SnapshotTable API")
    if (cdf) return () => new GraftCdfScan(spark, path, m, logical, version, options)
    new GraftScanBuilder(spark, path, m, logical, options, version)
  }

  private def refusePinned(op: String): Unit =
    if (pinned) throw new UnsupportedOperationException(
      s"$op through a time-travel-pinned load (v$version of $path) is not " +
        "allowed: writes always commit against the CURRENT snapshot — " +
        "load the table without versionAsOf/timestampAsOf to modify it")

  /** The write path: Spark's V1 write fallback hands this table the
    * fully-resolved batch as a DataFrame, which routes into the SAME
    * committed operators the Scala API uses — [[SnapshotTable.append]]
    * for INSERT INTO (plain append, one delta dir, optimistic-
    * concurrency rebase) and [[SnapshotTable.write]] for INSERT
    * OVERWRITE / mode("overwrite") (full-snapshot rewrite that keeps
    * the table's stats config, constraints, partitioning, and column
    * mapping). The DATA path is Spark's distributed parquet write
    * inside those operators; the V1 bridge only carries the PLAN, so
    * nothing funnels through the driver — and every commit-side
    * invariant (constraint gate, schema contract, physmap translation,
    * stats sidecars, commit races) lives in exactly one place instead
    * of being re-implemented against the raw DataWriter API.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refusePinned("writing")
    new GraftWriteBuilder(spark, path, m.format, info)
  }

  /** SQL `DELETE FROM t WHERE ...` — routed to the positional-delete
    * (deletion-vector) tier: victims resolve through the stats-pruned
    * scan, and what commits is a (file, row-ordinal) sidecar of
    * O(matches) rows; no key column required, no data rewrite
    * ([[SnapshotTable.deleteWherePositional]]). Only predicates that
    * translate EXACTLY decline nothing: [[canDeleteWhere]] accepts a
    * filter set iff every conjunct round-trips through
    * [[GraftFilters.toColumn]], so Spark fails un-translatable deletes
    * loudly at analysis instead of this table guessing at semantics.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    !pinned && filters.forall(f => GraftFilters.toColumn(f).isDefined)
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    refusePinned("DELETE FROM")
    val pred = filters.flatMap(GraftFilters.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    SnapshotTable.deleteWherePositional(spark, path, pred)
    ()
  }
  /** SQL `TRUNCATE TABLE` — an overwrite commit with ZERO rows (keeps
    * schema, partitioning, stats config, constraints; history retains
    * the pre-truncate versions for time travel). Deliberately NOT a
    * positional delete of every row: a whole-table erasure has no
    * reason to keep the data files alive behind a total mask.
    */
  override def truncateTable(): Boolean = {
    refusePinned("TRUNCATE TABLE")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logical)
    SnapshotTable.write(spark, empty, path, m.format)
    true
  }
}

/** V2 write builder bridging to the committed operators via Spark's V1
  * write fallback (the same integration seam Delta Lake shipped on for
  * years): `build()` returns a [[V1Write]] whose InsertableRelation
  * receives the resolved batch and calls [[SnapshotTable.append]] /
  * [[SnapshotTable.write]]. `truncate()` flips INSERT OVERWRITE /
  * mode("overwrite") to the full-snapshot rewrite.
  */
class GraftWriteBuilder(spark: SparkSession, path: String,
                        format: String,
                        info: org.apache.spark.sql.connector.write.LogicalWriteInfo = null)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var overwrite = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
        new org.apache.spark.sql.sources.InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame,
                              overwriteFlag: Boolean): Unit = {
            if (overwrite || overwriteFlag)
              SnapshotTable.write(spark, data, path, format)
            else SnapshotTable.append(spark, data, path, format)
            ()
          }
        }
      /** `writeStream.format("graft")` — the NATIVE streaming sink
        * ([[GraftStreamingWrite]]): per-epoch append commits with
        * (queryId, epochId) exactly-once markers. Append mode only —
        * Complete/Update flow through truncate(), which has no
        * per-epoch append representation.
        */
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        if (overwrite) throw new UnsupportedOperationException(
          s"the graft streaming sink at $path supports Append output mode " +
            "only — Complete/Update would rewrite the table every epoch; " +
            "use foreachBatch with SnapshotTable.write for that shape")
        new GraftStreamingWrite(spark, path, info.schema(), info.queryId())
      }
    }
}

/** Pushdown bridge: the V2 filter hooks feed the SAME planning kernel
  * as [[SnapshotTable.readWhere]]. Every accepted filter is translated
  * back to a Column predicate (so the kernel's analyzer/cast handling
  * and OR-of-ranges extraction run unchanged), every filter is ALSO
  * returned as residual — pruning is an optimization, Spark re-applies
  * the exact predicate. Column pruning reaches the parquet scan as a
  * physical read schema (positional logical↔physical alignment).
  */
class GraftScanBuilder(spark: SparkSession, path: String,
                       m: SnapshotTable.Manifest, logical: StructType,
                       options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
                       version: Long = -1L)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.sources._

  private var required: StructType = logical
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftFilters.toColumn(f).isDefined)
    filters // all residual: pruning must never change the answer
  }
  override def pushedFilters(): Array[Filter] = pushed
  private var requiredMeta: Seq[String] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep only known table columns, in TABLE order with partition
    // columns last (the FileScan row layout: data fields then
    // partition fields); requested METADATA columns (_graft_file /
    // _graft_pos — the rowId the SQL row-level commands join on) are
    // tracked separately and appended to the output by the wrapper
    val want = requiredSchema.fieldNames.toSet
    required = StructType(logical.fields.filter(f => want.contains(f.name)))
    requiredMeta = GraftMeta.names.filter(want.contains)
  }

  // ---- aggregate pushdown (MIN/MAX/COUNT from parquet footers) ----------
  // `SELECT count(*) / min(x) / max(x) [GROUP BY <partition col>]` over a
  // graft table answers from FILE FOOTERS, never data pages — delegated
  // to Spark's own ParquetScanBuilder so the support matrix (type gates,
  // complete-vs-partial, the spark.sql.parquet.aggregatePushDown conf)
  // stays exactly Spark's. Refused whenever the footer stats would lie
  // about the table's logical rows: an outstanding overlay masks rows
  // footers still count, and Spark only attempts the pushdown when no
  // residual filter remains, so a refusal is always just "read the data"
  // — never a wrong answer. Column-mapped tables refuse conservatively
  // (the aggregation references logical names; footers carry physical).
  private var aggPushed = false
  private lazy val parquetAggBuilder = {
    val partSet = m.partitionCols.toSet
    val dataSchema = StructType(logical.fields.filterNot(f => partSet(f.name)))
    val f = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val roots = m.dirs.map(d => new Path(path, d)).filter(f.exists)
    val index = new GraftPrunedFileIndex(spark, roots,
      kept0 = null, Some(logical), // null = keep every listed file
      partitioned = m.partitionCols.nonEmpty)
    new org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
      spark, index, logical, dataSchema, options)
  }

  private def aggEligible: Boolean =
    !m.hasOverlay && m.physmap.isEmpty && m.format == "parquet" &&
      pushed.isEmpty && !m.partEvolved

  /** Schema-evolved chains: a column added by `ingest(evolveSchema)`
    * is ABSENT from older dirs' parquet files (reads null-fill it), but
    * footer aggregation looks the column up in each file's physical
    * schema and would fail at execution — a query that works without
    * the pushdown must never break with it. Every dir's files share one
    * write job's schema, so checking ONE footer per dir (O(dirs),
    * planning-time, only under the aggregatePushdown conf) decides
    * presence exactly. Partition columns live in paths, not footers —
    * exempt.
    */
  private def aggColumnsEverywhere(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val partSet = m.partitionCols.toSet
    val referenced = (aggregation.aggregateExpressions().flatMap(_.references()) ++
        aggregation.groupByExpressions().flatMap(_.references()))
      .flatMap(r => r.fieldNames().headOption)
      .filterNot(partSet).distinct
    referenced.isEmpty || m.dirs.forall { d =>
      SnapshotTable.firstDataFile(spark, path, d) match {
        case None => true // empty dir contributes no footer rows
        case Some(file) =>
          // the footer read on the driver: no schema-inference job
          val names = GraftParquetShim.footerSchema(spark, Seq(file)).toSeq
            .flatMap(_.fieldNames).toSet
          referenced.forall(names.contains)
      }
    }
  }

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggEligible && parquetAggBuilder.supportCompletePushDown(aggregation)

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (!aggEligible || !aggColumnsEverywhere(aggregation)) return false
    aggPushed = parquetAggBuilder.pushAggregation(aggregation)
    aggPushed
  }

  override def build(): Scan = {
    // a pushed aggregation builds the delegate's footer-stats scan
    // directly: its readSchema IS the aggregate row, partitions map to
    // files, and the reader factory materializes rows from footers
    if (aggPushed) return parquetAggBuilder.build()
    // STORAGE-PARTITIONED JOIN opt-in (the Iceberg SPJ contract,
    // SPARK-37375): when asked to, an identity-partitioned table
    // reports its layout as KeyGroupedPartitioning and plans one scan
    // task group per partition value, so two tables co-partitioned on
    // the join key SMJ/hash-join with ZERO exchanges. Per-read opt-in
    // (`.option("preserveDataGrouping", true)`) — NOT the default,
    // because key-grouping caps scan parallelism at the partition-value
    // count, which is the right trade for a co-partitioned join and the
    // wrong one for a plain scan (Iceberg's preserve-data-grouping knob
    // makes the same call). Requires every partition column in the
    // output (the reported keys must reference output attributes).
    val spjWanted = options.getBoolean("preserveDataGrouping", false)
    val spjKeys: Option[Seq[String]] =
      if (spjWanted && m.partitionCols.nonEmpty &&
          m.partitionCols.forall(required.fieldNames.contains))
        Some(m.partitionCols)
      else None
    // OVERSIZE-OVERLAY fallback: the in-scan masks materialize the
    // overlay on the DRIVER (they are the broadcast's build side), so
    // past the size gate the masked path would OOM — instead of
    // refusing ("compact the table first", the pre-r17 behavior), the
    // scan degrades to the SnapshotTable API's DISTRIBUTED anti-join
    // served through the V1Scan bridge: same rows, executed as a
    // shuffled anti-join that scales with the overlay instead of the
    // driver's heap. Decided at PLAN time from sidecar byte sums
    // (metadata-only). The broadcast-mask path stays the fast path
    // under the gate; only metadata-column requests (_graft_file /
    // _graft_pos — the wrapper is the only thing that can serve them)
    // still refuse loudly at execution.
    // the SAME V1-bridge fallback serves PARTITION-SPEC-EVOLVED chains:
    // one delegated parquet scan cannot mix per-vintage partition
    // discoveries, while the API read's per-dir unions are
    // layout-agnostic by construction; a compact normalizes the layout
    // and restores the native columnar path
    if (m.partEvolved && requiredMeta.nonEmpty)
      throw new UnsupportedOperationException(
        s"graft table at $path mixes partition layouts (repartitionTable " +
          "without a compact since): the per-file V2 wrapper that serves " +
          "_graft_file/_graft_pos (and SQL row-level commands) cannot span " +
          "layouts — compact the table first, or use the SnapshotTable API's " +
          "row-level operators (deleteWherePositional/updateWherePositional)")
    if (requiredMeta.isEmpty &&
        (m.partEvolved ||
          ((m.posDeletes.nonEmpty || m.tombstones.nonEmpty) &&
            SnapshotTable.overlayOversized(spark, path, m)))) {
      val partSet = m.partitionCols.toSet
      def phys(s: StructType) = StructType(s.fields.map(f =>
        f.copy(name = m.physOf(f.name))))
      val v = if (version >= 0) version
        else SnapshotTable.currentVersion(spark, path).getOrElse(
          throw new IllegalStateException(s"no committed snapshot at $path"))
      return new GraftOverlayFallbackScan(spark, path, v, m, required, pushed,
        StreamSchemas(
          phys(StructType(logical.fields.filterNot(f => partSet(f.name)))),
          phys(StructType(required.fields.filterNot(f => partSet(f.name)))),
          phys(StructType(required.fields.filter(f => partSet(f.name)))),
          phys(logical),
          pushed.flatMap(GraftFilters.rename(_, m.physOf))),
        options,
        reason = if (m.partEvolved) "mixed partition layouts"
                 else "oversize overlay")
    }
    val predicate = pushed.flatMap(GraftFilters.toColumn)
      .reduceOption(_ && _)
    val (perDir, report) = SnapshotTable.planPrunedFiles(spark, path, m, predicate)
    val keptPaths = perDir.flatMap(_._3).map(_.toString).toSet
    val partSet = m.partitionCols.toSet
    def phys(s: StructType) = StructType(s.fields.map(f =>
      f.copy(name = m.physOf(f.name))))
    // an outstanding KEY-tombstone (keyed merge-on-read) overlay is
    // applied IN-SCAN too: the per-file wrapper probes each row's MOR
    // key against a broadcast (key → latest tombstone version) mask and
    // drops it when that version is strictly later than the row's dir
    // version — the same algebra as the API read's keyed anti-join, so
    // a table maintained by streaming upserts stays SQL-readable
    // between compactions. The key column joins the read set even when
    // the query didn't select it (dropped from the output projection).
    val keyed = m.tombstones.nonEmpty
    val morKeyName = if (!keyed) null else m.morKey.getOrElse(
      throw new IllegalStateException(
        s"manifest at $path lists tombstones but no morkey — corrupt manifest"))
    val keyInjected = keyed && !required.fieldNames.contains(morKeyName)
    val readCols =
      if (!keyInjected) required
      else {
        val want = required.fieldNames.toSet + morKeyName
        StructType(logical.fields.filter(f => want.contains(f.name)))
      }
    val dataPhys = phys(StructType(logical.fields.filterNot(f => partSet(f.name))))
    val readDataPhys = phys(StructType(readCols.fields.filterNot(f => partSet(f.name))))
    val readPartPhys = phys(StructType(readCols.fields.filter(f => partSet(f.name))))
    // logical output names in FileScan's row order: data, then partition
    val logicalRead = StructType(
      required.fields.filterNot(f => partSet(f.name)) ++
        required.fields.filter(f => partSet(f.name)))
    // the per-file reader WRAPPER engages for three independent reasons:
    // a positional-delete overlay (rows masked by (file, ordinal) —
    // mask data materialized LAZILY at toBatch, size-gated, see
    // [[SnapshotTable.posDeleteMask]]), a key-tombstone overlay (rows
    // masked by (MOR key, dir version) — [[SnapshotTable.tombstoneKeyMask]]),
    // and/or requested METADATA columns (the wrapper appends each row's
    // file subpath and row index). The parquet readers generate the row
    // index via Spark's temp-column machinery.
    val maskable = m.posDeletes.nonEmpty
    val wrap = maskable || keyed || requiredMeta.nonEmpty
    val readDataPhysEff =
      if (wrap) StructType(readDataPhys.fields :+
        org.apache.spark.sql.types.StructField(
          org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
            .ROW_INDEX_TEMPORARY_COLUMN_NAME,
          org.apache.spark.sql.types.LongType, nullable = true))
      else readDataPhys
    val keyPosInFull =
      if (!keyed) -1
      else if (!partSet(morKeyName))
        readCols.fields.filterNot(f => partSet(f.name))
          .indexWhere(_.name == morKeyName)
      else readDataPhysEff.length +
        readCols.fields.filter(f => partSet(f.name))
          .indexWhere(_.name == morKeyName)
    val f = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val roots = m.dirs.map(d => new Path(path, d)).filter(f.exists)
    val index = new GraftPrunedFileIndex(spark, roots, keptPaths,
      Some(phys(logical)), partitioned = m.partitionCols.nonEmpty)
    val parquet = ParquetScan(
      spark,
      spark.sessionState.newHadoopConfWithOptions(Map.empty),
      index,
      dataPhys,
      readDataPhysEff,
      readPartPhys,
      pushed.flatMap(GraftFilters.rename(_, m.physOf)),
      CaseInsensitiveStringMap.empty())
    val logicalReadOut = StructType(logicalRead.fields ++ requiredMeta.map(n =>
      org.apache.spark.sql.types.StructField(n, GraftMeta.typeOf(n),
        nullable = false)))
    new GraftScan(parquet, logicalReadOut, pushed, report, path, spark, m, index,
      StreamSchemas(dataPhys, readDataPhys, readPartPhys, phys(logical),
        pushed.flatMap(GraftFilters.rename(_, m.physOf))),
      options,
      spjKeys = spjKeys,
      wrapShape = if (wrap) Some(RowWrapShape(
        rowIdxPos = readDataPhys.length,
        fullSchema = StructType(readDataPhysEff.fields ++ readPartPhys.fields),
        metaNames = requiredMeta,
        masked = maskable,
        keyPos = keyPosInFull,
        keyType = if (keyed) logical(logical.fieldIndex(morKeyName)).dataType
                  else org.apache.spark.sql.types.NullType,
        keyDrop = keyInjected))
      else None)
  }
}

/** The V2 read of a table whose outstanding overlay is PAST the
  * driver-mask size gate (compaction-starved): serves the SnapshotTable
  * API's read — whose positional and keyed overlays execute as
  * DISTRIBUTED anti-joins sized by AQE, never a driver materialization
  * — through Spark's [[org.apache.spark.sql.connector.read.V1Scan]]
  * bridge (`df.rdd`: fully distributed, no collect). Pushed filters
  * re-apply on the DataFrame so stats/partition pruning still engages
  * inside the API read; column pruning projects before the bridge.
  * Trade-offs vs the masked path are honest and bounded: row-based
  * (no columnar batches) and no parquet-level filter pushdown below
  * the anti-join — the price of staying READABLE when maintenance is
  * behind; compaction restores the fast path. The streaming read is
  * unaffected by overlays (delta dirs only) and stays native.
  */
class GraftOverlayFallbackScan(spark: SparkSession, path: String, version: Long,
                               m: SnapshotTable.Manifest, required: StructType,
                               pushed: Array[org.apache.spark.sql.sources.Filter],
                               streamSchemas: StreamSchemas,
                               options: CaseInsensitiveStringMap,
                               reason: String = "oversize overlay")
    extends org.apache.spark.sql.connector.read.V1Scan {
  import org.apache.spark.sql.sources.{BaseRelation, TableScan}

  override def readSchema(): StructType = required

  private lazy val df = {
    // read the EXACT pinned manifest, not whatever `version` resolves to
    // on the main chain — a branch-backed table shares main's numbering
    val base = SnapshotTable.readFromManifest(spark, path, m)
    val filtered = pushed.flatMap(GraftFilters.toColumn)
      .reduceOption(_ && _).map(base.filter).getOrElse(base)
    filtered.select(required.fieldNames.toIndexedSeq
      .map(org.apache.spark.sql.functions.col): _*)
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: org.apache.spark.sql.SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext = context
      override def schema: StructType = required
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        df.rdd
      override def toString: String = description()
    }.asInstanceOf[T]

  /** Same stream as the masked path's — a data stream reads delta dirs
    * only and never consults the overlay, so the fallback must not
    * regress `readStream` on an oversize-overlay table.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    new GraftDataStream(path, streamSchemas, m.partitionCols, CursorOptions.parse(options))
  }

  override def description(): String =
    s"GraftOverlayFallbackScan(path=$path @ v$version, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"posDeleteSidecars=${m.posDeletes.size}, " +
      s"keyTombstones=${m.tombstones.size}, $reason -> distributed API read)"
}

/** The row-layout half of the per-file reader wrapper, fixed at scan
  * build: the position of the synthetic row-index column in the
  * delegate's output rows, the delegate's FULL row schema (read data
  * fields incl. the row index, then partition fields), the metadata
  * columns to append, whether the positional-delete mask applies (its
  * DATA materializes lazily at toBatch), and — for a key-tombstone
  * (keyed merge-on-read) overlay — the MOR key's position/type in the
  * full row plus whether the key was read ONLY for the mask (injected
  * into the read set, dropped from the output projection).
  */
case class RowWrapShape(rowIdxPos: Int, fullSchema: StructType,
                        metaNames: Seq[String], masked: Boolean,
                        keyPos: Int = -1,
                        keyType: org.apache.spark.sql.types.DataType =
                          org.apache.spark.sql.types.NullType,
                        keyDrop: Boolean = false) {
  /** True when the wrapper can keep COLUMNAR batches flowing: the only
    * engaged overlay is the positional mask (metadata columns and the
    * keyed probe are row-shaped), and every output type has a direct
    * vector-copy form. Masked batches are then filtered by a
    * selection-vector copy instead of dropping the whole scan to
    * row-based parquet decoding.
    */
  def columnarSafe: Boolean =
    masked && metaNames.isEmpty && keyPos < 0 &&
      fullSchema.fields.zipWithIndex.forall { case (f, i) =>
        i == rowIdxPos || ColumnarMaskCopy.copyable(f.dataType)
      }
}

/** [[RowWrapShape]] plus the materialized broadcast masks: (file
  * subpath → sorted deleted ordinals) for the positional overlay and
  * (MOR key → latest tombstone version) for the keyed overlay — each
  * empty when its overlay didn't engage the wrapper.
  */
case class RowWrapSpec(
    mask: org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]],
    keyMask: org.apache.spark.broadcast.Broadcast[Map[Any, Long]],
    shape: RowWrapShape)

/** The schema slices a micro-batch stream needs per batch (captured at
  * scan build so every batch reads under the stream-start projection).
  */
case class StreamSchemas(dataPhys: StructType, readDataPhys: StructType,
                         readPartPhys: StructType, fullPhys: StructType,
                         pushedPhys: Array[org.apache.spark.sql.sources.Filter])

/** [[InMemoryFileIndex]] restricted to the files the snapshot planning
  * kept: partition discovery (hive `k=v` layout under each snapshot
  * dir) stays Spark's own, while stats/bloom-pruned files never reach
  * the scan. `NoopCache` keeps listings fresh across snapshot commits
  * in one JVM (the shared session cache would serve a replaced chain's
  * listing).
  */
class GraftPrunedFileIndex(spark: SparkSession, roots: Seq[Path],
                           kept0: Set[String],
                           userSchema: Option[StructType],
                           partitioned: Boolean = false)
    extends InMemoryFileIndex(spark, roots, Map.empty[String, String],
      userSchema, NoopCache) {
  @volatile private var kept: Set[String] = kept0

  /** Multi-root hive-partitioned chains: Spark's partition inference
    * demands ONE discovered base path across all leaves, so parsing the
    * whole snapshot-dir list at once throws
    * CONFLICTING_DIRECTORY_STRUCTURES (the same reason the API read
    * unions per-dir scans). Every snapshot directory shares one layout
    * by the manifest's partitioning contract, so the spec parses
    * PER ROOT — each root is a clean single-base discovery — and the
    * partitions concatenate under the shared schema. Known cost: the
    * per-root indexes re-list directories the super constructor already
    * listed (one extra LIST round per partitioned multi-root scan
    * build — metadata-scale, and only on the partitioned multi-commit
    * shape; InMemoryFileIndex offers no seam to inject cached leaves).
    */
  private lazy val mergedSpec: org.apache.spark.sql.execution.datasources.PartitionSpec = {
    val perRoot = roots.map(r =>
      new InMemoryFileIndex(spark, Seq(r), Map.empty[String, String],
        userSchema, NoopCache).partitionSpec())
    val nonEmpty = perRoot.filter(_.partitionColumns.nonEmpty)
    if (nonEmpty.isEmpty) org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
    else {
      val schema = nonEmpty.head.partitionColumns
      nonEmpty.foreach(s => require(s.partitionColumns == schema,
        s"snapshot directories disagree on partition layout: " +
          s"$schema vs ${s.partitionColumns} — manifest corrupt"))
      org.apache.spark.sql.execution.datasources.PartitionSpec(
        schema, perRoot.flatMap(_.partitions))
    }
  }

  override def partitionSpec(): org.apache.spark.sql.execution.datasources.PartitionSpec =
    if (partitioned && roots.length > 1) mergedSpec else super.partitionSpec()
  /** Runtime-filter hook: shrink the kept set further (never grows —
    * runtime information can only rule files OUT).
    */
  def restrict(to: Set[String]): Unit =
    kept = if (kept eq null) to else kept.intersect(to)
  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[PartitionDirectory] = {
    val listed = super.listFiles(partitionFilters, dataFilters)
    if (kept eq null) listed // null: no planning ran — keep everything
    else listed
      .map(pd => pd.copy(files = pd.files.filter(st => kept(st.getPath.toString))))
      .filter(_.files.nonEmpty)
  }
}

/** Thin veneer over the delegated [[ParquetScan]]: reports LOGICAL
  * column names (the delegate reads physical ones at the same
  * positions) and a description carrying the pushdown + prune decision
  * so `.explain` shows what the planning did. Statistics delegate to
  * the parquet scan's (kept-files byte/row estimate), so Catalyst can
  * broadcast-size a pruned graft table in joins exactly like a plain
  * parquet relation — after pruning, not before.
  */
class GraftScan(delegate: ParquetScan, logicalRead: StructType,
                pushed: Array[org.apache.spark.sql.sources.Filter],
                report: SnapshotTable.PruneReport, path: String,
                spark: SparkSession, m: SnapshotTable.Manifest,
                index: GraftPrunedFileIndex,
                streamSchemas: StreamSchemas = null,
                options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
                spjKeys: Option[Seq[String]] = None,
                wrapShape: Option[RowWrapShape] = None)
    extends Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  override def readSchema(): StructType = logicalRead

  /** Distinct partition VALUES in the (pruned) listing — the group
    * count [[outputPartitioning]] reports. Metadata-scale: one pass
    * over the already-materialized partition spec, only when SPJ
    * reporting is on.
    */
  private lazy val nPartValues: Int = {
    val spec = index.partitionSpec()
    val types = spec.partitionColumns.fields.map(_.dataType).toSeq
    spec.partitions.map(_.values.toSeq(types)).distinct.size
  }

  /** Storage-partitioned-join reporting ([[SupportsReportPartitioning]],
    * the Iceberg SPJ contract): when the per-read `preserveDataGrouping`
    * opt-in is set and every partition column is in the output, the
    * scan reports identity KeyGroupedPartitioning over the table's
    * partition columns and [[toBatch]] plans key-pure task groups
    * ([[GraftKeyGroupedBatch]]) — Spark's EnsureRequirements then
    * matches two co-partitioned graft sides with ZERO exchanges.
    * Everything else reports unknown, keeping split-by-size planning
    * and full scan parallelism.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjKeys match {
      case Some(cols) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          cols.map(c => Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Expression).toArray,
          nPartValues)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Per-partition ordering report ([[SupportsReportOrdering]],
    * SPARK-38647) — the second half of the SPJ contract: under
    * `preserveDataGrouping` every task group is KEY-PURE (one partition
    * value per task, see [[GraftKeyGroupedBatch]]), so within any task
    * all rows compare EQUAL on the grouping columns — trivially
    * non-decreasing in them, whatever order the files arrive. Reporting
    * that ordering lets EnsureRequirements drop BOTH per-task sorts
    * under a storage-partitioned sort-merge join: co-partitioned
    * graft⋈graft plans with zero exchanges AND zero sorts. Without the
    * opt-in, tasks mix values and no ordering claim is valid.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    spjKeys match {
      case Some(cols) =>
        cols.map(c => Expressions.sort(Expressions.identity(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      case None => Array.empty
    }
  // materialized once, only when a BATCH actually executes (streams and
  // EXPLAIN never read the sidecars); None = overlay too big to mask
  private lazy val posMask: Option[Map[String, Array[Long]]] =
    if (wrapShape.exists(_.masked)) SnapshotTable.posDeleteMask(spark, path, m)
    else Some(Map.empty)
  private lazy val keyMask: Option[Map[Any, Long]] =
    if (wrapShape.exists(_.keyPos >= 0)) SnapshotTable.tombstoneKeyMask(spark, path, m)
    else Some(Map.empty)
  override def toBatch: Batch = {
    val base: Batch = spjKeys match {
      case Some(cols) => new GraftKeyGroupedBatch(spark, delegate, index,
        streamSchemas.readPartPhys, cols.map(m.physOf))
      case None => delegate.toBatch
    }
    wrapShape match {
      case None => base
      case Some(sh) =>
        // BOTH overlays are applied in-scan (positional deletes by
        // (file, ordinal), key tombstones by (MOR key, dir version));
        // the only refusal left is a compaction-starved overlay too
        // big to materialize driver-side
        val mask = posMask.getOrElse(throw new IllegalArgumentException(
          s"graft table at $path carries a positional-delete overlay too " +
            "large for the in-scan mask (past the broadcast size bound); " +
            "compact the table to materialize it, or read through the " +
            "SnapshotTable API's distributed anti-join"))
        val km = keyMask.getOrElse(throw new IllegalArgumentException(
          s"graft table at $path carries a merge-on-read key overlay too " +
            "large for the in-scan mask (past the broadcast size bound); " +
            "compact the table to materialize it, or read through the " +
            "SnapshotTable API's distributed anti-join"))
        new RowWrappedBatch(base,
          RowWrapSpec(spark.sparkContext.broadcast(mask),
            spark.sparkContext.broadcast(km), sh))
    }
  }
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    if (wrapShape.exists(_.metaNames.nonEmpty)) throw new UnsupportedOperationException(
      "the graft streaming data read does not serve the _graft_file/_graft_pos " +
        "metadata columns; select table columns only")
    new GraftDataStream(path, streamSchemas, m.partitionCols, CursorOptions.parse(options))
  }
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    delegate.estimateStatistics()
  /** Runtime filtering — the DSv2 analogue of dynamic partition
    * pruning, the way Iceberg ships it: when this scan probes a
    * selective join, Spark delivers the build side's key set AFTER
    * planning; any key on a stats or partition column re-runs the SAME
    * metadata-only planning ([[SnapshotTable.planPrunedFiles]] — driver,
    * O(files) sidecar rows) and files no surviving key can touch never
    * open. Pruning only ever shrinks (runtime information can only rule
    * files out), and Spark re-applies the real join afterwards.
    */
  override def filterAttributes(): Array[NamedReference] =
    // only columns the scan OUTPUTS: Spark's runtime-filtering planners
    // (PartitionPruning, RowLevelOperationRuntimeGroupFiltering) resolve
    // these against the pruned output and fail on a projected-away
    // column rather than skipping it
    (m.statsCols ++ m.partitionCols).distinct
      .filter(logicalRead.fieldNames.contains)
      .map(Expressions.column).toArray
  override def filter(runtime: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtime.flatMap(GraftFilters.toColumn).reduceOption(_ && _).foreach { p =>
      val (perDir, _) = SnapshotTable.planPrunedFiles(spark, path, m, Some(p))
      index.restrict(perDir.flatMap(_._3).map(_.toString).toSet)
    }
  override def description(): String =
    s"GraftScan(path=$path, PushedFilters: [${pushed.mkString(", ")}], " +
      s"files=${report.nFilesKept}/${report.nFilesTotal}" +
      (if (report.nPartDirsTotal > 0)
         s", partitions=${report.nPartDirsKept}/${report.nPartDirsTotal}"
       else "") +
      (if (m.posDeletes.nonEmpty)
         s", posDeleteSidecars=${m.posDeletes.size}"
       else "") +
      (if (m.tombstones.nonEmpty)
         s", keyTombstones=${m.tombstones.size}"
       else "") +
      spjKeys.fold("")(cols => s", keyGrouped=[${cols.mkString(", ")}]") + ")"
}

/** One scan-task group per hive partition VALUE — the Batch shape
  * behind [[GraftScan.outputPartitioning]]'s KeyGroupedPartitioning
  * claim. The pruned listing's PartitionDirectories are each split and
  * bin-packed with Spark's own helpers (so in-value parallelism and
  * split sizing stay stock), but never packed ACROSS values: every
  * resulting [[KeyedFilePartition]] carries exactly one partition
  * value, which Spark's `groupPartitions` then clusters (the same
  * value may arrive from several snapshot dirs) and aligns across the
  * join. Reading is untouched — the delegate [[ParquetScan]]'s own
  * vectorized reader factory serves the partitions.
  */
class GraftKeyGroupedBatch(spark: SparkSession, delegate: ParquetScan,
                           index: GraftPrunedFileIndex,
                           readPartPhys: StructType,
                           keyPhysNames: Seq[String]) extends Batch {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
  import org.apache.spark.sql.execution.PartitionedFileUtil

  override def planInputPartitions(): Array[InputPartition] = {
    val dirs = index.listFiles(Nil, Nil)
    val maxSplit = org.apache.spark.sql.execution.datasources.FilePartition
      .maxSplitBytes(spark, dirs)
    val specFields = index.partitionSpec().partitionColumns
    // the spec's column order is path-nesting order; both the reader's
    // partition-values row and the reported key row need THEIR declared
    // orders (readPartitionSchema / the reported key expressions)
    val readIdx = readPartPhys.fields.map(f => specFields.fieldIndex(f.name)).toSeq
    val keyIdx = keyPhysNames.map(specFields.fieldIndex)
    // ONE InputPartition per partition VALUE, holding every split of
    // every dir that carries it (the same value can arrive from several
    // snapshot dirs). Spark executes a key group's partitions serially
    // inside one task regardless, so collapsing to a single partition
    // per value costs no parallelism — and a single-part group is
    // exactly the condition under which BatchScanExec trusts the scan's
    // reported per-partition ordering (DataSourceV2ScanExecBase
    // .outputOrdering requires parts.length <= 1), which is what drops
    // the SMJ input sorts on a storage-partitioned join.
    val byKey = scala.collection.mutable.LinkedHashMap.empty[Seq[Any],
      (InternalRow, scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.execution.datasources.PartitionedFile])]
    dirs.foreach { pd =>
      def proj(ix: Seq[Int]): InternalRow = new GenericInternalRow(
        ix.map(j => pd.values.get(j, specFields(j).dataType)).toArray)
      val partVals = proj(readIdx)
      val key = proj(keyIdx)
      // UTF8String/primitive boxed values have value equality — a Seq
      // of them is a sound grouping key for identity transforms
      val normKey = keyIdx.map(j => pd.values.get(j, specFields(j).dataType))
      val slot = byKey.getOrElseUpdate(normKey,
        (key, scala.collection.mutable.ArrayBuffer.empty))
      slot._2 ++= pd.files.flatMap(f => PartitionedFileUtil.splitFiles(
        f, f.getPath, isSplitable = true, maxSplit, partVals))
    }
    byKey.values.iterator.filter(_._2.nonEmpty).zipWithIndex.map {
      case ((key, files), i) =>
        new KeyedFilePartition(i,
          files.sortBy(_.length)(implicitly[Ordering[Long]].reverse).toArray,
          key): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    delegate.toBatch.createReaderFactory()
}

/** A [[org.apache.spark.sql.execution.datasources.FilePartition]] that
  * also declares its partition key ([[HasPartitionKey]]) — all its
  * files share one hive partition value. Passing a FilePartition
  * subtype keeps the delegate parquet reader factory and the row/
  * columnar wrappers working unchanged (they cast to FilePartition).
  */
class KeyedFilePartition(
    idx: Int,
    files0: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.execution.datasources.FilePartition(idx, files0)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** Selection-vector copy of a columnar batch's surviving rows — what
  * keeps a positional-delete-masked scan COLUMNAR: Spark's OSS
  * ColumnarBatch has no native selection vector, so surviving rows copy
  * into fresh on-heap vectors (one tight per-type loop per column).
  * Still far cheaper than the alternative, which is dropping the whole
  * scan to row-based parquet DECODING; and batches with no deleted
  * ordinal in range pass through untouched (zero copies — the common
  * case when deletes cluster in a few row groups).
  */
object ColumnarMaskCopy {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.vectorized.ColumnVector
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  def copyable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Copy `sel(0 until m)`'s rows of `cv` into a fresh vector. */
  def copy(cv: ColumnVector, dt: DataType, sel: Array[Int], m: Int): ColumnVector = {
    val out = new OnHeapColumnVector(m, dt)
    var i = 0
    dt match {
      case BooleanType => while (i < m) { val r = sel(i)
        if (cv.isNullAt(r)) out.appendNull() else out.appendBoolean(cv.getBoolean(r)); i += 1 }
      case ByteType => while (i < m) { val r = sel(i)
        if (cv.isNullAt(r)) out.appendNull() else out.appendByte(cv.getByte(r)); i += 1 }
      case ShortType => while (i < m) { val r = sel(i)
        if (cv.isNullAt(r)) out.appendNull() else out.appendShort(cv.getShort(r)); i += 1 }
      case IntegerType | DateType => while (i < m) { val r = sel(i)
        if (cv.isNullAt(r)) out.appendNull() else out.appendInt(cv.getInt(r)); i += 1 }
      case LongType | TimestampType | TimestampNTZType => while (i < m) { val r = sel(i)
        if (cv.isNullAt(r)) out.appendNull() else out.appendLong(cv.getLong(r)); i += 1 }
      case FloatType => while (i < m) { val r = sel(i)
        if (cv.isNullAt(r)) out.appendNull() else out.appendFloat(cv.getFloat(r)); i += 1 }
      case DoubleType => while (i < m) { val r = sel(i)
        if (cv.isNullAt(r)) out.appendNull() else out.appendDouble(cv.getDouble(r)); i += 1 }
      case StringType | BinaryType => while (i < m) { val r = sel(i)
        if (cv.isNullAt(r)) out.appendNull()
        else { val b = if (dt == StringType) cv.getUTF8String(r).getBytes else cv.getBinary(r)
          out.appendByteArray(b, 0, b.length); () }
        i += 1 }
      case other => throw new IllegalStateException(
        s"unreachable: $other gated by copyable()")
    }
    out
  }
}

/** The delegate batch wrapped per FILE: rows masked by the positional-
  * delete overlay are skipped (broadcast (file subpath → sorted
  * ordinals) mask, one binary search per row in masked files), and
  * requested metadata columns (_graft_file as a per-file constant,
  * _graft_pos from the generated row index) are appended. When the
  * positional mask is the ONLY engaged feature and every type is
  * vector-copyable, reads stay COLUMNAR ([[ColumnarMaskCopy]] —
  * untouched pass-through for batches with no deleted ordinal,
  * selection-vector copy otherwise); metadata columns and the keyed
  * overlay take the row-based path.
  */
class RowWrappedBatch(inner: Batch, spec: RowWrapSpec) extends Batch {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
  override def planInputPartitions(): Array[InputPartition] = inner.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    RowWrappedReaderFactory(
      inner.createReaderFactory()
        .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory],
      spec)
}

/** Wraps the delegate's per-FILE readers (so each row's file identity is
  * known without any per-row file column). Output row = the delegate's
  * fields minus the synthetic row-index column, plus the requested
  * metadata columns; one codegen'd projection per file (the file
  * subpath is a literal in it).
  */
case class RowWrappedReaderFactory(
    delegate: org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory,
    spec: RowWrapSpec)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}

  override def supportColumnarReads(partition: InputPartition): Boolean =
    spec.shape.columnarSafe && delegate.supportColumnarReads(partition)

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
    val files = partition
      .asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition].files
    val sh = spec.shape
    val outIdx = sh.fullSchema.fields.indices.filterNot(_ == sh.rowIdxPos).toArray
    val outTypes = outIdx.map(i => sh.fullSchema.fields(i).dataType)
    new PartitionReader[ColumnarBatch] {
      private var i = -1
      private var cur: PartitionReader[ColumnarBatch] = _
      private var curDeleted: Array[Long] = _
      private var batch: ColumnarBatch = _

      private def transform(b: ColumnarBatch): ColumnarBatch = {
        val n = b.numRows()
        if (n == 0) return null
        def passthrough =
          new ColumnarBatch(outIdx.map(b.column(_): ColumnVector), n)
        if (curDeleted == null) return passthrough
        val idxCol = b.column(sh.rowIdxPos)
        // row indices are monotonically increasing within a file's
        // batches: if no deleted ordinal falls in [first, last], the
        // whole batch passes through with ZERO copies
        val first = idxCol.getLong(0)
        val last = idxCol.getLong(n - 1)
        val lo = java.util.Arrays.binarySearch(curDeleted, first)
        val lp = if (lo >= 0) lo else -lo - 1
        if (lp >= curDeleted.length || curDeleted(lp) > last) return passthrough
        val sel = new Array[Int](n)
        var m = 0
        var r = 0
        while (r < n) {
          if (java.util.Arrays.binarySearch(curDeleted, idxCol.getLong(r)) < 0) {
            sel(m) = r; m += 1
          }
          r += 1
        }
        if (m == 0) return null
        if (m == n) return passthrough
        val cols = new Array[ColumnVector](outIdx.length)
        var c = 0
        while (c < outIdx.length) {
          cols(c) = ColumnarMaskCopy.copy(b.column(outIdx(c)), outTypes(c), sel, m)
          c += 1
        }
        new ColumnarBatch(cols, m)
      }

      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            i += 1
            if (i >= files.length) return false
            cur = delegate.buildColumnarReader(files(i))
            curDeleted = spec.mask.value
              .getOrElse(GraftCdf.subpathOf(files(i).toPath.toString), null)
          }
          if (!cur.next()) { cur.close(); cur = null }
          else {
            val out = transform(cur.get())
            if (out != null) { batch = out; return true }
          }
        }
        false // unreachable
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = if (cur != null) cur.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition
      .asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition].files
    val sh = spec.shape
    val keep = sh.fullSchema.fields.indices.filterNot(i =>
      i == sh.rowIdxPos || (sh.keyDrop && i == sh.keyPos))
    // ONE codegen'd projection per reader (not per file — a per-file
    // subpath literal would compile a fresh generated class for every
    // data file): the subpath rides an extra input slot past the
    // delegate's row, joined in per file
    val subSlot = sh.fullSchema.fields.length
    val metaExprs = sh.metaNames.map {
      case GraftMeta.FileCol => BoundReference(subSlot,
        org.apache.spark.sql.types.StringType, nullable = false)
      case GraftMeta.PosCol => BoundReference(sh.rowIdxPos,
        org.apache.spark.sql.types.LongType, nullable = true)
    }
    val proj = UnsafeProjection.create(
      keep.map(k => BoundReference(k, sh.fullSchema.fields(k).dataType,
        sh.fullSchema.fields(k).nullable)) ++ metaExprs)
    new PartitionReader[InternalRow] {
      private var i = -1
      private var cur: PartitionReader[InternalRow] = _
      private var curDeleted: Array[Long] = _
      private var curDirV: Long = Long.MaxValue
      private val keyProbe = sh.keyPos >= 0
      private val subRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow()
      private var row: InternalRow = _
      private def keyMasked(r: InternalRow): Boolean =
        keyProbe && !r.isNullAt(sh.keyPos) && {
          spec.keyMask.value.get(r.get(sh.keyPos, sh.keyType)) match {
            case Some(tv) => tv > curDirV
            case None => false
          }
        }
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            i += 1
            if (i >= files.length) return false
            cur = delegate.buildReader(files(i))
            // mask keys are snapshot-dir-relative subpaths (the
            // engine's canonical file identity); the dir's commit
            // version orders rows against tombstones (strictly-later
            // rule) — both parsed by the ONE shared helper the sidecar
            // writers mirror ([[GraftCdf]])
            val full = files(i).toPath.toString
            val sub = GraftCdf.subpathOf(full)
            curDeleted = spec.mask.value.getOrElse(sub, null)
            curDirV = if (keyProbe) GraftCdf.dirVersionOf(full) else Long.MaxValue
            subRow.update(0,
              org.apache.spark.unsafe.types.UTF8String.fromString(sub))
          }
          if (!cur.next()) { cur.close(); cur = null }
          else {
            val r = cur.get()
            if ((curDeleted == null || java.util.Arrays.binarySearch(
                curDeleted, r.getLong(sh.rowIdxPos)) < 0) && !keyMasked(r)) {
              row = r
              return true
            }
          }
        }
        false // unreachable
      }
      override def get(): InternalRow = proj(joined(row, subRow))
      override def close(): Unit = if (cur != null) cur.close()
    }
  }
}

/** Streaming DATA read of a graft table — the Delta-streaming-source
  * contract through the SAME short name as batch
  * (`spark.readStream.format("graft").load(path)`): each micro-batch
  * delivers the rows the commits in its version range APPENDED, read
  * directly from the delta directories with Spark's vectorized parquet
  * readers (fully parallel — the metadata-row changelog source
  * `graft-snapshot-log` remains the CDC form for consumers that want
  * commits, not rows).
  *
  * Offsets, start options and admission control are the shared
  * [[VersionStream]] cursor (its scaladoc tabulates this stream's
  * `startVersion` against the other two). Streamable commits: appends
  * and fast-forward publishes emit their added dirs' rows; content
  * no-ops (compact/binpack) and metadata-only commits (constraints,
  * renamecol — physical names are immutable, so the stream-start
  * projection keeps reading later dirs) emit nothing and the cursor
  * rolls past; version 1 emits the initial snapshot whatever its kind.
  * Anything that changes or removes existing rows (overwrite/merge/
  * merge-on-read/posdelete/dropcol/rollback) has NO append
  * representation and fails the query loudly — silently skipping would
  * present an incomplete changelog as complete (Delta's "data update
  * detected" contract). A version expired while the stream was down
  * fails with the retained range, like the changelog source.
  */
class GraftDataStream(path: String, schemas: StreamSchemas,
                      partitionCols: Seq[String], cursor: CursorOptions)
    extends VersionStream(path, cursor.maxVersionsPerBatch) {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  override protected def seedVersion(): Long = {
    val vs = SnapshotTable.versions(spark, path)
    cursor.startVersion match {
      case None | Some(StartVersion.Latest) => vs.lastOption.getOrElse(0L)
      // 'earliest' on a ROW stream means "replay everything" — which is
      // only possible while version 1 is retained. Past an expired
      // prefix, versions <= head survive only as a whole-table STATE
      // (head's cumulative dirs), not as append deltas; skipping to
      // head+1 would SILENTLY omit the bulk of the table from a
      // backfill consumer, and delivering head's dirs as a baseline
      // cannot compose with a possible outstanding overlay. Refuse
      // loudly with the remediations (unlike the CDF stream, whose
      // 'earliest' legitimately means "first replayable EVENTS").
      case Some(StartVersion.Earliest) =>
        vs.headOption match {
          case None => 0L
          case Some(1L) => 0L
          case Some(h) => throw new IllegalStateException(
            s"startVersion=earliest on the $path data stream: the retention " +
              s"prefix expired (earliest retained version is $h) — a row " +
              "stream cannot losslessly replay from 'earliest' (versions " +
              s"<= $h survive only as whole-table state, not appends). " +
              s"Baseline with a batch read at version $h and continue with " +
              s"startVersion=$h, or consume the 'graft-snapshot-log' " +
              "changelog source (flagged-baseline replay)")
        }
      case Some(StartVersion.At(n)) => n
    }
  }

  override protected def planVersions(from: Long, to: Long): Array[InputPartition] = {
    val retained = SnapshotTable.versions(spark, path).toSet
    val addedDirs = ((from + 1) to to).flatMap { v =>
      val mv = SnapshotTable.readManifestChecked(spark, path, v)
      if (v == 1) mv.dirs // initial snapshot: the table's baseline rows
      else if (SnapshotTable.appendKinds(mv.kind)) {
        if (!retained(v - 1)) throw new IllegalStateException(
          s"version ${v - 1} of $path expired while the stream was down — " +
            s"the delta of version $v is unprovable by directory; restart " +
            "from startVersion=latest or re-baseline the consumer")
        // the stream's physical read schemas were captured at START
        // under the then-current partition layout; an append staged
        // under a DIFFERENT spec ([[SnapshotTable.repartitionTable]])
        // cannot be decoded by them — fail loudly, a restart
        // re-captures the current layout
        if (mv.partitionCols != partitionCols) throw new IllegalStateException(
          s"version $v of $path was written under partition layout " +
            s"(${mv.partitionCols.mkString(", ")}) but this stream started " +
            s"under (${partitionCols.mkString(", ")}) — the table was " +
            "repartitioned mid-stream; restart the stream to adopt the new layout")
        SnapshotTable.manifestDiff(
          Some(SnapshotTable.readManifestChecked(spark, path, v - 1)), mv).addedDirs
      }
      // dropcol is the one content no-op a row stream refuses: the
      // column leaves every existing row, and an append-only stream has
      // no way to take back the values it already delivered
      else if (SnapshotTable.contentNoOpKinds(mv.kind) && mv.kind != "dropcol") Nil
      else throw new IllegalStateException(
        s"version $v of $path is a '${mv.kind}' commit — it changes or removes " +
          "existing rows and has no append representation; a row stream " +
          "cannot deliver it (consume the 'graft-snapshot-log' changelog " +
          "source, or restart this stream past it with startVersion)")
    }
    if (addedDirs.isEmpty) Array.empty
    else batchScan(addedDirs).planInputPartitions()
  }

  /** One throwaway delegated parquet batch over specific dirs: the
    * stream-start projection (physical read schemas captured at scan
    * build) applied to the delta files — identical machinery to the
    * batch path, so evolution null-fill and column mapping behave the
    * same (physical names are immutable, so the capture stays valid).
    * `onlySubpaths` restricts the scan to the files it names.
    */
  protected def batchScan(dirs: Seq[String], readData: StructType = schemas.readDataPhys,
                          onlySubpaths: Option[Set[String]] = None): Batch = {
    val f = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val roots = dirs.map(d => new Path(path, d)).filter(f.exists)
    // GraftPrunedFileIndex (kept = null: no pruning) for its per-root
    // partition discovery — a catch-up batch spanning several
    // hive-partitioned append commits would otherwise hit Spark's
    // one-base-path CONFLICTING_DIRECTORY_STRUCTURES check
    val index = new GraftPrunedFileIndex(spark, roots, kept0 = null,
      Some(schemas.fullPhys), partitioned = partitionCols.nonEmpty)
    onlySubpaths.foreach { subs =>
      index.restrict(index.allFiles()
        .map(_.getPath.toString)
        .filter(p => subs.contains(GraftCdf.subpathOf(p))).toSet)
    }
    ParquetScan(
      spark,
      spark.sessionState.newHadoopConfWithOptions(Map.empty),
      index,
      schemas.dataPhys,
      readData,
      schemas.readPartPhys,
      schemas.pushedPhys,
      CaseInsensitiveStringMap.empty()).toBatch
  }

  override def createReaderFactory(): PartitionReaderFactory =
    batchScan(Nil).createReaderFactory()
}

object GraftFilters {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.Column

  private def simpleName(a: String): Boolean =
    a.nonEmpty && !a.contains('.') && !a.contains('`')

  /** V2 [[Filter]] → Column predicate for the planning kernel. Only
    * shapes the kernel's range extraction understands translate;
    * everything else stays residual-only (no pruning, full filter
    * re-applied by Spark).
    */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) if simpleName(a) && v != null => Some(col(a) === lit(v))
    case GreaterThan(a, v) if simpleName(a) && v != null => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) if simpleName(a) && v != null => Some(col(a) >= lit(v))
    case LessThan(a, v) if simpleName(a) && v != null => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) if simpleName(a) && v != null => Some(col(a) <= lit(v))
    case In(a, vs) if simpleName(a) && vs.nonEmpty && vs.forall(_ != null) =>
      Some(col(a).isin(vs.toSeq: _*))
    case EqualNullSafe(a, v) if simpleName(a) =>
      Some(if (v == null) col(a).isNull else col(a) <=> lit(v))
    case IsNull(a) if simpleName(a) => Some(col(a).isNull)
    case IsNotNull(a) if simpleName(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) if simpleName(a) && v != null =>
      Some(col(a).startsWith(v))
    case StringEndsWith(a, v) if simpleName(a) && v != null =>
      Some(col(a).endsWith(v))
    case StringContains(a, v) if simpleName(a) && v != null =>
      Some(col(a).contains(v))
    case Not(c) => toColumn(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case _ => None
  }

  /** Rewrite a filter's attribute names logical→physical for the
    * delegated parquet row-group filters; shapes with un-renameable
    * parts drop (parquet-side filtering is an optimization too).
    */
  def rename(f: Filter, physOf: String => String): Option[Filter] = f match {
    case EqualTo(a, v) => Some(EqualTo(physOf(a), v))
    case GreaterThan(a, v) => Some(GreaterThan(physOf(a), v))
    case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(physOf(a), v))
    case LessThan(a, v) => Some(LessThan(physOf(a), v))
    case LessThanOrEqual(a, v) => Some(LessThanOrEqual(physOf(a), v))
    case In(a, vs) => Some(In(physOf(a), vs))
    case EqualNullSafe(a, v) => Some(EqualNullSafe(physOf(a), v))
    case IsNull(a) => Some(IsNull(physOf(a)))
    case IsNotNull(a) => Some(IsNotNull(physOf(a)))
    case StringStartsWith(a, v) => Some(StringStartsWith(physOf(a), v))
    case StringEndsWith(a, v) => Some(StringEndsWith(physOf(a), v))
    case StringContains(a, v) => Some(StringContains(physOf(a), v))
    case Not(c) => rename(c, physOf).map(Not)
    case f: AlwaysTrue => Some(f)
    case f: AlwaysFalse => Some(f)
    case And(l, r) => for (lc <- rename(l, physOf); rc <- rename(r, physOf)) yield And(lc, rc)
    case Or(l, r) => for (lc <- rename(l, physOf); rc <- rename(r, physOf)) yield Or(lc, rc)
    case _ => None
  }
}
