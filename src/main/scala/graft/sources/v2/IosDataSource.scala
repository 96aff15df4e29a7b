package graft.sources.v2

import graft.sources.{IosFileParser, IosReader}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util

/** DataSource V2 integration for the IOS observation format:
  * `spark.read.format("ios").load(glob)` yields the long observation
  * layout with real source-level column pruning.
  *
  * Scale shape: the driver only expands the glob; each file is one
  * InputPartition, decoded as UTF-8 and parsed executor-side by the
  * same pure [[IosFileParser]], with the same observation kernel
  * ([[IosFileParser.observations]]), as the mapPartitions reader — a
  * million-file archive reads with a million-way parallelizable scan and
  * no driver content I/O.
  */
class IosDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ios"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = IosTable.fullSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // multi-path load() arrives as a JSON-encoded array in "paths" —
    // parse it properly (paths may contain commas/escapes)
    val patterns = Option(properties.get("paths")) match {
      case Some(json) if json.startsWith("[") =>
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(json, classOf[Array[String]]).toSeq.filter(_.nonEmpty)
      case _ => Seq(properties.getOrDefault("path", ""))
    }
    new IosTable(patterns)
  }
}

/** Bloom-join pushdown support: the build side of a selective join (a
  * mission manifest, a channel whitelist) is summarized as a Bloom
  * filter and shipped to the scan as an option — the DSv2 analogue of
  * Spark's runtime bloom-filter join, but applied BEFORE file open
  * (filename bloom) or before observation rows materialize (channel
  * bloom). No false negatives ⇒ pruning is only ever an optimization;
  * Spark re-applies the real join afterwards.
  */
object IosBloom {
  import org.apache.spark.util.sketch.BloomFilter

  val FilenameOption = "filenameBloom"
  val ChannelOption = "channelBloom"

  /** Build a base64 bloom over a string column of the (small) build-side
    * DataFrame, for `.option(IosBloom.FilenameOption, ...)`.
    */
  def buildOption(df: org.apache.spark.sql.DataFrame, column: String,
                  expectedItems: Long = 100000L, fpp: Double = 0.01): String = {
    val bf = df.stat.bloomFilter(column, expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  def decode(b64: String): BloomFilter =
    BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(b64)))
}

object IosTable {
  val fullSchema: StructType = StructType(Seq(
    StructField("filename", StringType),
    StructField("channel_no", IntegerType),
    StructField("channel_name", StringType),
    StructField("units", StringType),
    StructField("row_idx", IntegerType),
    StructField("raw", StringType),
    StructField("value", DoubleType),
    StructField("obs_time_utc", TimestampType)))

  /** The files `pattern` (a path or a glob) matches, by
    * [[IosReader.globStatus]]: a pattern that matches nothing fails as it
    * does in `IosReader`, and one that matches only directories fails
    * too: either way the scan would silently be empty.
    */
  def expandGlob(spark: SparkSession, pattern: String): Seq[String] = {
    val files = IosReader.globStatus(spark, pattern).filter(_.isFile).map(_.getPath.toString)
    require(files.nonEmpty, s"ios: $pattern matches only directories, no file")
    files
  }
}

class IosTable(pathPatterns: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"ios(${pathPatterns.mkString(",")})"
  override def schema(): StructType = IosTable.fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IosScanBuilder(pathPatterns,
      Option(options.get(IosBloom.FilenameOption)),
      Option(options.get(IosBloom.ChannelOption)))
}

/** Filter pushdown tiers (SupportsPushDownFilters):
  *   - `filename` predicates prune WHOLE FILES at planning time — on a
  *     million-file archive a mission/date filter skips the files
  *     without ever opening them (the V2 equivalent of partition
  *     pruning).
  *   - `channel_name` / `channel_no` predicates drop channels inside the
  *     reader BEFORE observation rows materialize — a 16-channel file
  *     read for one channel emits 1/16th of the rows.
  * Every filter is also returned as residual (Spark re-applies it), so
  * pruning can never change semantics — only skip work.
  */
class IosScanBuilder(pathPatterns: Seq[String],
                     fileBloom: Option[String] = None,
                     channelBloom: Option[String] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  import org.apache.spark.sql.sources._
  private var required: StructType = IosTable.fullSchema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = { required = requiredSchema }
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(IosFilters.prunable)
    filters // all residual: pruning is an optimization, never a contract
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan =
    new IosScan(pathPatterns, required, pushed, fileBloom, channelBloom)
}

/** Conservative predicate evaluation for pruning: `true` = might match
  * (keep), `false` = provably excluded (skip). Unknown filter shapes are
  * never prunable.
  */
object IosFilters {
  import org.apache.spark.sql.sources._

  def prunable(f: Filter): Boolean = f match {
    case EqualTo(a, _) => cols(a)
    case In(a, _) => cols(a)
    case StringStartsWith(a, _) => cols(a)
    case StringEndsWith(a, _) => cols(a)
    case StringContains(a, _) => cols(a)
    case GreaterThan(a, _) => a == "channel_no"
    case GreaterThanOrEqual(a, _) => a == "channel_no"
    case LessThan(a, _) => a == "channel_no"
    case LessThanOrEqual(a, _) => a == "channel_no"
    case And(l, r) => prunable(l) && prunable(r)
    case _ => false
  }
  private def cols(a: String): Boolean =
    a == "filename" || a == "channel_name" || a == "channel_no"

  /** Evaluate one filter against a candidate (attr → value) row slice;
    * attributes absent from the slice are unconstrained (might match).
    */
  def mightMatch(f: Filter, attrs: Map[String, Any]): Boolean = f match {
    case EqualTo(a, v) => attrs.get(a).forall(_ == v)
    case In(a, vs) => attrs.get(a).forall(x => vs.contains(x))
    case StringStartsWith(a, p) =>
      attrs.get(a).forall(x => x.toString.startsWith(p))
    case StringEndsWith(a, p) =>
      attrs.get(a).forall(x => x.toString.endsWith(p))
    case StringContains(a, p) =>
      attrs.get(a).forall(x => x.toString.contains(p))
    case GreaterThan(a, v: Number) =>
      attrs.get(a).forall(x => x.asInstanceOf[Number].longValue > v.longValue)
    case GreaterThanOrEqual(a, v: Number) =>
      attrs.get(a).forall(x => x.asInstanceOf[Number].longValue >= v.longValue)
    case LessThan(a, v: Number) =>
      attrs.get(a).forall(x => x.asInstanceOf[Number].longValue < v.longValue)
    case LessThanOrEqual(a, v: Number) =>
      attrs.get(a).forall(x => x.asInstanceOf[Number].longValue <= v.longValue)
    case And(l, r) => mightMatch(l, attrs) && mightMatch(r, attrs)
    case _ => true
  }
}

/** In addition to the static pushdown, the scan accepts RUNTIME filters
  * (SupportsRuntimeFiltering) on `filename` — the DSv2 analogue of
  * dynamic partition pruning: when the source joins a dimension on
  * filename (e.g. a mission manifest), Spark delivers the build side's
  * key set as an In filter AFTER planning and the probe side drops the
  * excluded files before opening any of them.
  */
class IosScan(pathPatterns: Seq[String], required: StructType,
              filters: Array[org.apache.spark.sql.sources.Filter],
              fileBloom: Option[String] = None,
              channelBloom: Option[String] = None)
    extends Scan with Batch with SupportsRuntimeFiltering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  @volatile private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"IosScan(files=${pathPatterns.mkString(",")}, " +
      s"columns=${required.fieldNames.mkString(",")}, " +
      s"pushed=[${filters.mkString(",")}]" +
      fileBloom.map(_ => ", filenameBloom").getOrElse("") +
      channelBloom.map(_ => ", channelBloom").getOrElse("") + ")"
  // runtime key sets arrive for both the file axis (prunes opens) and
  // the channel axis (prunes rows in the reader)
  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("filename"), Expressions.column("channel_name"))
  override def filter(newFilters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    runtimeFilters = newFilters.filter(IosFilters.prunable)
  }
  override def planInputPartitions(): Array[InputPartition] = {
    val bloom = fileBloom.map(IosBloom.decode)
    pathPatterns.flatMap(IosTable.expandGlob(SparkSession.active, _)).distinct
      .filter { f =>
        val name = f.split('/').last
        val attrs = Map[String, Any]("filename" -> name)
        bloom.forall(_.mightContainString(name)) &&
          (filters ++ runtimeFilters).forall(IosFilters.mightMatch(_, attrs))
      }
      .map(f => IosFilePartition(f): InputPartition).toArray
  }
  // runtime filters joined in: a channel-key set delivered after planning
  // must reach the reader, where channels drop before rows expand
  override def createReaderFactory(): PartitionReaderFactory =
    new IosReaderFactory(required.fieldNames, filters ++ runtimeFilters, channelBloom)
}

case class IosFilePartition(path: String) extends InputPartition

class IosReaderFactory(columns: Array[String],
                       filters: Array[org.apache.spark.sql.sources.Filter],
                       channelBloom: Option[String] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new IosPartitionReader(partition.asInstanceOf[IosFilePartition].path, columns,
      filters, channelBloom)
}

/** Parses one file and streams observation rows, emitting only the
  * pruned columns (projection applied at the source, like a columnar
  * format would).
  */
class IosPartitionReader(path: String, columns: Array[String],
                         filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
                         channelBloom: Option[String] = None)
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(hp)
    // UTF-8, as Spark's text source decodes it for IosReader
    val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val p = IosFileParser.parse(path.split('/').last, content)
    val fname = UTF8String.fromString(p.filename)
    // channel-level pushdown: drop excluded channels ONCE, before the
    // data rows expand (row count scales with surviving channels); the
    // bloom (join build side summary) prunes alongside the exact filters
    val chBloom = channelBloom.map(IosBloom.decode)
    def keep(ch: IosFileParser.Channel): Boolean = {
      val attrs = Map[String, Any]("filename" -> p.filename,
        "channel_name" -> ch.name, "channel_no" -> ch.no)
      chBloom.forall(_.mightContainString(ch.name)) &&
        filters.forall(IosFilters.mightMatch(_, attrs))
    }
    val project = columns.map[IosFileParser.Observation => Any] {
      case "filename" => _ => fname
      case "channel_no" => _.channel.no
      case "channel_name" => o => UTF8String.fromString(o.channel.name)
      case "units" => o => UTF8String.fromString(o.channel.units)
      case "row_idx" => _.row
      case "raw" => o => UTF8String.fromString(o.raw)
      case "value" => _.value.getOrElse(null)
      case "obs_time_utc" => _.obsMicros.getOrElse(null)
    }
    IosFileParser.observations(p, keep).map(o => new GenericInternalRow(project.map(_(o))))
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
