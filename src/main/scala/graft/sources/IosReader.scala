package graft.sources

import graft.functions.IosFunctions
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset, GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._
import java.net.URI
import java.sql.Timestamp

/** One parsed file, flattened for Spark (profile-level metadata). */
case class IosProfile(
    filename: String,
    header_version: String,
    mission: Option[String],
    agency: Option[String],
    project: Option[String],
    station: Option[String],
    event_number: Option[String],
    latitude: Double,
    longitude: Double,
    start_time_utc: Option[Timestamp],
    dt_seconds: Option[Double],
    n_records: Int,
    n_channels: Int,
    n_data_rows: Int,
    header_json: String)

/** One observation value in long format — the Spark-native layout for
  * columnar processing of ragged multi-channel files.
  */
case class IosObservation(
    filename: String,
    channel_no: Int,
    channel_name: String,
    units: String,
    row_idx: Int,
    raw: String,
    value: Option[Double],
    obs_time_utc: Option[Timestamp])

/** One [[IosObservation]] of a kept channel, with the channel's
  * standardized variable class and BODC code: a row of
  * `ReferencePipeline.standardize` before its profile columns.
  */
case class IosStandardized(
    filename: String,
    channel_no: Int,
    channel_name: String,
    units: String,
    row_idx: Int,
    raw: String,
    value: Option[Double],
    obs_time_utc: Option[Timestamp],
    var_class: String,
    bodc: String)

/** Spark reader for IOS observation files: the driver only *lists* files;
  * content is read and parsed executor-side (`wholetext` rows →
  * mapPartitions over [[IosFileParser]]) so ingest parallelism scales
  * with the file count — the way a million-file archive must be loaded.
  *
  * Values come from [[IosFileParser.observations]], the kernel the DSv2
  * `format("ios")` source emits through too, and both read files as
  * UTF-8 (the text source's decoding), so the two readers agree row for
  * row. The reference's per-file pipeline (ObsFile.import_data →
  * write_ctd_ncfile) becomes: each file's long rows standardized in its
  * parse task ([[standardizedOf]]: classification and BODC codes by the
  * rule tables of graft.functions) → partitioned parquet sink
  * (`ReferencePipeline.convertArchive`).
  */
object IosReader {

  /** What `pattern` (a path or a glob) matches, resolved on the driver
    * with the session's Hadoop conf. A pattern that matches nothing fails
    * with the `[PATH_NOT_FOUND]` error Spark's file sources raise for it,
    * naming the qualified pattern.
    */
  private[graft] def globStatus(spark: SparkSession, pattern: String): Seq[FileStatus] = {
    val path = new Path(pattern)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
    if (matched.isEmpty) throw new AnalysisException(
      "PATH_NOT_FOUND", Map("path" -> fs.makeQualified(path).toString))
    matched
  }

  /** (file URI, whole content) per file, from one listing of `pathGlob`.
    * The URI is unique per file, so it can key per-file work across
    * directories; [[parseRaw]] turns it into the file's name. The text
    * source gets the statuses [[globStatus]] matched, not the glob, so it
    * neither globs again, nor stats the glob as a literal path, nor lists
    * a matched file again (no listing job however many files match); a
    * matched directory is read whole.
    */
  private[graft] def rawFiles(spark: SparkSession, pathGlob: String): Dataset[(String, String)] = {
    import spark.implicits._
    GraftSqlShim.wholeTextFiles(spark, globStatus(spark, pathGlob))
      .select(input_file_name(), col("value")).as[(String, String)]
  }

  /** Parse one [[rawFiles]] row. `input_file_name()` is a URL-encoded URI
    * (`a dir/x y%z.ctd` comes back as `file:///…/a%20dir/x%20y%25z.ctd`),
    * so the name is decoded here, once, to the on-disk name the DSv2
    * `format("ios")` source reports.
    */
  private[graft] def parseRaw(uri: String, content: String): IosFileParser.Parsed =
    IosFileParser.parse(new Path(new URI(uri)).getName, content)

  /** A file's mission: its MISSION field, else its CRUISE field. */
  private[graft] def missionOf(p: IosFileParser.Parsed): Option[String] =
    p.administration.get("MISSION").orElse(p.administration.get("CRUISE"))

  /** One parsed file's header metadata, coordinates and UTC start time. */
  private[graft] def profileOf(p: IosFileParser.Parsed): IosProfile =
    IosProfile(p.filename, p.headerVersion, missionOf(p),
      p.administration.get("AGENCY"), p.administration.get("PROJECT"),
      p.location.get("STATION"), p.location.get("EVENT NUMBER"),
      p.latitude, p.longitude,
      p.startTimeUtc.map(Timestamp.from),
      p.timeIncrementSeconds, p.nRecords, p.channels.length, p.data.length,
      IosFileParser.headerJson(p))

  /** One parsed file's values in long format: [[IosFileParser.observations]]. */
  private[graft] def observationsOf(p: IosFileParser.Parsed): Iterator[IosObservation] =
    IosFileParser.observations(p).map { o =>
      IosObservation(p.filename, o.channel.no, o.channel.name, o.channel.units, o.row, o.raw,
        o.value, obsTime(o))
    }

  private def obsTime(o: IosFileParser.Observation): Option[Timestamp] =
    o.obsMicros.map(m => Timestamp.from(DateTimeUtils.microsToInstant(m)))

  /** One parsed file's values of kept channels, standardized: the
    * channel rules run once per channel ([[IosFunctions.channelClass]],
    * [[IosFunctions.bodcBaseOf]]), and a channel's BODC suffix is its
    * dense rank by channel number among the kept channels sharing its
    * base ([[IosFunctions.bodcCodeOf]]).
    */
  private[graft] def standardizedOf(p: IosFileParser.Parsed): Iterator[IosStandardized] = {
    val kept = p.channels.map(ch => (ch, IosFunctions.channelClass(ch.name)))
      .collect { case (ch, cls) if cls != "ignore" =>
        (ch, cls, IosFunctions.bodcBaseOf(cls, ch.name, ch.units))
      }
    val codes = kept.map { case (ch, cls, base) =>
      val rank = kept.collect { case (o, _, b) if b == base && o.no < ch.no => o.no }.distinct.size + 1
      ch -> (cls, IosFunctions.bodcCodeOf(cls, base, rank))
    }.toMap
    IosFileParser.observations(p, codes.contains).map { o =>
      val (cls, bodc) = codes(o.channel)
      IosStandardized(p.filename, o.channel.no, o.channel.name, o.channel.units, o.row, o.raw,
        o.value, obsTime(o), cls, bodc)
    }
  }

  /** One row per file: [[profileOf]] each file. */
  def profiles(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    rawFiles(spark, pathGlob).map { case (uri, content) => profileOf(parseRaw(uri, content)) }.toDF()
  }

  /** Long-format observations: [[observationsOf]] each file. */
  def observations(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    rawFiles(spark, pathGlob)
      .flatMap { case (uri, content) => observationsOf(parseRaw(uri, content)) }.toDF()
  }

  /** Incremental-ingest file diff (utils.compare_file_list,
    * utils.py:79-97): which of `all` are not yet in `done`, compared by
    * basename without extension — the reference's cronjob semantics for
    * "convert only new files".
    */
  def pendingFiles(all: Seq[String], done: Seq[String]): Seq[String] = {
    def stem(p: String) = p.split('/').last.split('.').head
    val doneSet = done.map(stem).toSet
    all.filterNot(f => doneSet.contains(stem(f)))
  }

  /** File age in hours relative to `nowMillis`, negative for files
    * modified in the past — the reference's `file_mod_time`
    * (utils.py:37-43, `(mtime − now)/3600`).
    */
  def fileModTimeHours(path: String, nowMillis: Long = System.currentTimeMillis()): Double =
    (java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(path))
      .toMillis - nowMillis) / 3.6e6

  /** The cronjob's other "new-only" gate: keep only files touched within
    * the last `windowHours` (the reference skips conversion when
    * `file_mod_time(fname) < -24` in 'new' mode,
    * ios_data_transform_script.py:53-56). [[pendingFiles]] is the
    * inventory-diff variant for the same use case; this is the
    * time-window one — both are driver-side metadata filters over the
    * file listing, so at archive scale they cost one listing, not a scan.
    */
  def recentFiles(all: Seq[String], windowHours: Double = 24.0,
                  nowMillis: Long = System.currentTimeMillis()): Seq[String] =
    all.filter(f => fileModTimeHours(f, nowMillis) >= -windowHours)

  /** `.env` config parity (utils.import_env_variables, utils.py:21-35):
    * the key:value file the reference's cronjob reads so deployments are
    * independent of local folder layout. Faithful to the reference's
    * quirks, which ARE its contract:
    *  - parsing STOPS at the first blank line (the reference `break`s,
    *    not `continue`s) — trailing content after a blank line is
    *    intentionally dead;
    *  - lines whose first non-space char is '#' are comments;
    *  - value is the SECOND colon field only (`split(':')[1]`) — a value
    *    containing ':' (a URL, a windows path) is truncated at its own
    *    first colon, exactly as upstream;
    *  - a non-blank line without ':' raises (the reference dies on
    *    IndexError — loud beats a silently dropped config key);
    *  - duplicate keys: last one wins (dict assignment order).
    */
  def importEnvVariables(path: String): Map[String, String] = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path)).toArray(Array.empty[String])
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val it = lines.iterator
    var stop = false
    while (it.hasNext && !stop) {
      val line = it.next()
      val t = line.trim
      if (t.isEmpty) stop = true
      else if (t.head == '#') ()
      else {
        val fields = line.split(':')
        require(fields.length >= 2,
          s"$path: malformed .env line (no ':'): '$line'")
        out(fields(0).trim) = fields(1).trim
      }
    }
    out.toMap
  }

  /** One archive job resolved from the `.env` map the way the
    * reference's convert_files dispatches on ftype
    * (ios_data_transform_script.py:20-41): raw/nc folders from
    * `{ftype}_raw_folder` / `{ftype}_nc_folder`, the shared
    * `geojson_file`, and the ftype's case-insensitive extension globs
    * (mctd also sweeps .CTD moorings; bot sweeps .BOT and .CHE).
    * Unknown ftypes throw — upstream prints an error and returns None,
    * and a silent no-op conversion is the one behavior not worth parity.
    */
  final case class ArchiveJob(rawFolder: String, ncFolder: String,
      geojsonFile: String, globPatterns: Seq[String])

  def archiveJob(env: Map[String, String], ftype: String): ArchiveJob = {
    val patterns = ftype match {
      case "ctd" => Seq("**/*.[Cc][Tt][Dd]")
      case "mctd" => Seq("**/*.[Cc][Tt][Dd]", "**/*.mctd")
      case "bot" => Seq("**/*.[Bb][Oo][Tt]", "**/*.[Cc][Hh][Ee]")
      case other => throw new IllegalArgumentException(
        s"ftype '$other' not understood (ctd | mctd | bot)")
    }
    def req(k: String) = env.getOrElse(k,
      throw new NoSuchElementException(s".env is missing '$k'"))
    ArchiveJob(req(s"${ftype}_raw_folder"), req(s"${ftype}_nc_folder"),
      req("geojson_file"), patterns)
  }
}
