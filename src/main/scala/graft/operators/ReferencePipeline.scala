package graft.operators

import graft.Jobs
import graft.functions.{Geo, IosFunctions}
import graft.sources.IosReader
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The reference toolbox's end-to-end job, Spark-native: what
  * `ios_data_transform_script.py` does per file (parse → standardize
  * channels → assign BODC codes → null pads → geo-tag → write), done
  * as one declarative plan over the whole archive.
  *
  * Scale shape: the archive is listed once per call, and each file is
  * parsed and standardized once, executor-side, into one row carrying
  * its profile metadata and its kept channels' values: the channel rules
  * run once per channel, and a duplicate's BODC suffix is counted within
  * its own file, so `standardize` is map-only (no window, no exchange)
  * and files that share a name in different directories keep apart.
  * Geo-tagging is unrolled point-in-polygon (map-only), evaluated once
  * per file before the values are exploded. A conversion runs that plan
  * once through one rebalance on the variable class (one file per class
  * directory at small scale, advisory-size files at large scale) into a
  * sink partitioned by class for prunable downstream reads; the
  * per-variable sidecar and the summary both come from one per-file
  * aggregate of the written product.
  */
object ReferencePipeline {

  /** Standardized long-format observations: var_class, BODC code,
    * geo_code and profile metadata attached to every value row.
    */
  def standardize(spark: SparkSession, pathGlob: String,
                  geoCatalog: Seq[Geo.NamedPolygon] = Geo.testCatalog): DataFrame =
    standardize(IosReader.rawFiles(spark, pathGlob), geoCatalog)

  private def standardize(files: Dataset[(String, String)],
                          geoCatalog: Seq[Geo.NamedPolygon]): DataFrame = {
    import files.sparkSession.implicits._
    files.map { case (uri, content) =>
      val p = IosReader.parseRaw(uri, content)
      (IosReader.missionOf(p), p.location.get("STATION"), p.location.get("EVENT NUMBER"),
        p.latitude, p.longitude, p.startTimeUtc.map(Timestamp.from),
        IosReader.standardizedOf(p).toSeq)
    }.toDF("mission", "station", "event_number", "latitude", "longitude", "start_time_utc", "obs")
      // geoAreaLarge: O(1) expression size, so real catalogs (50+
      // polygons) don't blow analyzer recursion
      .withColumn("geo_code", Geo.geoAreaLarge(col("longitude"), col("latitude"), geoCatalog))
      .select(inline(col("obs")), col("mission"), col("station"), col("event_number"),
        col("latitude"), col("longitude"), col("start_time_utc"), col("geo_code"))
  }

  /** Per-dataset CF global attributes — the metadata block
    * write_ctd_ncfile.py:20-90 emits into every NetCDF (featureType,
    * title/summary by dataset type, institution, infoUrl, the full
    * original header, mission/profile identity, administration and
    * instrument fields) — as one JSON row per source file, written as a
    * sidecar next to the parquet so ERDDAP-style consumers keep the
    * interchange metadata parquet cannot carry in its schema.
    */
  def cfAttributes(spark: SparkSession, pathGlob: String,
                   datasetType: String = "ctd"): DataFrame =
    cfAttributes(IosReader.rawFiles(spark, pathGlob), datasetType)

  private def cfAttributes(files: Dataset[(String, String)], datasetType: String): DataFrame = {
    import files.sparkSession.implicits._
    import graft.sources.IosFileParser
    // the dataset type is CALLER-supplied, exactly like the reference's
    // per-archive ftype argument — every sample file carries a TIME
    // INCREMENT, so header content cannot discriminate profile CTDs
    // from moorings; the operator running the conversion knows which
    // archive this is (write_ctd_ncfile.py:23-29 'ctd'/'bot' branches,
    // write_mctd_ncfile.py:20-25 'mctd')
    val featureType = if (datasetType == "mctd") "timeSeries" else "profile"
    val summary = datasetType match {
      case "bot" | "che" =>
        "This dataset contains observations made by the Institute of Ocean Sciences of Fisheries and Oceans (DFO) using water samples."
      case "mctd" =>
        "This dataset contains observations made by the Institute of Ocean Sciences of Fisheries and Oceans (DFO) using CTDs mounted on moorings."
      case _ =>
        "This dataset contains observations made by the Institute of Ocean Sciences of Fisheries and Oceans (DFO) using CTDs mounted on rosettes."
    }
    files.mapPartitions { it =>
      it.map { case (uri, content) =>
        val p = IosReader.parseRaw(uri, content)
        // mission id normalized to %04d-%03d like write_ctd_ncfile.py:48-51;
        // unparsable missions keep their raw string (we convert archives,
        // not crash on them — soft-fail semantics like the outer script)
        val missionRaw = IosReader.missionOf(p).map(_.trim).getOrElse("")
        val missionId = missionRaw.split('-') match {
          case Array(a, b) if scala.util.Try(a.toInt).isSuccess &&
              scala.util.Try(b.toInt).isSuccess => f"${a.toInt}%04d-${b.toInt}%03d"
          case _ => missionRaw
        }
        // event number from LOCATION, else guessed from the filename
        // (write_ctd_ncfile.py:79-84)
        val eventId = p.location.get("EVENT NUMBER").map(_.trim).getOrElse {
          val tail = p.filename.split('-').last
          if (tail.length > 4) tail.dropRight(4) else tail
        }
        val profileId = s"$missionId-${("0" * math.max(0, 4 - eventId.length)) + eventId}"
        (p.filename, featureType, summary, summary,
          "Institute of Ocean Sciences, 9860 West Saanich Road, Sidney, B.C., Canada",
          "http://www.pac.dfo-mpo.gc.ca/science/oceans/data-donnees/index-eng.html",
          "time", missionId, eventId, profileId,
          p.administration.get("COUNTRY").map(_.trim),
          p.administration.get("SCIENTIST").map(_.trim),
          p.administration.get("PROJECT").map(_.trim),
          p.administration.get("AGENCY").map(_.trim),
          p.administration.get("PLATFORM").map(_.trim),
          p.instrument.get("TYPE").map(_.trim),
          p.instrument.get("MODEL").map(_.trim),
          p.instrument.get("SERIAL NUMBER").map(_.trim),
          p.latitude, p.longitude,
          IosFileParser.headerJson(p))
      }
    }.toDF("filename", "featureType", "title", "summary", "institution",
      "infoUrl", "cdm_profile_variables", "mission_id", "event_number",
      "profile_id", "country", "scientist", "project", "agency", "platform",
      "instrument_type", "instrument_model", "instrument_serial_number",
      "latitude", "longitude", "header")
  }

  /** Per-VARIABLE CF attributes — the metadata block `OceanNcVar.add_var`
    * attaches to every NetCDF variable (name, long_name, standard_name,
    * canonical units, cf_role; OceanNcVar.py:44-258) — one row per
    * (file, variable), derived from the standardized observations plus
    * the four coordinate variables the reference adds to every dataset
    * (time / latitude / longitude / profile, write_ctd_ncfile.py:95-120).
    * Plan shape: [[perFile]]'s aggregate, then map-only: each file's
    * variable set and the four coordinate rows exploded together.
    */
  def cfVariableAttributes(std: DataFrame): DataFrame = variableAttributes(perFile(std))

  /** One row per (filename, mission, geo_code): the set of its
    * (var_class, bodc) variables, its value rows and its non-null values.
    */
  private def perFile(std: DataFrame): DataFrame =
    std.groupBy(col("filename"), col("mission"), col("geo_code"))
      .agg(collect_set(struct(col("var_class"), col("bodc"))).as("vars"),
        count(lit(1)).as("n_values"), count(col("value")).as("n_nonnull"))

  private def variableAttributes(perFile: DataFrame): DataFrame = {
    def attrs(name: Column, longName: Column, standardName: Column, units: Column,
              cfRole: Column): Column =
      struct(name.as("name"), longName.cast("string").as("long_name"),
        standardName.cast("string").as("standard_name"), units.cast("string").as("units"),
        cfRole.cast("string").as("cf_role"))
    val measured = transform(col("vars"), v => attrs(v("bodc"),
      IosFunctions.cfLongName(v("var_class"), v("bodc")),
      IosFunctions.cfStandardName(v("var_class"), v("bodc")),
      IosFunctions.cfCanonicalUnits(v("var_class"), v("bodc")), lit(null)))
    // the coordinate variables every dataset gets (add_var's str_id /
    // profile / lat / lon / time branches; lon's standard_name corrected
    // — see IosFunctions.cfStandardName)
    val coords = array(Seq(
      ("time", "time", "time", "seconds since 1970-01-01 00:00:00+0000", null: String),
      ("latitude", "Latitude", "latitude", "degrees_north", null: String),
      ("longitude", "Longitude", "longitude", "degrees_east", null: String),
      ("profile", null: String, null: String, null: String, "profile_id"))
      .map { case (n, ln, sn, u, role) => attrs(lit(n), lit(ln), lit(sn), lit(u), lit(role)) }: _*)
    perFile.select(col("filename"), inline(concat(measured, coords)))
  }

  /** Full conversion: standardized observations → parquet partitioned by
    * variable class, plus the per-dataset CF-attribute sidecar
    * (`_cf_attributes/`, JSON) and the per-variable attribute sidecar
    * (`_cf_variable_attributes/`, JSON). Returns the per-file summary
    * (the reference prints one log line per converted file; we return it
    * as data), read from the written product: collect it before
    * `outDir` is removed. Every job this call runs is described
    * `graft convertArchive: <phase>`, except the parallel file-listing
    * job a many-file glob launches, which Spark describes itself.
    */
  def convertArchive(spark: SparkSession, pathGlob: String, outDir: String,
                     geoCatalog: Seq[Geo.NamedPolygon] = Geo.testCatalog,
                     datasetType: String = "ctd"): DataFrame = {
    def phase[T](what: String)(body: => T): T = Jobs.phase(spark, "convertArchive", what)(body)
    val files = IosReader.rawFiles(spark, pathGlob)
    val std = standardize(files, geoCatalog)
    phase("write product")(std.hint("rebalance", col("var_class"))
      .write.mode("overwrite").partitionBy("var_class").parquet(outDir))
    phase("write cf attributes")(
      cfAttributes(files, datasetType).write.mode("overwrite").json(s"$outDir/_cf_attributes"))
    // the sidecar and the summary aggregate the written product (declared
    // schema: no inference job) instead of parsing the archive again
    val byFile = perFile(spark.read.schema(std.schema).parquet(outDir))
    phase("write cf variable attributes")(
      variableAttributes(byFile).write.mode("overwrite").json(s"$outDir/_cf_variable_attributes"))
    byFile.select(col("filename"), col("mission"), col("geo_code"),
      size(col("vars")).cast("long").as("n_vars"), col("n_values"), col("n_nonnull"))
  }
}
