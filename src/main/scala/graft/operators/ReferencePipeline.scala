package graft.operators

import graft.functions.{Geo, IosFunctions}
import graft.sources.IosReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference toolbox's end-to-end job, Spark-native: what
  * `ios_data_transform_script.py` does per file (parse → standardize
  * channels → assign BODC codes → null pads → geo-tag → write), done
  * as one declarative plan over the whole archive.
  *
  * Scale shape: parsing is per-file parallel (wholetext), channel
  * standardization is map-only column logic, BODC suffix dedup is a
  * per-file window (partition key = filename — millions of small
  * windows, no global sort), geo-tagging is unrolled point-in-polygon
  * (map-only), and the sink partitions by variable class for prunable
  * downstream reads.
  */
object ReferencePipeline {

  /** Standardized long-format observations: var_class, BODC code,
    * geo_code and profile metadata attached to every value row.
    */
  def standardize(spark: SparkSession, pathGlob: String,
                  geoCatalog: Seq[Geo.NamedPolygon] = Geo.testCatalog): DataFrame = {
    val obs = IosReader.observations(spark, pathGlob)
    val prof = IosReader.profiles(spark, pathGlob)
      .select(col("filename"), col("mission"), col("station"),
        col("event_number"), col("latitude"), col("longitude"),
        col("start_time_utc"),
        // geoAreaLarge: O(1) expression size, so real catalogs (50+
        // polygons) don't blow analyzer recursion
        Geo.geoAreaLarge(col("longitude"), col("latitude"), geoCatalog).as("geo_code"))

    val classified = obs
      .withColumn("var_class", IosFunctions.classifyChannel(col("channel_name")))
      .filter(col("var_class") =!= "ignore")

    // BODC codes are per *channel*, not per value row: rank the distinct
    // channels within (file × base code) — the window equivalent of
    // OceanNcVar's "retry until the code is unused" loop — then join the
    // code back onto the value rows.
    val chanIdx = classified.select(col("filename").as("f2"), col("channel_no").as("c2"),
      col("var_class").as("vc2"), col("units").as("u2")).distinct()
      .withColumn("bodc_base2", when(col("vc2") === "pressure", "PRESPR01")
        .when(col("vc2") === "depth", "depth")
        .otherwise(IosFunctions.bodcBase(col("vc2"), col("u2"))))
      .withColumn("chan_rn", row_number().over(
        Window.partitionBy(col("f2"), col("bodc_base2")).orderBy(col("c2"))))
      .withColumn("bodc", when(col("vc2").isin("pressure", "depth"), col("bodc_base2"))
        .when(col("vc2") === "nutrient", concat(col("bodc_base2"), col("chan_rn").cast("string")))
        .otherwise(concat(col("bodc_base2"), lpad(col("chan_rn").cast("string"), 2, "0"))))
      .select(col("f2"), col("c2"), col("bodc"))

    classified
      .join(chanIdx, classified("filename") === col("f2") &&
        classified("channel_no") === col("c2"))
      .drop("f2", "c2")
      .join(prof, "filename")
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
                   datasetType: String = "ctd"): DataFrame = {
    import spark.implicits._
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
    IosReader.rawFiles(spark, pathGlob).mapPartitions { it =>
      it.map { case (name, content) =>
        val p = IosFileParser.parse(name, content)
        // mission id normalized to %04d-%03d like write_ctd_ncfile.py:48-51;
        // unparsable missions keep their raw string (we convert archives,
        // not crash on them — soft-fail semantics like the outer script)
        val missionRaw = p.administration.get("MISSION")
          .orElse(p.administration.get("CRUISE")).map(_.trim).getOrElse("")
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
    * Plan shape: a distinct over the already-standardized channel
    * attributes (tiny — #files × #channels) unioned with four literal
    * rows per profile row; everything map-side below the distinct.
    */
  def cfVariableAttributes(std: DataFrame): DataFrame = {
    val chans = std
      .select(col("filename"), col("var_class"), col("bodc")).distinct()
      .select(col("filename"), col("bodc").as("name"),
        IosFunctions.cfLongName(col("var_class"), col("bodc")).as("long_name"),
        IosFunctions.cfStandardName(col("var_class"), col("bodc")).as("standard_name"),
        IosFunctions.cfCanonicalUnits(col("var_class"), col("bodc")).as("units"),
        lit(null).cast("string").as("cf_role"))
    val files = std.select(col("filename")).distinct()
    // the coordinate variables every dataset gets (add_var's str_id /
    // profile / lat / lon / time branches; lon's standard_name corrected
    // — see IosFunctions.cfStandardName)
    val coords = Seq(
      ("time", "time", "time", "seconds since 1970-01-01 00:00:00+0000", null: String),
      ("latitude", "Latitude", "latitude", "degrees_north", null: String),
      ("longitude", "Longitude", "longitude", "degrees_east", null: String),
      ("profile", null: String, null: String, null: String, "profile_id"))
    val coordRows = coords.map { case (n, ln, sn, u, role) =>
      files.select(col("filename"), lit(n).as("name"),
        lit(ln).cast("string").as("long_name"), lit(sn).cast("string").as("standard_name"),
        lit(u).cast("string").as("units"), lit(role).cast("string").as("cf_role"))
    }.reduce(_ unionByName _)
    chans.unionByName(coordRows)
  }

  /** Full conversion: standardized observations → parquet partitioned by
    * variable class, plus the per-dataset CF-attribute sidecar
    * (`_cf_attributes/`, JSON) and the per-variable attribute sidecar
    * (`_cf_variable_attributes/`, JSON). Returns the per-file summary
    * (the reference prints one log line per converted file; we return it
    * as data).
    */
  def convertArchive(spark: SparkSession, pathGlob: String, outDir: String,
                     geoCatalog: Seq[Geo.NamedPolygon] = Geo.testCatalog,
                     datasetType: String = "ctd"): DataFrame = {
    val std = standardize(spark, pathGlob, geoCatalog)
    std.write.mode("overwrite").partitionBy("var_class").parquet(outDir)
    cfAttributes(spark, pathGlob, datasetType).write.mode("overwrite")
      .json(s"$outDir/_cf_attributes")
    cfVariableAttributes(std).write.mode("overwrite")
      .json(s"$outDir/_cf_variable_attributes")
    std.groupBy(col("filename"), col("mission"), col("geo_code"))
      .agg(countDistinct(col("bodc")).as("n_vars"), count(lit(1)).as("n_values"),
        count(col("value")).as("n_nonnull"))
  }
}
