package graft

import java.nio.file.{Files, Paths}
import java.nio.file.StandardCopyOption.REPLACE_EXISTING

import graft.operators.ReferencePipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** End-to-end conversion of the IOS fixture corpus
  * (src/test/resources/ios/, see its README) through the full pipeline:
  * parse → classify → BODC → geo → partitioned sink.
  */
class ReferencePipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val base = IosFixtures.base

  /** (channel_no, channel_name, bodc) → value rows. */
  private def codeRows(std: DataFrame): Map[(Int, String, String), Long] =
    std.groupBy("channel_no", "channel_name", "bodc").count().collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap

  test("standardize assigns reference-style BODC codes per file") {
    val std = ReferencePipeline.standardize(spark, s"$base/ctd_profile/2017-020-0474.ctd")
    // a channel name can carry several codes (the file has two
    // Oxygen:Dissolved:SBE channels), so the codes are grouped per name:
    // a plain toMap would keep whichever row the shuffle returned last
    val codes: Map[String, Set[String]] = std.select("channel_name", "bodc").distinct()
      .collect().groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getString(1)).toSet }
    // temperature ITS90 → TEMPS9 + 01; salinity PSS-78 → PSALST01;
    // oxygen mL/L → DOXYZZ01, umol/kg → DOXMZZ01; pressure fixed name
    assert(codes("Temperature:Primary") == Set("TEMPS901"))
    assert(codes("Salinity:T0:C0") == Set("PSALST01"))
    assert(codes("Oxygen:Dissolved:SBE") == Set("DOXYZZ01", "DOXMZZ01"))
    assert(codes("Pressure") == Set("PRESPR01"))
    assert(codes("Depth") == Set("depth"))
    // conductivity S/m → CNDCST01
    assert(codes("Conductivity:Primary") == Set("CNDCST01"))
    // excluded channels never appear
    assert(!codes.contains("Transmissivity"))
  }

  test("duplicate-class channels get distinct suffixes (oxygen ×2)") {
    val std = ReferencePipeline.standardize(spark, s"$base/ctd_profile/2017-020-0474.ctd")
    val oxy = std.filter(col("var_class") === "oxygen")
      .select("bodc").distinct().collect().map(_.getString(0)).sorted
    // file has Oxygen:Dissolved:SBE in mL/L AND umol/kg → different
    // bases, each suffixed 01
    assert(oxy.toSeq == Seq("DOXMZZ01", "DOXYZZ01"))
  }

  test("convertArchive writes prunable parquet and reports per-file stats") {
    val out = tmp("ref_pipeline")
    // the corpus's 51-polygon geojson catalog drives geo-tagging
    val catalog = graft.functions.Geo.catalogFromGeoJson(spark, s"$base/ios_polygons.geojson")
    val summary = ReferencePipeline.convertArchive(spark, s"$base/ctd_profile/*.ctd", out, catalog)
    val rows = summary.collect()
    assert(rows.length == 6)
    // the Arctic profile (2017-020-0474) resolves to a catalog polygon name
    assert(rows.exists(_.getAs[String]("geo_code").contains("Canadian-Arctic")))
    assert(rows.forall(_.getAs[Long]("n_vars") >= 5))
    assert(rows.forall(r => r.getAs[Long]("n_nonnull") <= r.getAs[Long]("n_values")))
    val back = spark.read.parquet(out)
    assert(back.select("var_class").distinct().count() >= 5)
    assert(back.filter(col("var_class") === "temperature").count() > 0)
    // profile metadata travels with every value row
    assert(back.filter(col("geo_code").isNull).count() == 0)
  }

  test("convertArchive emits the CF-attribute sidecar write_ctd_ncfile builds") {
    val out = tmp("ref_pipeline_cf")
    ReferencePipeline.convertArchive(spark, s"$base/ctd_profile/*.ctd", out)
    val cf = spark.read.json(s"$out/_cf_attributes")
    val rows = cf.collect()
    assert(rows.length == 6)
    // the constants every reference NetCDF carries (write_ctd_ncfile.py:22-33)
    assert(rows.forall(_.getAs[String]("featureType") == "profile"))
    assert(rows.forall(_.getAs[String]("institution").startsWith(
      "Institute of Ocean Sciences")))
    assert(rows.forall(_.getAs[String]("summary").contains("CTDs mounted on rosettes")))
    assert(rows.forall(_.getAs[String]("cdm_profile_variables") == "time"))
    // identity block: %04d-%03d mission, event number, zfilled profile id
    val r474 = rows.find(_.getAs[String]("filename") == "2017-020-0474.ctd").get
    assert(r474.getAs[String]("mission_id") == "2017-020")
    assert(r474.getAs[String]("event_number") == "474")
    assert(r474.getAs[String]("profile_id") == "2017-020-0474")
    // instrument + admin fields and the full original header survive
    assert(r474.getAs[String]("scientist") != null)
    assert(r474.getAs[String]("instrument_type") != null)
    assert(r474.getAs[String]("header").contains("\"FILE\""))
    assert(!r474.isNullAt(r474.fieldIndex("latitude")))
  }

  test("per-variable CF attributes match OceanNcVar.add_var for the sample archive") {
    val std = ReferencePipeline.standardize(spark, s"$base/ctd_profile/2017-020-0474.ctd")
    val vars = ReferencePipeline.cfVariableAttributes(std).collect()
      .map(r => r.getAs[String]("name") -> r).toMap
    // measured channels: the add_var blocks (OceanNcVar.py:92-152) keyed
    // by the BODC names the standardizer already pinned above
    val t = vars("TEMPS901")
    assert(t.getAs[String]("long_name") == "Sea Water Temperature")
    assert(t.getAs[String]("standard_name") == "sea_water_temperature")
    assert(t.getAs[String]("units") == "deg C")
    val s = vars("PSALST01")
    assert(s.getAs[String]("long_name") == "Sea Water Practical Salinity")
    assert(s.getAs[String]("standard_name") == "sea_water_practical_salinity")
    assert(s.getAs[String]("units") == "PSS-78")
    // the two oxygen variants carry their unit-branch canonical units
    assert(vars("DOXYZZ01").getAs[String]("units") == "mL/L")
    assert(vars("DOXMZZ01").getAs[String]("units") == "umol/kg")
    assert(vars("DOXYZZ01").getAs[String]("standard_name") == "dissolved_oxygen_concentration")
    val p = vars("PRESPR01")
    assert(p.getAs[String]("standard_name") == "sea_water_pressure")
    assert(p.getAs[String]("units") == "decibar")
    assert(vars("CNDCST01").getAs[String]("units") == "S/m")
    assert(vars("depth").getAs[String]("standard_name") == "depth_below_sea_level_in_meters")
    // coordinate variables every dataset gets (+ the corrected lon
    // standard_name — the reference's copy-paste 'latitude' slip)
    assert(vars("time").getAs[String]("units") == "seconds since 1970-01-01 00:00:00+0000")
    assert(vars("latitude").getAs[String]("units") == "degrees_north")
    assert(vars("longitude").getAs[String]("standard_name") == "longitude")
    assert(vars("profile").getAs[String]("cf_role") == "profile_id")
  }

  test("convertArchive writes the per-variable sidecar next to the global one") {
    val out = tmp("ref_pipeline_cfv")
    ReferencePipeline.convertArchive(spark, s"$base/ctd_profile/2017-020-0474.ctd", out)
    val v = spark.read.json(s"$out/_cf_variable_attributes")
    // 7 measured channels (2 temp-class rows collapse? no: distinct bodc)
    // + 4 coordinate rows for the single file
    assert(v.filter(col("name") === "TEMPS901").count() == 1)
    assert(v.filter(col("cf_role") === "profile_id").count() == 1)
    assert(v.select("filename").distinct().count() == 1)
  }

  test("CF sidecar routes mctd archives to the timeSeries featureType") {
    val cf = ReferencePipeline.cfAttributes(spark,
      s"$base/ctd_mooring/a1_20080429_20080518_0034m.ctd",
      datasetType = "mctd").collect()
    assert(cf.length == 1)
    // write_mctd_ncfile.py:20-22: timeSeries + the moorings summary
    assert(cf.head.getAs[String]("featureType") == "timeSeries")
    assert(cf.head.getAs[String]("summary").contains("mounted on moorings"))
    // bottle archives get the water-samples summary
    val bot = ReferencePipeline.cfAttributes(spark,
      s"$base/bot/1990-033-0002.che", datasetType = "bot").collect()
    assert(bot.head.getAs[String]("featureType") == "profile")
    assert(bot.head.getAs[String]("summary").contains("water samples"))
  }

  test("files sharing a name in two directories standardize apart") {
    // a/x.ctd is 2017-020-0474.ctd (mission 2017-020), b/x.ctd is
    // 2017-42-1021.ctd (mission 2017-42): one name, two files
    val root = Paths.get(tmp("ios_same_name"))
    val files = Seq("a" -> "2017-020-0474.ctd", "b" -> "2017-42-1021.ctd")
    files.foreach { case (dir, f) =>
      Files.copy(Paths.get(s"$base/ctd_profile/$f"),
        Files.createDirectories(root.resolve(dir)).resolve("x.ctd"), REPLACE_EXISTING)
    }
    val both = ReferencePipeline.standardize(spark, s"$root/*/x.ctd")
    val alone = files.map { case (dir, _) => ReferencePipeline.standardize(spark, s"$root/$dir/x.ctd") }
    assert(both.count() == alone.map(_.count()).sum)
    alone.foreach { one =>
      val mission = one.select("mission").distinct().collect().map(_.getString(0)).toSeq
      assert(mission.size == 1)
      // each file keeps the codes and row counts it gets alone: no
      // suffix counter shared with the other file (CNDCST02, PSALST02)
      assert(codeRows(both.filter(col("mission") === mission.head)) == codeRows(one),
        s"mission ${mission.head}")
    }
  }

  test("nutrient species come from the channel name (1990-033-0017.che)") {
    val std = ReferencePipeline.standardize(spark, s"$base/bot/1990-033-0017.che")
    val codes = std.filter(col("var_class") === "nutrient")
      .select("channel_name", "bodc").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // channels 6-8 are Nitrate_plus_Nitrite, Silicate and Phosphate, all
    // umol/L: three species, one channel each, so each code takes the
    // first suffix — a bare 1, as nutrient suffixes are not zero-padded
    assert(codes == Map("Nitrate_plus_Nitrite" -> "NTRZAAZ1",
      "Silicate" -> "SLCAAAZ1", "Phosphate" -> "PHOSAAZ1"))
    val longNames = ReferencePipeline.cfVariableAttributes(std).collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("long_name")).toMap
    assert(longNames("NTRZAAZ1") == "Mole Concentration of Nitrate and Nitrite in Sea Water")
    assert(longNames("SLCAAAZ1") == "Mole Concentration of Silicate in Sea Water")
    assert(longNames("PHOSAAZ1") == "Mole Concentration of Phosphate in Sea Water")
  }

  test("standardize parses each file once: one text scan and no join") {
    val plan = ReferencePipeline.standardize(spark, s"$base/ctd_profile/*.ctd")
      .queryExecution.executedPlan
    val textScans = collect(plan) {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[TextFileFormat] => s
    }
    assert(textScans.size == 1, plan.treeString)
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan.treeString)
  }

  test("standardize is map-only: no window and no exchange in its executed plan") {
    val plan = ReferencePipeline.standardize(spark, s"$base/*/*.*")
      .queryExecution.executedPlan
    assert(collect(plan) { case w: WindowExec => w }.isEmpty, plan.treeString)
    assert(collect(plan) { case e: Exchange => e }.isEmpty, plan.treeString)
  }

  test("convertArchive writes one parquet file per var_class directory") {
    val out = Paths.get(tmp("ios_one_file_per_class"))
    ReferencePipeline.convertArchive(spark, s"$base/*/*.*", out.toString)
    val perClass = out.toFile.listFiles().filter(_.getName.startsWith("var_class="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    // the corpus's seven classes, depth to nutrient
    assert(perClass.keySet == Set("depth", "pressure", "temperature", "salinity", "oxygen",
      "conductivity", "nutrient").map("var_class=" + _), perClass)
    assert(perClass.values.forall(_ == 1), perClass)
  }

  /** One conversion of a 36-file archive — six copies of each fixture
    * profile, more than the 32 paths above which a plain file-source load
    * lists them in a Spark job — with the jobs it ran and the archive's
    * bytes.
    */
  private lazy val probedConversion: (Seq[JobProbe.Job], Long) = {
    val dir = Paths.get(tmp("ios_probe_archive"))
    val profiles = new java.io.File(s"$base/ctd_profile").listFiles().toSeq
    for (f <- profiles; i <- 1 to 6)
      Files.copy(f.toPath, dir.resolve(s"c$i-${f.getName}"), REPLACE_EXISTING)
    val (_, jobs) = JobProbe.jobsOf(spark)(ReferencePipeline.convertArchive(
      spark, s"$dir/*.ctd", tmp("ios_probe_out")))
    (jobs, profiles.map(_.length).sum * 6)
  }

  test("convertArchive lists the archive once and describes every other job by its phase") {
    val (jobs, _) = probedConversion
    // the glob is resolved once on the driver and the text source gets
    // the matched statuses, so no job lists the 36 files again (Spark
    // describes its parallel listing job itself, over the caller's)
    val listings =
      jobs.filter(_.description.exists(_.startsWith("Listing leaf files and directories")))
    assert(listings.isEmpty, s"listing jobs: $listings")
    val bare = jobs.filterNot(_.description.exists(_.startsWith("graft convertArchive: ")))
    assert(bare.isEmpty, s"undescribed jobs: $bare")
    val phases = jobs.flatMap(_.description).map(_.stripPrefix("graft convertArchive: ")).toSet
    assert(phases == Set("write product", "write cf attributes",
      "write cf variable attributes"), phases)
  }

  test("convertArchive runs at most 6 jobs on the 36-file archive") {
    val (jobs, _) = probedConversion
    // the product's rebalance and write, the global sidecar, and the
    // per-file aggregate and write of the variable sidecar: a window in
    // standardize or a distinct in the sidecar would each add one
    assert(jobs.size <= 6, jobs.map(_.description).mkString("\n"))
  }

  test("one convertArchive call reads the archive's text at most twice") {
    val (jobs, archiveBytes) = probedConversion
    // the per-variable sidecar reads the written parquet product, not the
    // archive; every other phase reads text
    val textBytes = jobs.filterNot(_.description.contains(
      "graft convertArchive: write cf variable attributes")).map(_.inputBytes).sum
    // the text source reports what it reads: a reader that counted
    // nothing would pass the bound below vacuously
    assert(textBytes > 0, jobs)
    assert(textBytes >= archiveBytes && textBytes <= 2 * archiveBytes,
      s"read $textBytes text bytes for a $archiveBytes-byte archive")
  }
}
