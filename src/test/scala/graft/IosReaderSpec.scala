package graft

import graft.sources.{IosFileParser, IosReader}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end pins for the IOS source against the IOS fixture corpus
  * (src/test/resources/ios/; its README lists what each file plants):
  * header metadata, coordinate signing, timezone conversion, record
  * counts, pad-null behavior.
  */
class IosReaderSpec extends SparkSpec {

  private val base = IosFixtures.base

  test("parses a CTD profile header exactly") {
    val f = s"$base/ctd_profile/2017-020-0474.ctd"
    val p = IosFileParser.parse("2017-020-0474.ctd",
      new String(Files.readAllBytes(Paths.get(f)), "ISO-8859-1"))
    assert(p.headerVersion == "2.0")
    assert(p.nRecords == 189)
    assert(p.channels.length == 12)
    assert(p.channels(2).name == "Temperature:Primary")
    assert(p.channels(2).units == "'deg C (ITS90)'")
    assert(math.abs(p.latitude - (71 + 23.31 / 60)) < 1e-9)
    assert(math.abs(p.longitude - -(116 + 38.19 / 60)) < 1e-9)
    assert(p.startTimeUtc.map(_.toString).contains("2017-09-10T01:00:42Z"))
    assert(p.data.length == 189)
    assert(p.data.head.head == "3.1") // first pressure value
    assert(p.details.head.pad == "-99")
  }

  test("PDT start times shift to UTC (+7h) like the reference") {
    val f = s"$base/bot/1990-033-0002.che"
    val p = IosFileParser.parse("1990-033-0002.che",
      new String(Files.readAllBytes(Paths.get(f)), "ISO-8859-1"))
    // PDT 1990/10/12 16:53:00 → 23:53:00 UTC
    assert(p.startTimeUtc.map(_.toString).contains("1990-10-12T23:53:00Z"))
    assert(p.nRecords == p.data.length)
  }

  test("profiles(): every sample file parses with matching record counts") {
    val prof = IosReader.profiles(spark, s"$base/ctd_profile/*.ctd")
    val rows = prof.collect()
    assert(rows.length == 6)
    assert(rows.forall(r => r.getAs[Int]("n_records") == r.getAs[Int]("n_data_rows")))
    assert(rows.forall(r => !r.getAs[Double]("latitude").isNaN))
    assert(rows.forall(r => r.getAs[Int]("n_channels") > 0))
  }

  test("observations(): pad values become null, obs_time expands for moorings") {
    val obs = IosReader.observations(spark, s"$base/bot/1990-033-0002.che")
    val counts = obs.agg(
      count(lit(1)).as("n"),
      count(col("value")).as("n_nonnull")).collect()(0)
    // 8 records × 10 channels, with the -99.00 padded channel nulled
    assert(counts.getLong(0) == 80)
    assert(counts.getLong(1) < 80 && counts.getLong(1) > 0)

    val mobs = IosReader.observations(spark, s"$base/ctd_mooring/a1_20080429_20080518_0034m.ctd")
    val times = mobs.filter(col("row_idx") < 2 && col("channel_no") === 1)
      .orderBy("row_idx").select("obs_time_utc").collect()
    assert(times.length == 2)
    // TIME INCREMENT 10 min
    val d = times(1).getTimestamp(0).getTime - times(0).getTimestamp(0).getTime
    assert(d == 600000L)
  }

  test("header_json carries the full original header like out.HEADER") {
    val prof = IosReader.profiles(spark, s"$base/ctd_profile/2017-020-0474.ctd")
    val mission = prof
      .select(get_json_object(col("header_json"), "$.ADMINISTRATION.MISSION").as("m"))
      .collect()(0).getString(0)
    assert(mission == "2017-020")
    val hj = prof.select("header_json").collect()(0).getString(0)
    assert(hj.contains("\"LATITUDE\""))
  }

  test("pendingFiles diffs by basename stem like compare_file_list") {
    val all = Seq("/a/f1.ctd", "/a/f2.ctd", "/b/f3.ctd")
    val done = Seq("/out/f2.nc")
    assert(IosReader.pendingFiles(all, done) == Seq("/a/f1.ctd", "/b/f3.ctd"))
  }

  test("recentFiles keeps only files inside the mod-time window ('new' mode gate)") {
    val dir = java.nio.file.Paths.get(tmp("graft_modtime"))
    val fresh = dir.resolve("fresh.ctd"); val stale = dir.resolve("stale.ctd")
    java.nio.file.Files.writeString(fresh, "x")
    java.nio.file.Files.writeString(stale, "y")
    val now = System.currentTimeMillis()
    // stale: 30 h old; fresh: 1 h old (pin both so the test is not
    // hostage to filesystem timestamp granularity)
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(now - 30L * 3600 * 1000))
    java.nio.file.Files.setLastModifiedTime(fresh,
      java.nio.file.attribute.FileTime.fromMillis(now - 1L * 3600 * 1000))
    val all = Seq(fresh.toString, stale.toString)
    assert(IosReader.recentFiles(all, windowHours = 24.0, nowMillis = now) ==
      Seq(fresh.toString))
    // boundary: exactly -24 h is kept (the reference skips only < -24)
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(now - 24L * 3600 * 1000))
    assert(IosReader.recentFiles(all, windowHours = 24.0, nowMillis = now).size == 2)
    assert(IosReader.fileModTimeHours(stale.toString, now) == -24.0)
  }

  test("malformed content degrades gracefully (reference soft-exit semantics)") {
    val p1 = IosFileParser.parse("junk.ctd", "complete garbage\nno sections at all\n")
    assert(p1.nRecords == 0 && p1.channels.isEmpty && p1.data.isEmpty)
    assert(p1.startTimeUtc.isEmpty && p1.latitude.isNaN)
    val p2 = IosFileParser.parse("empty.ctd", "")
    assert(p2.data.isEmpty)
    // header but no data section
    val p3 = IosFileParser.parse("h.ctd",
      "*IOS HEADER VERSION 2.0\n*FILE\n    NUMBER OF RECORDS : 5\n")
    assert(p3.nRecords == 5 && p3.data.isEmpty)
    // garbage channel-number cell must not kill the file parse
    val p4 = IosFileParser.parse("badch.ctd",
      """*IOS HEADER VERSION 2.0
        |*FILE
        |    $TABLE: CHANNELS
        |    ! No Name  Units  Minimum  Maximum
        |    !--- ----- ------ -------- --------
        |       X Depth metres 0        10
        |       2 Temp  deg_C  0        10
        |    $END
        |*END OF HEADER
        | 1.0 2.0
        |""".stripMargin)
    assert(p4.channels.length == 2 && p4.channels.head.no == 0 &&
      p4.channels(1).no == 2 && p4.data.length == 1)
  }

  test("missing TIME INCREMENT infers dt from end-start/(n-1)") {
    val content =
      "*IOS HEADER VERSION 2.0\n*FILE\n" +
      "    START TIME          : UTC 2020/01/01 00:00:00.000\n" +
      "    END TIME            : UTC 2020/01/01 01:00:00.000\n" +
      "    NUMBER OF RECORDS   : 7\n"
    val p = IosFileParser.parse("synth.ctd", content)
    // 3600s over 6 intervals → 600s
    assert(p.timeIncrementSeconds.contains(600.0))
  }

  private def fmtFixture(formatLine: String, dataRow: String): String =
    s"""*IOS HEADER VERSION 2.0
       |*FILE
       |    NUMBER OF RECORDS   : 1
       |    FORMAT              : $formatLine
       |    $$TABLE: CHANNELS
       |    ! No Name  Units  Minimum  Maximum
       |    !--- ----- ------ -------- --------
       |       1 Depth metres 0        10
       |       2 Temp  deg_C  0        10
       |    $$END
       |    $$TABLE: CHANNEL DETAIL
       |    ! No  Pad   Start  Width  Format  Type  Decimal_Places
       |    !---  ----  -----  -----  ------  ----  --------------
       |       1  -99   ' '        6  F       ' '     1
       |       2  -99   ' '        6  F       ' '     2
       |    $$END
       |*END OF HEADER
       |$dataRow
       |""".stripMargin

  test("FORMAT line is the primary data split and wins over declared widths") {
    // declared widths say 6|6 but FORMAT says 5|7, and the row straddles
    // the 6-char boundary — the reference tries FORMAT first
    // (CtdFile.import_data try/except, ObsFile.py:410-438), so the split
    // must follow FORMAT: "1.5" / "4321.98", not the width split
    // "1.54" / "321.98"
    val row = "  1.54321.98"
    val p = IosFileParser.parse("fmt.ctd", fmtFixture("(F5.1,F7.2)", row))
    assert(p.data == Vector(Vector("1.5", "4321.98")))
    // prove the disagreement is real: the width split differs
    assert(row.substring(0, 6).trim == "1.54" && row.substring(6, 12).trim == "321.98",
      "fixture no longer disagrees")
  }

  test("FORMAT repeat groups, X skips, and exponent descriptors parse") {
    val segs = IosFileParser.parseFortranFormat("(2(F6.1,1X),I4,1X,A8,E15.7)")
    assert(segs.count(_.isField) == 5)
    assert(segs.map(_.width).sum == 6 + 1 + 6 + 1 + 4 + 1 + 8 + 15)
    val p = IosFileParser.parse("fmtx.ctd",
      fmtFixture("(1X,F5.1,1X,F5.2)", "  12.3  6.78"))
    assert(p.data == Vector(Vector("12.3", "6.78")))
  }

  test("every reader reports the on-disk filename, not the URL-encoded path") {
    // a space and a percent sign: input_file_name() renders both
    // URL-encoded (%20, %25), the DSv2 source reports the plain name
    val dir = Files.createDirectories(
      java.nio.file.Paths.get(tmp("graft-ios-names")).resolve("a dir"))
    Files.write(dir.resolve("x y%z.ctd"),
      fmtFixture("(1X,F5.1,1X,F5.2)", "  12.3  6.78").getBytes("ISO-8859-1"))
    val glob = s"$dir/*.ctd"
    def names(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("filename").distinct().collect().map(_.getString(0)).toSet
    val want = Set("x y%z.ctd")
    assert(names(spark.read.format("ios").load(glob)) == want)
    assert(names(IosReader.profiles(spark, glob)) == want)
    assert(names(IosReader.observations(spark, glob)) == want)
    assert(names(graft.operators.ReferencePipeline.cfAttributes(spark, glob)) == want)
  }

  test("unusable FORMAT falls back to channel-detail widths") {
    // Q is not a descriptor → parser throws → width path (6|6)
    val p1 = IosFileParser.parse("bad.ctd",
      fmtFixture("(Q4.1,F8.2)", "  12.3  6.78"))
    assert(p1.data == Vector(Vector("12.3", "6.78")))
    // non-numeric text under a numeric descriptor → float() failure in
    // the reference → same width fallback here
    val p2 = IosFileParser.parse("nonnum.ctd",
      fmtFixture("(F4.1,F8.2)", "abcd  6.78  "))
    assert(p2.data == Vector(Vector("abcd", "6.78")))
    // field-count mismatch vs channels (3 fields, 2 channels) → fallback
    val p3 = IosFileParser.parse("count.ctd",
      fmtFixture("(F4.1,F4.1,F4.1)", "  12.3  6.78"))
    assert(p3.data == Vector(Vector("12.3", "6.78")))
  }

  test("current-meter FORMAT line drives its data read") {
    val f = s"$base/current_meter/A1_19921028_19930504_0035m.CUR"
    val p = IosFileParser.parse("A1.CUR",
      new String(Files.readAllBytes(Paths.get(f)), "ISO-8859-1"))
    assert(p.file.get("FORMAT").exists(_.contains("E15.7")))
    // 5 channels, FORMAT (5×E15.7) — every row must split to 5 fields
    // with the scientific-notation strings intact
    assert(p.data.nonEmpty && p.data.forall(_.length == 5))
    assert(p.data.head == Vector("0.3336200E+02", "-0.9999900E+05",
      "0.1970100E+02", "0.3299620E+03", "0.2660000E+00"))
  }

  test("current-meter files parse (CUR variant)") {
    val obs = IosReader.observations(spark,
      s"$base/current_meter/A1_19921028_19930504_0035m.CUR")
    assert(obs.count() > 0)
    assert(obs.filter(col("obs_time_utc").isNotNull).count() > 0)
  }

  test(".env import matches the reference's parsing quirks") {
    val f = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(tmp("graft_env")), "graft_env", ".env")
    java.nio.file.Files.write(f, java.util.Arrays.asList(
      "# deployment layout",
      "ctd_raw_folder : /data/raw/ctd/",
      "ctd_nc_folder:/data/nc/ctd/",
      "geojson_file: http://example.org/ios_polygons.geojson",
      "ctd_raw_folder: /data/raw/ctd2/",
      "",
      "mctd_raw_folder: /never/read/"))
    val env = IosReader.importEnvVariables(f.toString)
    // comment skipped; keys/values trimmed; LAST duplicate wins;
    // parsing stopped at the blank line; the URL value truncated at its
    // own ':' (split(':')[1] upstream)
    assert(env == Map(
      "ctd_raw_folder" -> "/data/raw/ctd2/",
      "ctd_nc_folder" -> "/data/nc/ctd/",
      "geojson_file" -> "http"))
    // a config line without ':' dies loudly, as upstream does
    java.nio.file.Files.write(f, java.util.Arrays.asList("broken line"))
    intercept[IllegalArgumentException] { IosReader.importEnvVariables(f.toString) }
    java.nio.file.Files.delete(f)
  }

  test("archive jobs resolve folders and globs per ftype like convert_files") {
    val env = Map(
      "ctd_raw_folder" -> "/raw/ctd/", "ctd_nc_folder" -> "/nc/ctd/",
      "mctd_raw_folder" -> "/raw/mctd/", "mctd_nc_folder" -> "/nc/mctd/",
      "bot_raw_folder" -> "/raw/bot/", "bot_nc_folder" -> "/nc/bot/",
      "geojson_file" -> "/etc/ios_polygons.geojson")
    val ctd = IosReader.archiveJob(env, "ctd")
    assert(ctd.rawFolder == "/raw/ctd/" && ctd.globPatterns == Seq("**/*.[Cc][Tt][Dd]"))
    val mctd = IosReader.archiveJob(env, "mctd")
    assert(mctd.globPatterns == Seq("**/*.[Cc][Tt][Dd]", "**/*.mctd"))
    val bot = IosReader.archiveJob(env, "bot")
    assert(bot.globPatterns == Seq("**/*.[Bb][Oo][Tt]", "**/*.[Cc][Hh][Ee]"))
    assert(bot.geojsonFile == "/etc/ios_polygons.geojson")
    intercept[IllegalArgumentException] { IosReader.archiveJob(env, "cur") }
    intercept[NoSuchElementException] {
      IosReader.archiveJob(env - "bot_nc_folder", "bot")
    }
  }
}
