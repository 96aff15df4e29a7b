package graft

import graft.sources.{IosFileParser, IosReader}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Corpus-wide conversion of EVERY file in the IOS fixture corpus
  * (src/test/resources/ios/, laid out like the reference's
  * tests/test_files/: ctd_mooring, ctd_profile, bot — the directories its
  * test loop runs, tests/test.py:48-55 — plus current_meter), each pinned
  * by per-file row/channel counts and the geo code its position resolves
  * to over the corpus's 51-polygon ios_polygons.geojson. Zero skips: the
  * inventory itself is asserted, so a file that stops parsing OR
  * disappears from the glob fails loudly. The corpus README derives
  * every pin from the file text.
  */
class IosCorpusSpec extends SparkSpec {

  private val base = IosFixtures.base

  private def listDir(dir: String): Seq[String] =
    Files.list(Paths.get(s"$base/$dir")).iterator().asScala
      .map(_.toString).filterNot(_.endsWith(".geojson")).toSeq.sorted

  // the corpus directories with their expected inventory
  private val inventory = Map(
    "ctd_mooring" -> 2, "ctd_profile" -> 6, "bot" -> 3, "current_meter" -> 1)

  test("inventory: the reference's test corpus is fully enumerated") {
    inventory.foreach { case (dir, n) =>
      val files = listDir(dir)
      assert(files.length == n, s"$dir: found ${files.length}, expected $n")
    }
  }

  test("every corpus file parses with self-consistent counts, coords, and time") {
    val all = inventory.keys.toSeq.flatMap(listDir)
    assert(all.length == inventory.values.sum)
    all.foreach { path =>
      val name = path.split('/').last
      val p = IosFileParser.parse(name,
        new String(Files.readAllBytes(Paths.get(path)), "ISO-8859-1"))
      assert(p.nRecords > 0, s"$name: no records")
      assert(p.data.length == p.nRecords,
        s"$name: parsed ${p.data.length} rows vs declared ${p.nRecords}")
      // .CUR files ship no $TABLE: CHANNEL DETAIL — the FORMAT line
      // drives their read — so details are either absent or 1:1
      assert(p.channels.nonEmpty &&
        (p.details.isEmpty || p.channels.length == p.details.length),
        s"$name: ${p.channels.length} channels vs ${p.details.length} details")
      assert(p.data.forall(_.length == p.channels.length),
        s"$name: a data row does not span the channel table")
      assert(p.latitude > 40.0 && p.latitude < 80.0, s"$name: lat ${p.latitude}")
      assert(p.longitude > -180.0 && p.longitude < -100.0, s"$name: lon ${p.longitude}")
      assert(p.startTimeUtc.isDefined, s"$name: no start time")
    }
  }

  test("observations() emits exactly records × channels rows for every file") {
    inventory.keys.foreach { dir =>
      listDir(dir).foreach { path =>
        val name = path.split('/').last
        val p = IosFileParser.parse(name,
          new String(Files.readAllBytes(Paths.get(path)), "ISO-8859-1"))
        val n = IosReader.observations(spark, path).count()
        assert(n == p.nRecords.toLong * p.channels.length,
          s"$name: $n obs rows vs ${p.nRecords} × ${p.channels.length}")
      }
    }
  }

  test("convertArchive resolves every corpus file to its pinned geo code and stats") {
    // expected (geo_code, n_vars, n_values) per file, derived from the
    // file text: geo_code = every polygon of ios_polygons.geojson that
    // contains the header's LATITUDE/LONGITUDE, in catalog order, spaces
    // → '-', each followed by a space (find_geographic_area); n_vars =
    // distinct BODC codes over the channels IosFunctions.channelRules
    // keeps; n_values = NUMBER OF RECORDS × kept channels
    val svi = "Southern-Vancouver-Island-Shelf-(Stations-B-and-D) "
    val sviC = "Southern-Vancouver-Island-Shelf-(Station-C) " + svi
    val nvi = "Northern-Vancouver-Island-Shelf "
    val want: Map[String, (String, Long, Long)] = Map(
      // 48 31.8 N 126 12 W: B-and-D box only. Date, Time ignored;
      // Temperature TEMPS901, Salinity PSALST01, Conductivity CNDCST01;
      // 24 records × 3
      "a1_20080429_20080518_0034m.ctd" -> (svi, 3L, 72L),
      // 48 39 N 126 21 W: inside the Station-C box, which sits inside
      // B-and-D and comes first in the catalog. Pressure PRESPR01,
      // Temperature TEMPS901, Salinity PSALST01; 13 records × 3
      "e01_20140628_20150801_0035m.ctd" -> (sviC, 3L, 39L),
      // 71 23.31 N 116 38.19 W: Canadian Arctic Archipelago South only.
      // PRESPR01, depth, TEMPS901, DOXYZZ01 (mL/L), DOXMZZ01 (umol/kg),
      // PSALST01, CNDCST01; Transmissivity, Fluorescence, PAR, bin count
      // and Flag ignored; 189 records × 7
      "2017-020-0474.ctd" -> ("Canadian-Arctic-Archipelago-South ", 7L, 1323L),
      // 49 17 N 134 40 W: Alaska Basin East (catalog #12) and Line P
      // (#42). PRESPR01, TEMPS901, TEMPS902, PSALST01, PSALST02,
      // DOXYZZ01; 25 records × 6
      "2017-08-0091.ctd" -> ("Alaska-Basin-East Line-P ", 6L, 150L),
      // 53 24 N 130 54 W: Hecate Strait. PRESPR01, depth, TEMPS901,
      // PSALST01, DOXYZZ01, CNDCST01; 30 records × 6
      "2017-23-0042.ctd" -> ("Hecate-Strait ", 6L, 180L),
      // 50 30 N 128 20 W: NVI shelf. Same six codes; PAR, Flag ignored;
      // 20 records × 6
      "2017-42-1021.ctd" -> (nvi, 6L, 120L),
      // 48 30 N 123 12 W: Tidal Mixed. Oxygen in umol/kg → DOXMZZ01;
      // 15 records × 6
      "2017-64-0027.ctd" -> ("Tidal-Mixed ", 6L, 90L),
      // 50 20 N 125 25 W: Johnstone and Discovery; 18 records × 6
      "2017-78-0130.ctd" -> ("Johnstone-and-Discovery ", 6L, 108L),
      // 48 36 N 125 48 W: B-and-D only. PRESPR01, TEMPS601 (IPTS-68),
      // PSALST01, DOXYZZ01 and three distinct nutrient codes; Sample
      // number and both Flag channels ignored; 8 records × 7
      "1990-033-0002.che" -> (svi, 7L, 56L),
      // 48 42 N 126 48 W: B-and-D (#22) and Line P (#42), in catalog
      // order, not name order. PRESPR01, TEMPS601, PSALST01, DOXYZZ01;
      // 5 records × 4
      "1990-033-0004.che" -> (svi + "Line-P ", 4L, 20L),
      // 50 40 N 128 00 W: NVI shelf. PRESPR01, TEMPS601, SSALST01 (PPT)
      // and three nutrient codes; 4 records × 6
      "1990-033-0017.che" -> (nvi, 6L, 24L),
      // 48 32 N 126 11.5 W: B-and-D only. Pressure PRESPR01, Temperature
      // ('deg C') TEMPST01; Speed, Direction, Tilt ignored; 12 records × 2
      "A1_19921028_19930504_0035m.CUR" -> (svi, 2L, 24L))
    val catalog = graft.functions.Geo.catalogFromGeoJson(
      spark, s"$base/ios_polygons.geojson")
    val got = inventory.keys.toSeq.flatMap { dir =>
      graft.operators.ReferencePipeline
        .convertArchive(spark, s"$base/$dir/*.*", tmp(s"ios_corpus_$dir"), catalog)
        .collect()
        .map(r => r.getAs[String]("filename") ->
          ((r.getAs[String]("geo_code"), r.getAs[Long]("n_vars"),
            r.getAs[Long]("n_values"))))
    }.toMap
    assert(got.keySet == want.keySet,
      s"file universe: missing ${want.keySet diff got.keySet}, " +
        s"extra ${got.keySet diff want.keySet}")
    want.foreach { case (f, w) =>
      assert(got(f) == w, s"$f: got ${got(f)}, want $w")
    }
    // every file resolves to a real polygon — never the 'None' fallback
    assert(got.values.forall(v => v._1.nonEmpty && !v._1.startsWith("None")))
  }
}
