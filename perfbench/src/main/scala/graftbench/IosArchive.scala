package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.{Locale, SplittableRandom}

/** What the generator put into one file, which fixes what a correct
  * conversion reports for it.
  */
final case class IosFileSpec(
    name: String,
    kind: String,
    startUtc: Instant,
    rows: Int,
    keptChannels: Int,
    pads: Int,
    geoCode: String,
    dtSeconds: Option[Int],
    tempOver10: Int) {
  def nValues: Long = rows.toLong * keptChannels
  def nNonNull: Long = nValues - pads
}

/** Seeded generator of an IOS archive in the sectioned format that
  * `graft.sources.IosFileParser` documents: `*SECTION` headers, `KEY :
  * VALUE` lines, `$TABLE` sub-tables with a dash mask, fixed-width data
  * after `*END OF HEADER`. The same seed gives byte-identical files.
  *
  * The mix: mostly short CTD profiles (per-file overhead), a few long
  * mooring series with a TIME INCREMENT (per-row parsing), `.che` bottle
  * files, and `.CUR` current-meter files whose FORMAT line is the only
  * correct field split. Start times are in PDT, PST and GMT; positions
  * fall inside each `Geo.testCatalog` polygon, in the overlap of two, and
  * outside all of them; pad values are planted in kept channels.
  */
object IosArchive {
  val Profiles = 40
  val Moorings = 1
  val Bottles = 6
  val Currents = 3
  val Pad = "-99"

  /** A channel: name and units as written, whether graft's channel rules
    * keep it, field width, decimals, and the value range it is drawn from.
    */
  private final case class Ch(name: String, units: String, kept: Boolean,
                              width: Int, decimals: Int, lo: Double, hi: Double,
                              temperature: Boolean = false)

  private val ctdChannels = Vector(
    Ch("Pressure", "decibar", true, 10, 1, 0, 500),
    Ch("Temperature:Primary", "'deg C (ITS90)'", true, 10, 4, 2, 16, temperature = true),
    Ch("Salinity:T0:C0", "PSS-78", true, 10, 4, 28, 35),
    Ch("Oxygen:Dissolved", "mL/L", true, 10, 3, 0.5, 8),
    Ch("Conductivity:Primary", "S/m", true, 10, 5, 2.5, 4.5),
    Ch("Fluorescence:URU:Seapoint", "mg/m^3", false, 10, 3, 0, 5),
    Ch("Number_of_bin_records", "n/a", false, 6, 0, 1, 40))

  private val mooringChannels = Vector(
    Ch("Pressure", "decibar", true, 10, 2, 20, 30),
    Ch("Temperature", "'deg C (ITS90)'", true, 10, 4, 5, 14, temperature = true),
    Ch("Salinity", "PSS-78", true, 10, 4, 30, 34),
    Ch("Conductivity", "S/m", true, 10, 5, 3, 4))

  private val bottleChannels = Vector(
    Ch("Sample_Number", "n/a", false, 6, 0, 1, 999),
    Ch("Pressure", "decibar", true, 9, 1, 0, 1500),
    Ch("Temperature:Reversing", "'deg C (ITS90)'", true, 9, 3, 2, 14, temperature = true),
    Ch("Salinity:Bottle", "PSS-78", true, 9, 3, 30, 35),
    Ch("Flag:Salinity:Bottle", "n/a", false, 4, 0, 0, 9),
    Ch("Oxygen:Dissolved", "mL/L", true, 9, 2, 0.5, 8),
    Ch("Nitrate_plus_Nitrite", "umol/L", true, 9, 2, 0, 40),
    Ch("Silicate", "umol/L", true, 9, 2, 0, 90),
    Ch("Phosphate", "umol/L", true, 9, 2, 0, 3))

  /** Written with a FORMAT line (`CurFormat`); the channel-detail widths
    * (10) are deliberately wrong, so only the FORMAT split parses.
    */
  private val currentChannels = Vector(
    Ch("Speed:East", "cm/s", false, 10, 2, -50, 50),
    Ch("Speed:North", "cm/s", false, 10, 2, -50, 50),
    Ch("Temperature", "'deg C'", true, 10, 3, 4, 12, temperature = true),
    Ch("Pressure", "decibar", true, 10, 2, 90, 110))
  private val CurFormat = "(4F9.3)"
  private val CurFieldWidth = 9

  /** Position classes: (lon range, lat range, expected geo code). Every
    * range sits at least one degree inside (or outside) the polygons.
    */
  private val places = Vector(
    ((-129.0, -121.0), (41.0, 59.0), "north-box coastal-strip "),
    ((-119.0, -111.0), (31.0, 69.0), "coastal-strip "),
    ((-139.0, -131.0), (41.0, 59.0), "north-box "),
    ((-45.0, -35.0), (-15.0, -5.0), "triangle-zone "),
    ((10.0, 30.0), (10.0, 30.0), "None"))

  private val zones = Vector("PDT" -> 7, "PST" -> 8, "GMT" -> 0)

  private def f(fmt: String, args: Any*): String = String.format(Locale.ROOT, fmt, args.map(_.asInstanceOf[AnyRef]): _*)

  /** Writes the archive for `seed` into `dir` and returns what it holds. */
  def generate(seed: Long, dir: File): Seq[IosFileSpec] = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)
    val kinds = Seq.fill(Profiles)("ctd") ++ Seq.fill(Moorings)("mctd") ++
      Seq.fill(Bottles)("che") ++ Seq.fill(Currents)("cur")
    kinds.zipWithIndex.map { case (kind, i) =>
      val (spec, text) = file(kind, i, rnd.split())
      Files.write(new File(dir, spec.name).toPath, text.getBytes(US_ASCII))
      spec
    }
  }

  private def file(kind: String, i: Int, r: SplittableRandom): (IosFileSpec, String) = {
    val (chans, rows, ext, dt) = kind match {
      case "ctd" => (ctdChannels, 60 + i * 37 % 121, "ctd", None)
      case "mctd" => (mooringChannels, 7500, "mctd", Some(900))
      case "che" => (bottleChannels, 12 + i % 13, "che", None)
      case "cur" => (currentChannels, 450, "CUR", Some(1800))
    }
    // sizes and mission years follow the file index, so every seed gives
    // the same amount of work; the seed draws contents, places and times
    val mission = f("%04d-%03d", 2015 + i % 6, 1 + r.nextInt(90))
    val event = 1 + i
    val name = f("%s-%04d.%s", mission, event, ext)
    val ((lon0, lon1), (lat0, lat1), geo) = places(r.nextInt(places.length))
    val lon = lon0 + r.nextDouble() * (lon1 - lon0)
    val lat = lat0 + r.nextDouble() * (lat1 - lat0)
    val (zone, offset) = zones(r.nextInt(zones.length))
    val local = LocalDateTime.of(2015 + r.nextInt(6), 1 + r.nextInt(12), 1 + r.nextInt(28),
      r.nextInt(24), r.nextInt(60), r.nextInt(60))
    val startUtc = local.plusHours(offset.toLong).toInstant(ZoneOffset.UTC)

    var pads = 0
    var tempOver10 = 0
    val data = new StringBuilder
    for (_ <- 0 until rows) {
      chans.foreach { c =>
        val padded = c.kept && r.nextInt(50) == 0
        val v = c.lo + r.nextDouble() * (c.hi - c.lo)
        val cell = if (padded) Pad else f(s"%.${c.decimals}f", v)
        if (padded) pads += 1
        else if (c.temperature && cell.toDouble > 10.0) tempOver10 += 1
        val w = if (kind == "cur") CurFieldWidth else c.width
        data.append(" " * (w - cell.length)).append(cell)
      }
      data.append('\n')
    }

    val fileKv = Seq(
      "START TIME" -> f("%s %04d/%02d/%02d %02d:%02d:%02d.000", zone, local.getYear,
        local.getMonthValue, local.getDayOfMonth, local.getHour, local.getMinute, local.getSecond),
      "NUMBER OF RECORDS" -> rows.toString,
      "DATA TYPE" -> "REAL*4") ++
      dt.map(s => "TIME INCREMENT" -> f("0 0 %d 0 0  ! (day hr min sec ms)", s / 60)).toSeq ++
      (if (kind == "cur") Seq("FORMAT" -> CurFormat) else Nil)

    val h = new StringBuilder
    def line(s: String): Unit = h.append(s).append('\n')
    def kv(k: String, v: String): Unit = line(f("    %-20s: %s", k, v))
    line("*2021/03/01 12:00:00.00")
    line("*IOS HEADER VERSION 2.0      2020/03/01 2020/04/15 PYTHON")
    line("")
    line("*FILE")
    fileKv.foreach { case (k, v) => kv(k, v) }
    line(f("    NUMBER OF CHANNELS  : %d", chans.length))
    line("")
    line("    $TABLE: CHANNELS")
    line("    ! No Name                       Units            Minimum        Maximum")
    line("    !--- -------------------------- ---------------- -------------- --------------")
    chans.zipWithIndex.foreach { case (c, j) =>
      line(f("    %4d %-26s %-16s %-14s %-14s", j + 1, c.name, c.units,
        f(s"%.${c.decimals}f", c.lo), f(s"%.${c.decimals}f", c.hi)))
    }
    line("    $END")
    line("    $TABLE: CHANNEL DETAIL")
    line("    ! No  Pad   Start  Width  Format  Type  Decimal_Places")
    line("    !---  ----  -----  -----  ------  ----  --------------")
    chans.zipWithIndex.foreach { case (c, j) =>
      line(f("    %4d  %-4s  ' '    %5d  F       R4    %d", j + 1, Pad, c.width, c.decimals))
    }
    line("    $END")
    line("")
    line("*ADMINISTRATION")
    kv("MISSION", mission)
    kv("AGENCY", "IOS, Ocean Sciences Division, Sidney, B.C.")
    kv("COUNTRY", "Canada")
    kv("PROJECT", f("Line P %d", 1 + i % 7))
    kv("SCIENTIST", "Benchmark S.")
    kv("PLATFORM", "John P. Tully")
    line("")
    line("*LOCATION")
    kv("STATION", f("P%d", 1 + i % 26))
    kv("EVENT NUMBER", event.toString)
    kv("LATITUDE", dms(lat, "N", "S"))
    kv("LONGITUDE", dms(lon, "E", "W"))
    line("")
    line("*INSTRUMENT")
    kv("TYPE", kind match { case "cur" => "Current Meter"; case "che" => "Rosette"; case _ => "CTD" })
    kv("MODEL", "SBE 911plus")
    kv("SERIAL NUMBER", f("%07d", 1000 + i))
    line("")
    line("*END OF HEADER")
    val kept = chans.count(_.kept)
    (IosFileSpec(name, kind, startUtc, rows, kept, pads, geo, dt, tempOver10),
      h.toString + data.toString)
  }

  /** `deg min hemisphere` with whole degrees and minutes to 3 decimals,
    * which the parser reads back as deg + min / 60.
    */
  private def dms(v: Double, pos: String, neg: String): String = {
    val a = math.abs(v)
    val deg = a.toInt
    f("%d %06.3f %s", deg, (a - deg) * 60, if (v < 0) neg else pos)
  }
}
