package graft.sources

import java.time.{Instant, LocalDateTime}
import java.time.format.DateTimeFormatter

/** Pure-Scala parser for the IOS sectioned ASCII observation format
  * (the reference's ObsFile.py re-designed, not translated: one pass,
  * immutable output, no filesystem access — Spark hands it file
  * *content*, so the same parser serves executors and unit tests).
  *
  * Format knowledge derives from ObsFile.py's reading behavior
  * (ObsFile.py:88-276) and the public sample files:
  *  - `*SECTION` headers at column 0; `*END OF HEADER` starts data
  *  - `KEY : VALUE` lines inside sections
  *  - `$TABLE: NAME` … `$END` sub-tables whose second comment line is a
  *    dash mask defining fixed column spans
  *  - channel-detail widths drive fixed-width data parsing (type D→11,
  *    DT→17, format HH:MM:SS→9, HH:MM→6, else declared width)
  *  - LATITUDE/LONGITUDE as `deg min hemisphere`
  *  - START TIME as `TZ yyyy/mm/dd[ hh:mm:ss[.f]]` with the reference's
  *    fixed zone offsets; TIME INCREMENT as `D H M S MS` quintuple
  */
object IosFileParser {

  final case class Channel(no: Int, name: String, units: String, min: String, max: String)
  final case class ChannelDetail(pad: String, width: Int, format: String, typ: String)
  final case class Parsed(
      filename: String,
      headerVersion: String,
      file: Map[String, String],
      administration: Map[String, String],
      instrument: Map[String, String],
      location: Map[String, String],
      latitude: Double,
      longitude: Double,
      startTimeUtc: Option[Instant],
      timeIncrementSeconds: Option[Double],
      nRecords: Int,
      channels: Vector[Channel],
      details: Vector[ChannelDetail],
      data: Vector[Vector[String]])

  /** One value of a parsed file: data row `row`'s cell of `channel`,
    * and for time-series files its time in epoch microseconds.
    */
  final case class Observation(channel: Channel, row: Int, raw: String,
                               value: Option[Double], obsMicros: Option[Long])

  /** `p`'s values in long format, for the channels `keep` admits: a value
    * equal to its channel's pad (the channel-detail pad, else the file's
    * `PAD`) is null (OceanNcVar.py:206-211), and a file with a start time
    * and a time increment gets the reference's `start + i·dt` time
    * (ObsFile.py:393-396). Pads resolve once per channel, times once per row.
    */
  def observations(p: Parsed, keep: Channel => Boolean = _ => true): Iterator[Observation] = {
    def num(s: String) = scala.util.Try(s.toDouble).toOption
    val filePad = p.file.get("PAD").map(_.trim)
    val kept = p.channels.zipWithIndex.collect { case (ch, ci) if keep(ch) =>
      (ch, ci, p.details.lift(ci).map(_.pad.trim).filter(_.nonEmpty).orElse(filePad).flatMap(num))
    }
    val start = for (st <- p.startTimeUtc; dt <- p.timeIncrementSeconds)
      yield (st.getEpochSecond * 1000000L + st.getNano / 1000L, dt)
    p.data.iterator.zipWithIndex.flatMap { case (row, ri) =>
      val obsMicros = start.map { case (st, dt) => st + (dt * 1e6 * ri).toLong }
      kept.iterator.map { case (ch, ci, pad) =>
        val raw = row.lift(ci).getOrElse("")
        Observation(ch, ri, raw, num(raw).filterNot(d => pad.contains(d)), obsMicros)
      }
    }
  }

  /** Hours to ADD to a local IOS timestamp to reach UTC, by zone label.
    * Mirrors ObsFile.get_date (ObsFile.py:160-213): GMT/UTC 0, PST +8,
    * PDT +7, MST +7, MDT +6, AST +4, ADT +3.
    */
  val tzOffsetHours: Seq[(String, Int)] = Seq(
    "UTC" -> 0, "GMT" -> 0, "PST" -> 8, "PDT" -> 7,
    "MST" -> 7, "MDT" -> 6, "AST" -> 4, "ADT" -> 3)

  def parse(filename: String, content: String): Parsed = {
    val lines = content.split("\n", -1).map(_.stripSuffix("\r")).toVector
    val headerVersion = lines.find(_.startsWith("*IOS HEADER VERSION"))
      .map(_.drop(20).take(4).trim).getOrElse("")

    val endIdx = lines.indexWhere(_.startsWith("*END OF HEADER"))

    def sectionLines(name: String): Vector[String] = {
      val start = lines.indexWhere(l => l.startsWith(s"*$name"))
      if (start < 0) Vector.empty
      else lines.drop(start + 1)
        .takeWhile(l => !(l.startsWith("*")))
    }

    def kv(sec: Vector[String]): Map[String, String] = {
      val out = Map.newBuilder[String, String]
      var i = 0
      while (i < sec.length) {
        val l = sec(i)
        if (l.trim.nonEmpty && !l.startsWith("!")) {
          if (l.trim.startsWith("$TABLE") || l.trim.startsWith("$REMARKS")) {
            // skip sub-table body
            i += 1
            while (i < sec.length && sec(i).trim != "$END") i += 1
          } else {
            val parts = l.split(":", 2)
            if (parts.length == 2) out += parts(0).trim -> parts(1).split("!")(0).trim
          }
        }
        i += 1
      }
      out.result()
    }

    def table(sec: Vector[String], tableName: String): Vector[Vector[String]] = {
      val start = sec.indexWhere(_.trim.startsWith(s"$$TABLE: $tableName"))
      if (start < 0) return Vector.empty
      val body = sec.drop(start + 1).takeWhile(_.trim != "$END")
      // positional, like the reference (ObsFile.get_channels): body(0) is
      // the column-name comment, body(1) the dash mask, rows follow.
      // Indentation is part of the coordinate system — no trimming.
      if (body.length < 2) return Vector.empty
      val mask = body(1)
      val rows = body.drop(2).filter(l => l.trim.nonEmpty && !l.trim.startsWith("!"))
      rows.map(applyColMask(_, mask))
    }

    val fileSec = sectionLines("FILE")
    val fileKv = kv(fileSec)
    val adminKv = kv(sectionLines("ADMINISTRATION"))
    val instKv = kv(sectionLines("INSTRUMENT"))
    val locSec = sectionLines("LOCATION")
    val locKv = kv(locSec)

    def dms(v: String, negHemi: String): Double = {
      val p = v.trim.split("\\s+")
      if (p.length < 3) Double.NaN
      else {
        val d = p(0).toDouble + p(1).toDouble / 60.0
        if (p(2).equalsIgnoreCase(negHemi)) -d else d
      }
    }
    val lat = locKv.get("LATITUDE").map(dms(_, "S")).getOrElse(Double.NaN)
    val lon = locKv.get("LONGITUDE").map(dms(_, "W")).getOrElse(Double.NaN)

    val startTime = fileKv.get("START TIME").flatMap(parseIosTime)
    val endTime = fileKv.get("END TIME").flatMap(parseIosTime)

    val nRecordsOpt = fileKv.get("NUMBER OF RECORDS").flatMap(v =>
      scala.util.Try(v.trim.toInt).toOption)

    // dt from the D H M S MS quintuple; when absent, inferred as
    // (end - start)/(n - 1) exactly like the reference's mooring reader
    // (ObsFile.py:476-480).
    val dt = fileKv.get("TIME INCREMENT").map { v =>
      val nums = v.split("\\s+").filter(_.nonEmpty).map(_.toDouble)
      val mult = Array(86400.0, 3600.0, 60.0, 1.0, 0.001)
      nums.zip(mult).map { case (a, b) => a * b }.sum
    }.orElse(for {
      st <- startTime
      et <- endTime
      n <- nRecordsOpt if n > 1
    } yield (et.toEpochMilli - st.toEpochMilli) / 1000.0 / (n - 1))

    val channels = table(fileSec, "CHANNELS").map { c =>
      // a garbage channel-number cell must not kill the whole file parse
      Channel(c.headOption.flatMap(w => scala.util.Try(w.trim.toInt).toOption).getOrElse(0),
        c.lift(1).getOrElse(""), c.lift(2).getOrElse(""),
        c.lift(3).getOrElse(""), c.lift(4).getOrElse(""))
    }

    val details = table(fileSec, "CHANNEL DETAIL").map { c =>
      ChannelDetail(c.lift(1).getOrElse(""),
        c.lift(3).flatMap(w => scala.util.Try(w.trim.toInt).toOption).getOrElse(0),
        c.lift(4).getOrElse(""), c.lift(5).getOrElse(""))
    }

    val nRecords = nRecordsOpt.getOrElse(0)

    val dataLines =
      if (endIdx < 0) Vector.empty
      else lines.drop(endIdx + 1).filter(_.trim.nonEmpty)
    // PRIMARY data read is the header's own FORMAT line — every reference
    // subclass tries get_data(formatline=self.file['FORMAT']) first and
    // only falls back to channel-detail widths when that raises
    // (ObsFile.py:215-252 reader, ObsFile.py:410-438 try/except order).
    // Archives contain files whose FORMAT disagrees with the declared
    // widths, and FORMAT wins there. Failure modes that trigger the
    // fallback, mirroring the reference's: no FORMAT key, an unsupported
    // descriptor, a field count that can't cover the channels, or a
    // non-numeric value under a numeric descriptor (the reference
    // float()s every FORMAT-read field).
    val fmtSegs = fileKv.get("FORMAT")
      .flatMap(f => scala.util.Try(parseFortranFormat(f)).toOption)
      .filter(segs => segs.exists(_.isField) &&
        (channels.isEmpty || segs.count(_.isField) == channels.length))
    val data = fmtSegs
      .flatMap(segs => scala.util.Try(dataLines.map(formatFields(_, segs))).toOption)
      .getOrElse {
        if (details.nonEmpty) {
          val widths = details.map(fieldWidth)
          dataLines.map(fixedWidthFields(_, widths))
        } else dataLines.map(_.trim.split("\\s+").toVector)
      }

    Parsed(filename, headerVersion, fileKv, adminKv, instKv, locKv,
      lat, lon, startTime, dt, nRecords, channels, details, data)
  }

  /** Full header as JSON — the reference stores the complete original
    * header on every output file (write_ctd_ncfile.py:37 `out.HEADER`);
    * downstream provenance queries read it with `get_json_object`.
    */
  def headerJson(p: Parsed): String = {
    def js(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${js(k)}: ${js(v)}" }
        .mkString("{", ", ", "}")
    s"""{"FILE": ${obj(p.file)}, "ADMINISTRATION": ${obj(p.administration)}, """ +
      s""""INSTRUMENT": ${obj(p.instrument)}, "LOCATION": ${obj(p.location)}}"""
  }

  /** One segment of a parsed Fortran FORMAT: `width` characters that are
    * either skipped (`nX`) or extracted as a field; numeric descriptors
    * (F/E/D/G/I) additionally validate as numbers like the reference's
    * float() coercion.
    */
  private[graft] final case class FmtSeg(width: Int, isField: Boolean, numeric: Boolean)

  /** Fortran FORMAT edit-descriptor parser for the subset IOS headers use
    * (reference: ObsFile.get_data's FortranRecordReader path,
    * ObsFile.py:240-246): repeat counts, F/E/D/G w.d, I w[.m], A w, nX
    * skips, and nested repeat groups like `2(F6.1,1X)`. Anything else
    * throws, which sends the caller to the width-based fallback — the
    * same failure routing as the reference's try/except.
    */
  private[graft] def parseFortranFormat(fmt: String): Vector[FmtSeg] = {
    val s = fmt.trim
    if (!(s.startsWith("(") && s.endsWith(")")))
      throw new IllegalArgumentException(s"not a parenthesized FORMAT: $fmt")
    var i = 0
    // Hostile-input allocation bound: repeat counts EXPAND into the
    // segment vector, so "(999999999(F8.2,I4))" in one corrupted header
    // would OOM the executor before a single data row is read (fuzz-
    // found, IosFuzzSpec). Real IOS formats carry dozens of fields;
    // anything past the cap is malformed and routes to the width-based
    // fallback like every other bad FORMAT.
    val maxSegs = 10000L
    var nSegs = 0L
    def bump(n: Long): Unit = { // Long: rep × nested-group size can top Int
      nSegs += n
      if (nSegs > maxSegs) throw new IllegalArgumentException(
        s"FORMAT expands past $maxSegs segments (hostile repeat count?): $fmt")
    }
    def readInt(): Int = {
      val st = i
      while (i < s.length && s(i).isDigit) i += 1
      if (i == st) throw new IllegalArgumentException(s"expected digits at $st in $fmt")
      val digits = s.substring(st, i)
      // 10-digit counts already exceed any sane format — reject before
      // Int overflow can flip the value negative
      if (digits.length > 7) throw new IllegalArgumentException(
        s"absurd numeric '$digits' in $fmt")
      digits.toInt
    }
    def parseGroup(): Vector[FmtSeg] = {
      i += 1 // consume '('
      val out = Vector.newBuilder[FmtSeg]
      while (i < s.length && s(i) != ')') {
        val c = s(i)
        if (c == ',' || c == ' ') i += 1
        else {
          val rep = if (s(i).isDigit) readInt() else 1
          if (i >= s.length) throw new IllegalArgumentException(s"truncated FORMAT: $fmt")
          s(i) match {
            case '(' =>
              val inner = parseGroup()
              bump(rep.toLong * inner.length)
              (0 until rep).foreach(_ => out ++= inner)
            case 'X' | 'x' =>
              i += 1
              bump(1)
              out += FmtSeg(rep, isField = false, numeric = false)
            case d if "FfEeDdGg".indexOf(d) >= 0 =>
              i += 1
              val w = readInt()
              if (i < s.length && s(i) == '.') { i += 1; readInt() }
              // E15.7E3-style exponent-width suffix
              if (i < s.length && (s(i) == 'E' || s(i) == 'e')) { i += 1; readInt() }
              bump(rep)
              (0 until rep).foreach(_ => out += FmtSeg(w, isField = true, numeric = true))
            case d if d == 'I' || d == 'i' =>
              i += 1
              val w = readInt()
              if (i < s.length && s(i) == '.') { i += 1; readInt() }
              bump(rep)
              (0 until rep).foreach(_ => out += FmtSeg(w, isField = true, numeric = true))
            case d if d == 'A' || d == 'a' =>
              i += 1
              val w = readInt()
              bump(rep)
              (0 until rep).foreach(_ => out += FmtSeg(w, isField = true, numeric = false))
            case other =>
              throw new IllegalArgumentException(s"unsupported descriptor '$other' in $fmt")
          }
        }
      }
      if (i >= s.length) throw new IllegalArgumentException(s"unbalanced parens in $fmt")
      i += 1 // consume ')'
      out.result()
    }
    val segs = parseGroup()
    // trailing junk after the closing paren is a malformed line
    if (i < s.length && s.substring(i).trim.nonEmpty)
      throw new IllegalArgumentException(s"trailing content in $fmt")
    // Bound the DECLARED RECORD WIDTH too: the segment cap alone still
    // admits "(100A9999999)", and formatFields pads every data line to
    // the declared total — a per-row multi-GB allocation from one
    // hostile width (fuzz-found, IosFuzzSpec). Real IOS records are
    // hundreds of chars.
    val totalWidth = segs.map(_.width.toLong).sum
    if (totalWidth > 100000L) throw new IllegalArgumentException(
      s"FORMAT declares $totalWidth chars per record (hostile width?): $fmt")
    segs
  }

  /** Extract one data line by FORMAT segments. A non-numeric value under
    * a numeric descriptor throws — the caller treats that as "FORMAT does
    * not work" and falls back, like the reference's float() loop.
    */
  private def formatFields(line: String, segs: Vector[FmtSeg]): Vector[String] = {
    val total = segs.map(_.width).sum
    val padded = if (line.length < total) line.padTo(total, ' ') else line
    val out = Vector.newBuilder[String]
    var off = 0
    segs.foreach { sg =>
      if (sg.isField) {
        val f = padded.substring(off, math.min(off + sg.width, padded.length)).trim
        // Fortran blank numeric fields read as zero — empty is fine; D
        // exponents (0.1D+01) normalize to E for the check
        if (sg.numeric && f.nonEmpty &&
            scala.util.Try(f.replace('D', 'E').replace('d', 'e').toDouble).isFailure)
          throw new NumberFormatException(s"non-numeric '$f' under numeric descriptor")
        out += f
      }
      off += sg.width
    }
    out.result()
  }

  /** Reference's width override rules (ObsFile.get_channel_detail). */
  private def fieldWidth(d: ChannelDetail): Int = d.typ.trim match {
    case "D" => 11
    case "DT" => 17
    case _ => d.format.trim.toUpperCase match {
      case "HH:MM:SS" => 9
      case "HH:MM" => 6
      case _ => d.width
    }
  }

  private def fixedWidthFields(line: String, widths: Vector[Int]): Vector[String] = {
    // same hostile-width bound as the FORMAT path — channel-table widths
    // are attacker-controlled input too, and padTo allocates the total
    val totalL = widths.map(_.toLong).sum
    if (totalL > 100000L) throw new IllegalArgumentException(
      s"channel widths declare $totalL chars per record (hostile width?)")
    val total = totalL.toInt
    val padded = if (line.length < total) line.padTo(total, ' ') else line
    val out = Vector.newBuilder[String]
    var off = 0
    widths.foreach { w =>
      out += padded.substring(off, math.min(off + w, padded.length)).trim
      off += w
    }
    out.result()
  }

  /** Column extraction by dash-mask (reference: ObsFile.apply_col_mask):
    * mask '-' spans are data columns; anything falling on space gaps
    * separates fields. Handles quoted multi-word cells because spans, not
    * whitespace, define boundaries.
    */
  private[sources] def applyColMask(row: String, mask: String): Vector[String] = {
    val padded = row.padTo(mask.length, ' ')
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < mask.length) {
      if (mask(i) == '-') {
        val start = i
        while (i < mask.length && mask(i) == '-') i += 1
        out += padded.substring(start, math.min(i, padded.length)).trim
      } else i += 1
    }
    // every dash span is a cell, INCLUDING blank ones — dropping them
    // would shift later positional fields (the reference only removes
    // zero-width artifacts, which dash spans can never produce)
    out.result()
  }

  // 1-9 fraction digits, all optional — the reference's %f accepts any
  // width; a fixed [.SSS] would silently drop e.g. '.5' fractions
  private val fmtFull = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy/MM/dd HH:mm:ss")
    .optionalStart()
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 1, 9, true)
    .optionalEnd()
    .toFormatter
  private val fmtDate = DateTimeFormatter.ofPattern("yyyy/MM/dd")

  /** `TZ yyyy/mm/dd hh:mm:ss.fff` → UTC instant with the reference's
    * fixed offsets (ObsFile.get_date).
    */
  def parseIosTime(raw: String): Option[Instant] = {
    val s = raw.trim
    val tz = s.take(3).toUpperCase
    val rest = s.drop(3).trim
    val offset = tzOffsetHours.find(_._1 == tz).map(_._2)
    if (offset.isEmpty) return None
    val noFrac = DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm:ss")
    val local = scala.util.Try(LocalDateTime.parse(rest, fmtFull)).toOption
      .orElse(scala.util.Try(LocalDateTime.parse(rest.takeWhile(_ != '.'), noFrac)).toOption)
      .orElse(scala.util.Try(
        java.time.LocalDate.parse(rest.split("\\s+")(0), fmtDate).atStartOfDay()).toOption)
    local.map(l => l.plusHours(offset.get.toLong).toInstant(java.time.ZoneOffset.UTC))
  }
}
