package graft.functions

import graft.sources.IosFileParser
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Columnar re-expressions of the reference toolbox's per-record
  * semantics (cioos_data_transform/ios_data_transform): `Column ->
  * Column` functions built from Spark built-ins, so Catalyst sees
  * through them (codegen, pushdown) — no UDFs.
  *
  * The channel rules ([[channelRules]], [[bodcRules]]) also have a
  * per-channel evaluator over the same two tables ([[channelClass]],
  * [[bodcBaseOf]], [[bodcCodeOf]]), so a file's channels can be
  * standardized once each inside its parse task rather than once per
  * value row.
  */
object IosFunctions {

  /** A flat CASE over (condition, value) branches, NULL when none holds. */
  private def cases(branches: Seq[(Column, Any)]): Column =
    branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
      case (acc, (c, v)) => acc.when(c, v)
    }

  // --- Time ------------------------------------------------------------

  /** Local timestamp + zone label → UTC timestamp, by
    * [[IosFileParser.tzOffsetHours]].
    */
  def iosToUtc(ts: Column, tz: Column): Column = {
    val offs = cases(IosFileParser.tzOffsetHours.map { case (name, h) => (upper(tz) === name, h) })
    timestamp_micros(unix_micros(ts) + offs.cast("long") * 3600000000L)
  }

  /** `start + i*dtSeconds` observation-time expansion
    * (ObsFile.py:393-396): one output row per i in [0, n). Declarative
    * sequence+explode — scales with the data, no driver loop.
    */
  def expandObsTimes(start: Column, dtSeconds: Column, n: Column): Column =
    // n<=0 guard: Spark's sequence(0, -1) counts DOWN ([0,-1]) instead of
    // being empty. dt scales in double before the long cast so fractional
    // (sub-second) increments survive — the MS term of TIME INCREMENT
    // exists exactly for those.
    explode(when(n > 0, transform(sequence(lit(0), n - 1),
      i => struct(i.as("i"),
        // cast handles TIMESTAMP_NTZ parquet columns; session TZ is UTC so
        // the instant is unchanged.
        // association (dt*1e6)*i matches both file readers exactly, so a
        // fractional dt yields the identical truncated micro offset
        timestamp_micros(unix_micros(start.cast("timestamp")) +
          (dtSeconds.cast("double") * 1e6 * i.cast("double")).cast("long")).as("obs_ts"))))
      .otherwise(array().cast("array<struct<i:int,obs_ts:timestamp>>")))

  // --- Coordinates -----------------------------------------------------

  /** `deg min hemisphere` → signed decimal degrees (ObsFile.get_location,
    * ObsFile.py:252-276): S and W are negative.
    */
  def dmsToDecimal(deg: Column, minutes: Column, hemi: Column): Column = {
    val v = deg.cast("double") + minutes.cast("double") / 60.0
    when(upper(hemi).isin("S", "W"), -v).otherwise(v)
  }

  // --- Null handling ---------------------------------------------------

  /** Pad-value → NULL (OceanNcVar.__set_null_val, OceanNcVar.py:206-211:
    * `data[data == pad] = nan`).
    */
  def padToNull(v: Column, pad: Column): Column =
    when(v === pad, lit(null)).otherwise(v)

  // --- Channel classification -----------------------------------------

  /** Keyword rules from write_ctd_ncfile.py:95-150: (class, must-contain
    * keywords, must-NOT-contain keywords), evaluated in order; matching is
    * case-blind containment (utils.is_in, utils.py:16-19).
    */
  val channelRules: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("depth", Seq("depth"), Seq("nominal")),
    ("pressure", Seq("pressure"), Seq.empty),
    ("temperature", Seq("temperature"), Seq("flag", "rinko", "bottle")),
    ("salinity", Seq("salinity"), Seq("flag")),
    ("oxygen", Seq("oxygen"),
      Seq("flag", "bottle", "rinko", "temperature", "current", "isotope", "saturation")),
    ("conductivity", Seq("conductivity"), Seq.empty),
    ("nutrient", Seq("nitrate_plus_nitrite", "silicate", "phosphate"), Seq("flag")))

  private def containsAny(c: Column, kws: Seq[String]): Column =
    kws.map(k => upper(c).contains(k.toUpperCase)).reduce(_ || _)

  /** Channel name → standardized variable class; non-matching channels map
    * to "ignore" (the reference skips them with a log line).
    */
  def classifyChannel(name: Column): Column =
    channelRules.foldRight(lit("ignore")) { case ((cls, inc, exc), rest) =>
      val cond =
        if (exc.isEmpty) containsAny(name, inc)
        else containsAny(name, inc) && !containsAny(name, exc)
      when(cond, lit(cls)).otherwise(rest)
    }

  /** The same rule chain as a DuckDB SQL CASE expression over column
    * `nameExpr` — generated from [[channelRules]] so the oracle can never
    * drift from the Spark plan.
    */
  def classifyChannelSql(nameExpr: String): String = {
    def anySql(kws: Seq[String]) =
      kws.map(k => s"instr(upper($nameExpr), '${k.toUpperCase}') > 0").mkString("(", " OR ", ")")
    val whens = channelRules.map { case (cls, inc, exc) =>
      val cond =
        if (exc.isEmpty) anySql(inc)
        else s"${anySql(inc)} AND NOT ${anySql(exc)}"
      s"WHEN $cond THEN '$cls'"
    }
    s"CASE ${whens.mkString(" ")} ELSE 'ignore' END"
  }

  // --- BODC codes and per-variable CF attributes ----------------------

  /** One branch of OceanNcVar.__get_bodc_code (OceanNcVar.py:213-258)
    * with the CF attributes `OceanNcVar.add_var` writes for it
    * (OceanNcVar.py:44-152): a channel of class `cls` whose units (or,
    * with `onName`, whose name) contain any of `keywords` gets the BODC
    * base code `base`. Empty `keywords` is the class fallback.
    */
  final case class BodcRule(cls: String, onName: Boolean, keywords: Seq[String], base: String,
                            longName: String, standardName: String, units: String)

  /** The branches of __get_bodc_code in its evaluation order, tried in
    * order within a class; each class ends in its fallback. Pressure and depth get fixed names
    * (OceanNcVar.py:86-99). The nutrient species comes from the channel
    * name (`Nitrate_plus_Nitrite`, `Silicate`, `Phosphate`, as in
    * [[channelRules]]): IOS nutrient units are all `umol/L` and name no
    * species.
    */
  val bodcRules: Seq[BodcRule] = {
    val umolPerL = "umol/L"
    def rule(cls: String, keywords: String*)(base: String, cf: (String, String, String)) =
      BodcRule(cls, onName = false, keywords, base, cf._1, cf._2, cf._3)
    // a units rule whose keyword is its own canonical unit
    def ownUnit(cls: String, base: String, cf: (String, String, String)) = rule(cls, cf._3)(base, cf)
    def nutrient(keyword: Option[String], base: String, species: String) =
      BodcRule("nutrient", onName = true, keyword.toSeq, base,
        s"Mole Concentration of $species in Sea Water",
        s"mole_concentration_of_${species.toLowerCase.replace(' ', '_')}_in_sea_water", umolPerL)
    val temp = ("Sea Water Temperature", "sea_water_temperature", "deg C")
    val sal = ("Sea Water Practical Salinity", "sea_water_practical_salinity", "PSS-78")
    val oxy = ("Oxygen concentration", "dissolved_oxygen_concentration", "mL/L")
    val cond = ("Sea Water Electrical Conductivity", "sea_water_electrical_conductivity", "mS/cm")
    Seq(
      rule("pressure")("PRESPR01", ("Pressure", "sea_water_pressure", "decibar")),
      rule("depth")("depth", ("Depth in meters", "depth_below_sea_level_in_meters", "m")),
      rule("temperature", "ITS90", "ITS-90")("TEMPS9", temp),
      rule("temperature", "IPTS-68", "IPTS68")("TEMPS6", temp),
      rule("temperature")("TEMPST", temp),
      ownUnit("salinity", "PSALST", sal),
      rule("salinity")("SSALST", sal.copy(_3 = "PPT")),
      ownUnit("oxygen", "DOXYZZ", oxy),
      ownUnit("oxygen", "DOXMZZ", oxy.copy(_3 = "umol/kg")),
      rule("oxygen")("DOXY", oxy.copy(_3 = umolPerL)),
      ownUnit("conductivity", "CNDCSTX", cond),
      rule("conductivity")("CNDCST", cond.copy(_3 = "S/m")),
      nutrient(Some("NITRATE"), "NTRZAAZ", "Nitrate and Nitrite"),
      nutrient(Some("PHOSPHATE"), "PHOSAAZ", "Phosphate"),
      nutrient(None, "SLCAAAZ", "Silicate"))
  }

  /** A CASE with one branch per class of [[bodcRules]]: `of` its rules. */
  private def byClass(cls: Column)(of: Seq[BodcRule] => Column): Column =
    cases(bodcRules.map(_.cls).distinct.map(c => (cls === c, of(bodcRules.filter(_.cls == c)))))

  /** One class's `value`: that of the first of its keyed `rules` whose
    * `test` holds, else that of its fallback rule.
    */
  private def firstRule(rules: Seq[BodcRule], test: BodcRule => Column,
                        value: BodcRule => String): Column = {
    val (keyed, fallback) = rules.partition(_.keywords.nonEmpty)
    if (keyed.isEmpty) lit(value(fallback.head))
    else cases(keyed.map(r => (test(r), value(r)))).otherwise(value(fallback.head))
  }

  /** Variable class + channel name + units → BODC base code, before the
    * uniquifying suffix [[bodcCode]] adds: the first of the class's
    * [[bodcRules]] whose keyword the units (or name) contain.
    */
  def bodcBase(cls: Column, name: Column, units: Column): Column =
    byClass(cls)(firstRule(_, r => containsAny(if (r.onName) name else units, r.keywords), _.base))

  /** The BODC code of the `rank`-th channel (1-based) sharing one
    * [[bodcBase]] within a file — the window equivalent of OceanNcVar's
    * "retry until the code is unused" loop: pressure and depth keep their
    * fixed names, nutrients take a bare suffix, the rest at least two
    * digits (rank 100 reads `100`, never the `10` of rank 10).
    */
  def bodcCode(cls: Column, base: Column, rank: Column): Column =
    when(cls.isin("pressure", "depth"), base)
      .when(cls === "nutrient", concat(base, rank.cast("string")))
      .otherwise(concat(base, format_string("%02d", rank)))

  /** One CF attribute of a standardized channel from its class and
    * suffixed BODC code: the `field` of the class's rule whose base the
    * code starts with, else of its fallback. A base that is the prefix of
    * another (DOXY of DOXYZZ, CNDCST of CNDCSTX) is tried after it.
    */
  private def cfAttribute(field: BodcRule => String)(cls: Column, bodc: Column): Column =
    byClass(cls) { rules =>
      if (rules.map(field).distinct.size == 1) lit(field(rules.head))
      else firstRule(rules.sortBy(-_.base.length), r => bodc.startsWith(r.base), field)
    }

  /** CF `long_name` of a standardized channel. */
  def cfLongName(cls: Column, bodc: Column): Column = cfAttribute(_.longName)(cls, bodc)

  /** CF `standard_name` of a standardized channel. The reference's
    * longitude branch sets standard_name='latitude' (OceanNcVar.py:63 —
    * an evident copy-paste slip that would break CF compliance checkers);
    * we emit 'longitude' in the coordinate rows and note the divergence
    * here rather than reproduce it.
    */
  def cfStandardName(cls: Column, bodc: Column): Column = cfAttribute(_.standardName)(cls, bodc)

  /** Canonical CF units of a standardized channel — the `bodc_units`
    * side of __get_bodc_code (OceanNcVar.py:170-258).
    */
  def cfCanonicalUnits(cls: Column, bodc: Column): Column = cfAttribute(_.units)(cls, bodc)

  // --- The channel rules, one channel at a time -----------------------

  /** Case-blind containment as the Column rules test it: Spark's
    * `upper()` maps case through ICU's root locale.
    */
  private def containsAnyOf(s: String, kws: Seq[String]): Boolean = {
    val u = s.toUpperCase(java.util.Locale.ROOT)
    kws.exists(k => u.contains(k.toUpperCase(java.util.Locale.ROOT)))
  }

  /** [[classifyChannel]] of one channel name. */
  def channelClass(name: String): String =
    channelRules.collectFirst {
      case (cls, inc, exc) if containsAnyOf(name, inc) && !containsAnyOf(name, exc) => cls
    }.getOrElse("ignore")

  /** [[bodcBase]] of one channel of a kept class `cls`. */
  def bodcBaseOf(cls: String, name: String, units: String): String = {
    val (keyed, fallback) = bodcRules.filter(_.cls == cls).partition(_.keywords.nonEmpty)
    keyed.find(r => containsAnyOf(if (r.onName) name else units, r.keywords))
      .getOrElse(fallback.head).base
  }

  /** [[bodcCode]] of the `rank`-th channel sharing `base`, with the same
    * strings.
    */
  def bodcCodeOf(cls: String, base: String, rank: Int): String = cls match {
    case "pressure" | "depth" => base
    case "nutrient" => base + rank
    case _ => base + f"$rank%02d"
  }

  // --- Unit conversions (GSW-adjacent, deterministic scalar math) ------

  /** Dissolved oxygen mL/L → µmol/L (molar volume of O2: 44.661). */
  def o2MlPerLToUmolPerL(mlPerL: Column): Column = mlPerL * 44.661

  /** Dissolved oxygen mL/L → µmol/kg with the 1.025 kg/L nominal seawater
    * density used for quick conversions.
    */
  def o2MlPerLToUmolPerKg(mlPerL: Column): Column = mlPerL * 44.661 / 1.025

  def fahrenheitToCelsius(f: Column): Column = (f - 32.0) * 5.0 / 9.0

  /** Saunders (1981) pressure→depth at a fixed latitude:
    * depth = (1 - c1)·p − 2.21e-6·p². c1 pre-folded for lat 49°N so both
    * engine sides share one literal (no cross-libm sin()).
    */
  val saundersC1Lat49: Double = 0.008910329390020172
  def pressureToDepth(dbar: Column): Column =
    (lit(1.0) - saundersC1Lat49) * dbar - lit(2.21e-6) * dbar * dbar
  val pressureToDepthSql: String =
    s"(1.0 - $saundersC1Lat49) * %s - 2.21e-6 * %s * %s"
}
