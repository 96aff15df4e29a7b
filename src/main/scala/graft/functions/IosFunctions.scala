package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Columnar re-expressions of the reference toolbox's per-record
  * semantics (cioos_data_transform/ios_data_transform). Everything here
  * is a `Column -> Column` built from Spark built-ins, so Catalyst sees
  * through it (codegen, pushdown) — no UDFs.
  */
object IosFunctions {

  // --- Time ------------------------------------------------------------

  /** Hours to ADD to a local IOS timestamp to reach UTC, by zone label.
    * Mirrors ObsFile.get_date (ObsFile.py:160-213): GMT/UTC 0, PST +8,
    * PDT +7, MST +7, MDT +6, AST +4, ADT +3.
    */
  val tzOffsetHours: Seq[(String, Int)] = Seq(
    "UTC" -> 0, "GMT" -> 0, "PST" -> 8, "PDT" -> 7,
    "MST" -> 7, "MDT" -> 6, "AST" -> 4, "ADT" -> 3)

  /** Local timestamp + zone label → UTC timestamp. */
  def iosToUtc(ts: Column, tz: Column): Column = {
    val offs = tzOffsetHours.tail.foldLeft(
      when(upper(tz) === tzOffsetHours.head._1, lit(tzOffsetHours.head._2))) {
      case (acc, (name, h)) => acc.when(upper(tz) === name, lit(h))
    }.otherwise(lit(null))
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

  // --- BODC codes ------------------------------------------------------

  /** Variable class + channel name + units → BODC base code, before the
    * uniquifying suffix [[bodcCode]] adds (OceanNcVar.__get_bodc_code,
    * OceanNcVar.py:213-258). Pressure and depth get fixed names
    * (PRESPR01 / depth) per OceanNcVar.py:86-99. The nutrient species
    * comes from the channel name (`Nitrate_plus_Nitrite`, `Silicate`,
    * `Phosphate`, as in [[channelRules]]): IOS nutrient units are all
    * `umol/L` and name no species.
    */
  def bodcBase(cls: Column, name: Column, units: Column): Column = {
    val u = upper(units)
    val n = upper(name)
    when(cls === "pressure", "PRESPR01")
      .when(cls === "depth", "depth")
      .when(cls === "temperature",
        when(u.contains("ITS90") || u.contains("ITS-90"), "TEMPS9")
          .when(u.contains("IPTS-68") || u.contains("IPTS68"), "TEMPS6")
          .otherwise("TEMPST"))
      .when(cls === "salinity",
        when(u.contains("PSS-78"), "PSALST").otherwise("SSALST"))
      .when(cls === "oxygen",
        when(u.contains("ML/L"), "DOXYZZ")
          .when(u.contains("UMOL/KG"), "DOXMZZ")
          .otherwise("DOXY"))
      .when(cls === "conductivity",
        when(u.contains("MS/CM"), "CNDCSTX").otherwise("CNDCST"))
      .when(cls === "nutrient",
        when(n.contains("NITRATE"), "NTRZAAZ")
          .when(n.contains("PHOSPHATE"), "PHOSAAZ")
          .otherwise("SLCAAAZ"))
      .otherwise(lit(null))
  }

  /** The BODC code of the `rank`-th channel (1-based) sharing one
    * [[bodcBase]] within a file — the window equivalent of OceanNcVar's
    * "retry until the code is unused" loop: pressure and depth keep their
    * fixed names, nutrients take a bare suffix, the rest two digits.
    */
  def bodcCode(cls: Column, base: Column, rank: Column): Column =
    when(cls.isin("pressure", "depth"), base)
      .when(cls === "nutrient", concat(base, rank.cast("string")))
      .otherwise(concat(base, lpad(rank.cast("string"), 2, "0")))

  // --- Per-variable CF attributes --------------------------------------

  /** CF `long_name` for a standardized channel — the per-variable block
    * `OceanNcVar.add_var` writes next to every NetCDF variable
    * (OceanNcVar.py:44-152; nutrient names from __get_bodc_code,
    * OceanNcVar.py:239-256). Keyed on the variable class, with the BODC
    * code disambiguating the nutrient species.
    */
  def cfLongName(cls: Column, bodc: Column): Column =
    when(cls === "depth", "Depth in meters")
      .when(cls === "pressure", "Pressure")
      .when(cls === "temperature", "Sea Water Temperature")
      .when(cls === "salinity", "Sea Water Practical Salinity")
      .when(cls === "oxygen", "Oxygen concentration")
      .when(cls === "conductivity", "Sea Water Electrical Conductivity")
      .when(cls === "nutrient",
        when(bodc.startsWith("NTRZAAZ"), "Mole Concentration of Nitrate and Nitrite in Sea Water")
          .when(bodc.startsWith("PHOSAAZ"), "Mole Concentration of Phosphate in Sea Water")
          .when(bodc.startsWith("SLCAAAZ"), "Mole Concentration of Silicate in Sea Water"))
      .otherwise(lit(null).cast("string"))

  /** CF `standard_name` twin of [[cfLongName]] (OceanNcVar.py:44-152).
    * The reference's longitude branch sets standard_name='latitude'
    * (OceanNcVar.py:63 — an evident copy-paste slip that would break CF
    * compliance checkers); we emit 'longitude' in the coordinate rows and
    * note the divergence here rather than reproduce it.
    */
  def cfStandardName(cls: Column, bodc: Column): Column =
    when(cls === "depth", "depth_below_sea_level_in_meters")
      .when(cls === "pressure", "sea_water_pressure")
      .when(cls === "temperature", "sea_water_temperature")
      .when(cls === "salinity", "sea_water_practical_salinity")
      .when(cls === "oxygen", "dissolved_oxygen_concentration")
      .when(cls === "conductivity", "sea_water_electrical_conductivity")
      .when(cls === "nutrient",
        when(bodc.startsWith("NTRZAAZ"), "mole_concentration_of_nitrate_and_nitrite_in_sea_water")
          .when(bodc.startsWith("PHOSAAZ"), "mole_concentration_of_phosphate_in_sea_water")
          .when(bodc.startsWith("SLCAAAZ"), "mole_concentration_of_silicate_in_sea_water"))
      .otherwise(lit(null).cast("string"))

  /** Canonical CF units for a standardized channel — the `bodc_units`
    * side of __get_bodc_code (OceanNcVar.py:170-258): the BODC code
    * already encodes which unit branch matched, so the canonical unit
    * string derives from (class, code prefix) alone. CNDCSTX is tested
    * before CNDCST (its prefix).
    */
  def cfCanonicalUnits(cls: Column, bodc: Column): Column =
    when(cls === "depth", "m")
      .when(cls === "pressure", "decibar")
      .when(cls === "temperature", "deg C")
      .when(cls === "salinity",
        when(bodc.startsWith("PSALST"), "PSS-78").otherwise("PPT"))
      .when(cls === "oxygen",
        when(bodc.startsWith("DOXYZZ"), "mL/L")
          .when(bodc.startsWith("DOXMZZ"), "umol/kg").otherwise("umol/L"))
      .when(cls === "conductivity",
        when(bodc.startsWith("CNDCSTX"), "mS/cm").otherwise("S/m"))
      .when(cls === "nutrient", "umol/L")
      .otherwise(lit(null).cast("string"))

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
