package graft

import graft.functions.{Geo, IosFunctions => F}
import org.apache.spark.sql.functions._

/** Unit-level behavior checks for the reference-semantics columnar
  * functions, pinned against hand-computed expectations from the
  * reference sources (cited per function in Scaladoc).
  */
class IosFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("iosToUtc applies the reference's zone offsets") {
    val df = Seq(
      ("2017-01-01 12:00:00", "UTC"),
      ("2017-01-01 12:00:00", "PST"),
      ("2017-01-01 12:00:00", "PDT"),
      ("2017-01-01 12:00:00", "ADT")).toDF("ts", "tz")
    val out = df.select(date_format(
      F.iosToUtc($"ts".cast("timestamp"), $"tz"), "HH:mm").as("utc")).as[String].collect()
    assert(out.toSeq == Seq("12:00", "20:00", "19:00", "15:00"))
  }

  test("dmsToDecimal signs S/W negative like get_location") {
    val df = Seq((49.0, 30.0, "N"), (49.0, 30.0, "S"), (123.0, 15.0, "W"))
      .toDF("d", "m", "h")
    val out = df.select(F.dmsToDecimal($"d", $"m", $"h").as("v")).as[Double].collect()
    assert(out(0) == 49.5 && out(1) == -49.5 && out(2) == -123.25)
  }

  test("padToNull nulls exactly the pad value") {
    val df = Seq(1.0, -99.0, 3.5).toDF("v")
    val out = df.select(F.padToNull($"v", lit(-99.0)).as("v"))
      .collect().map(r => Option(r.get(0)))
    assert(out.toSeq == Seq(Some(1.0), None, Some(3.5)))
  }

  test("classifyChannel honors include+exclude keyword rules") {
    val cases = Seq(
      "Depth" -> "depth",
      "Depth:Nominal" -> "ignore",
      "Pressure" -> "pressure",
      "Temperature:Primary" -> "temperature",
      "Temperature:Draw (bottle)" -> "ignore",
      "Oxygen:Dissolved:SBE" -> "oxygen",
      "Oxygen:Saturation" -> "ignore",
      "Salinity:T0:C0" -> "salinity",
      "Salinity flag" -> "ignore",
      "Conductivity" -> "conductivity",
      "Nitrate_plus_nitrite" -> "nutrient",
      "Humidity" -> "ignore")
    val df = cases.map(_._1).toDF("name")
    val out = df.select(F.classifyChannel($"name").as("c")).as[String].collect()
    assert(out.toSeq == cases.map(_._2))
  }

  test("every BODC branch: class, base, code and CF attributes") {
    // one input per branch of OceanNcVar.__get_bodc_code, in its order;
    // expected values typed from the reference (OceanNcVar.py:44-258)
    val cases = Seq(
      ("Pressure", "decibar", "pressure", "PRESPR01", "PRESPR01",
        "Pressure", "sea_water_pressure", "decibar"),
      ("Depth", "metres", "depth", "depth", "depth",
        "Depth in meters", "depth_below_sea_level_in_meters", "m"),
      ("Temperature:Primary", "'deg C (ITS90)'", "temperature", "TEMPS9", "TEMPS901",
        "Sea Water Temperature", "sea_water_temperature", "deg C"),
      ("Temperature:Secondary", "deg C (ITS-90)", "temperature", "TEMPS9", "TEMPS901",
        "Sea Water Temperature", "sea_water_temperature", "deg C"),
      ("Temperature", "deg C (IPTS-68)", "temperature", "TEMPS6", "TEMPS601",
        "Sea Water Temperature", "sea_water_temperature", "deg C"),
      ("Temperature:Reversing", "IPTS68", "temperature", "TEMPS6", "TEMPS601",
        "Sea Water Temperature", "sea_water_temperature", "deg C"),
      ("Temperature", "", "temperature", "TEMPST", "TEMPST01",
        "Sea Water Temperature", "sea_water_temperature", "deg C"),
      ("Salinity:T0:C0", "PSS-78", "salinity", "PSALST", "PSALST01",
        "Sea Water Practical Salinity", "sea_water_practical_salinity", "PSS-78"),
      ("Salinity", "ppt", "salinity", "SSALST", "SSALST01",
        "Sea Water Practical Salinity", "sea_water_practical_salinity", "PPT"),
      ("Oxygen:Dissolved", "mL/L", "oxygen", "DOXYZZ", "DOXYZZ01",
        "Oxygen concentration", "dissolved_oxygen_concentration", "mL/L"),
      ("Oxygen:Dissolved:SBE", "umol/kg", "oxygen", "DOXMZZ", "DOXMZZ01",
        "Oxygen concentration", "dissolved_oxygen_concentration", "umol/kg"),
      ("Oxygen:Dissolved", "umol/L", "oxygen", "DOXY", "DOXY01",
        "Oxygen concentration", "dissolved_oxygen_concentration", "umol/L"),
      ("Conductivity:Primary", "mS/cm", "conductivity", "CNDCSTX", "CNDCSTX01",
        "Sea Water Electrical Conductivity", "sea_water_electrical_conductivity", "mS/cm"),
      ("Conductivity", "S/m", "conductivity", "CNDCST", "CNDCST01",
        "Sea Water Electrical Conductivity", "sea_water_electrical_conductivity", "S/m"),
      ("Nitrate_plus_Nitrite", "umol/L", "nutrient", "NTRZAAZ", "NTRZAAZ1",
        "Mole Concentration of Nitrate and Nitrite in Sea Water",
        "mole_concentration_of_nitrate_and_nitrite_in_sea_water", "umol/L"),
      ("Phosphate", "umol/L", "nutrient", "PHOSAAZ", "PHOSAAZ1",
        "Mole Concentration of Phosphate in Sea Water",
        "mole_concentration_of_phosphate_in_sea_water", "umol/L"),
      ("Silicate", "umol/L", "nutrient", "SLCAAAZ", "SLCAAAZ1",
        "Mole Concentration of Silicate in Sea Water",
        "mole_concentration_of_silicate_in_sea_water", "umol/L"))
    val got = cases.map(c => (c._1, c._2)).toDF("name", "units")
      .withColumn("cls", F.classifyChannel($"name"))
      .withColumn("base", F.bodcBase($"cls", $"name", $"units"))
      .withColumn("bodc", F.bodcCode($"cls", $"base", lit(1)))
      .select($"name", $"units", $"cls", $"base", $"bodc",
        F.cfLongName($"cls", $"bodc"), F.cfStandardName($"cls", $"bodc"),
        F.cfCanonicalUnits($"cls", $"bodc"))
      .as[(String, String, String, String, String, String, String, String)].collect()
    assert(got.toSeq == cases)

    /** Class, base and rank-1 code of each (name, units) by the Column
      * rules and by the per-channel evaluator of the same tables (base
      * and code NULL for an ignored channel).
      */
    def bothWays(inputs: Seq[(String, String)]): (Seq[Product], Seq[Product]) = {
      val columns = inputs.toDF("name", "units")
        .withColumn("cls", F.classifyChannel($"name"))
        .withColumn("base", F.bodcBase($"cls", $"name", $"units"))
        .select($"name", $"units", $"cls", $"base", F.bodcCode($"cls", $"base", lit(1)))
        .as[(String, String, String, String, String)].collect().toSeq
      val perChannel = inputs.map { case (name, units) =>
        val cls = F.channelClass(name)
        if (cls == "ignore") (name, units, cls, null, null)
        else {
          val base = F.bodcBaseOf(cls, name, units)
          (name, units, cls, base, F.bodcCodeOf(cls, base, 1))
        }
      }
      (columns, perChannel)
    }
    val typed = cases.map(c => (c._1, c._2, c._3, c._4, c._5))
    val (columns, perChannel) = bothWays(cases.map(c => (c._1, c._2)))
    assert(columns == typed)
    assert(perChannel == typed)

    // mixed case and non-ASCII: Spark's upper() maps case through ICU's
    // root locale, the per-channel evaluator through Locale.ROOT
    val unusual = Seq(
      ("Salinité", "PSS-78", "ignore", null, null), // É is no Y
      ("salinity", "pss-78", "salinity", "PSALST", "PSALST01"),
      ("Salınıty", "PSS-78", "salinity", "PSALST", "PSALST01"), // dotless ı uppercases to I
      ("ſalinity", "‰", "salinity", "SSALST", "SSALST01"), // long ſ uppercases to S
      ("temperature:its-90", "°C", "temperature", "TEMPST", "TEMPST01"),
      ("Temperature", "°C (its-90)", "temperature", "TEMPS9", "TEMPS901"),
      ("Température", "°C", "ignore", null, null),
      ("oxygen:dissolved", "ml/l", "oxygen", "DOXYZZ", "DOXYZZ01"),
      ("Oxygen:Dissolved", "µmol/kg", "oxygen", "DOXY", "DOXY01"), // µ uppercases to Greek Μ
      ("SILICATE", "µmol/L", "nutrient", "SLCAAAZ", "SLCAAAZ1"),
      ("Phosphate:Flag", "umol/L", "ignore", null, null))
    val (unusualColumns, unusualPerChannel) = bothWays(unusual.map(c => (c._1, c._2)))
    assert(unusualColumns == unusual)
    assert(unusualPerChannel == unusual)

    // suffix ranks: at least two digits and never truncated, so rank 100
    // reads 100, not the 10 of rank 10
    val ranks = Seq(1, 9, 10, 11, 100)
    val coded = Seq(("temperature", "TEMPS9"), ("nutrient", "NTRZAAZ"), ("pressure", "PRESPR01"))
      .flatMap { case (cls, base) => ranks.map(r => (cls, base, r)) }
    val rankedColumns = coded.toDF("cls", "base", "rank")
      .select(F.bodcCode($"cls", $"base", $"rank")).as[String].collect().toSeq
    val want = Seq("TEMPS901", "TEMPS909", "TEMPS910", "TEMPS911", "TEMPS9100",
      "NTRZAAZ1", "NTRZAAZ9", "NTRZAAZ10", "NTRZAAZ11", "NTRZAAZ100") ++ Seq.fill(5)("PRESPR01")
    assert(rankedColumns == want)
    assert(coded.map { case (cls, base, r) => F.bodcCodeOf(cls, base, r) } == want)
  }

  test("point-in-polygon: interior, exterior, multi-containment, None") {
    val df = Seq(
      (-130.0 + 0.5, 50.5),  // inside north box AND coastal strip
      (-115.0, 35.5),        // inside coastal strip only
      (-40.0, 0.5),          // inside triangle zone
      (100.5, 10.5))         // nowhere
      .toDF("lon", "lat")
    val out = df.select(Geo.geoArea($"lon", $"lat", Geo.testCatalog).as("g"))
      .as[String].collect()
    assert(out(0) == "north-box coastal-strip ")
    assert(out(1) == "coastal-strip ")
    assert(out(2) == "triangle-zone ")
    assert(out(3) == "None")
  }

  test("geoArea over the reference's own polygon catalog tags a real profile") {
    val gj = s"${IosFixtures.base}/ios_polygons.geojson"
    val catalog = Geo.catalogFromGeoJson(spark, gj)
    assert(catalog.length == 51)
    // the corpus catalog (src/test/resources/ios/ios_polygons.geojson)
    // has the reference file's size; the 2017-020-0474.ctd profile sits
    // at 71.3885N 116.6365W, inside the Canadian Arctic Archipelago South
    // polygon and no other (the header's free-text GEOGRAPHIC AREA says
    // Beaufort Sea, but assign_geo_code uses the polygons, as we do)
    val tag = Seq((-116.6365, 71.3885)).toDF("lon", "lat")
      .select(Geo.geoAreaLarge($"lon", $"lat", catalog).as("g")).as[String].head()
    assert(tag == "Canadian-Arctic-Archipelago-South ", s"got '$tag'")
    // open-ocean point far from every IOS polygon
    val none = Seq((0.0, 0.0)).toDF("lon", "lat")
      .select(Geo.geoAreaLarge($"lon", $"lat", catalog).as("g")).as[String].head()
    assert(none == "None")
  }

  test("geoAreaLarge agrees with the unrolled geoArea on the test catalog") {
    val pts = Seq((-129.5, 50.5), (-115.0, 35.5), (-40.0, 0.5), (100.5, 10.5))
      .toDF("lon", "lat")
    val both = pts.select(
      Geo.geoArea($"lon", $"lat", Geo.testCatalog).as("a"),
      Geo.geoAreaLarge($"lon", $"lat", Geo.testCatalog).as("b")).collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("unit conversions match reference constants") {
    val df = Seq(1.0).toDF("x")
    val row = df.select(
      F.o2MlPerLToUmolPerL($"x").as("a"),
      F.fahrenheitToCelsius(lit(212.0)).as("b"),
      round(F.pressureToDepth(lit(1000.0)), 2).as("c")).collect()(0)
    assert(row.getDouble(0) == 44.661)
    assert(row.getDouble(1) == 100.0)
    // Saunders at lat 49, p=1000 dbar: ~988.9 m
    assert(math.abs(row.getDouble(2) - 988.88) < 0.2)
  }

  test("TEOS-10 rho matches the reference C polynomial check values") {
    import graft.functions.Seawater
    val df = Seq(1.0).toDF("x")
    val row = df.select(
      Seawater.rhoTeos10(lit(35.16504), lit(0.0), lit(0.0)).as("a"),
      Seawater.rhoTeos10(lit(34.7118), lit(28.7856), lit(10.0)).as("b"),
      Seawater.rhoTeos10(lit(34.7118), lit(28.7856), lit(1000.0)).as("c")).collect()(0)
    // evaluated through the reference's own gsw_specvol Horner chain
    assert(math.abs(row.getDouble(0) - 1028.107021542752) < 1e-9)
    assert(math.abs(row.getDouble(1) - 1021.847994616171) < 1e-9)
    assert(math.abs(row.getDouble(2) - 1025.963954409665) < 1e-9)
  }

  test("TEOS-10 alpha/beta match the reference C derivative polynomials") {
    import graft.functions.Seawater
    val df = Seq(1.0).toDF("x")
    val row = df.select(
      Seawater.alphaTeos10(lit(34.7118), lit(28.8099), lit(10.0)).as("a1"),
      Seawater.alphaTeos10(lit(34.8472), lit(10.2262), lit(250.0)).as("a2"),
      Seawater.alphaTeos10(lit(34.7324), lit(4.3236), lit(1000.0)).as("a3"),
      Seawater.betaTeos10(lit(34.7118), lit(28.8099), lit(10.0)).as("b1"),
      Seawater.betaTeos10(lit(34.8472), lit(10.2262), lit(250.0)).as("b2"),
      Seawater.betaTeos10(lit(34.7324), lit(4.3236), lit(1000.0)).as("b3")).collect()(0)
    // evaluated through the reference's own gsw_alpha/gsw_beta Horner
    // chains on the standard TEOS-10 check profile
    assert(math.abs(row.getDouble(0) - 3.246389345092448e-4) < 1e-17)
    assert(math.abs(row.getDouble(1) - 1.731997163447798e-4) < 1e-17)
    assert(math.abs(row.getDouble(2) - 1.294148453345987e-4) < 1e-17)
    assert(math.abs(row.getDouble(3) - 7.174839875961353e-4) < 1e-17)
    assert(math.abs(row.getDouble(4) - 7.505007517497767e-4) < 1e-17)
    assert(math.abs(row.getDouble(5) - 7.570508133843701e-4) < 1e-17)
  }

  test("TEOS-10 enthalpy matches the reference C polynomial check values") {
    import graft.functions.Seawater
    val df = Seq(1.0).toDF("x")
    val row = df.select(
      Seawater.enthalpyTeos10(lit(34.7118), lit(28.8099), lit(10.0)).as("a"),
      Seawater.enthalpyTeos10(lit(34.8472), lit(10.2262), lit(250.0)).as("b"),
      Seawater.enthalpyTeos10(lit(34.7324), lit(4.3236), lit(1000.0)).as("c")).collect()(0)
    // evaluated through the reference's own gsw_enthalpy Horner chain
    assert(math.abs(row.getDouble(0) - 115103.181355909) < 2e-9)
    assert(math.abs(row.getDouble(1) - 43255.371302628) < 2e-9)
    assert(math.abs(row.getDouble(2) - 26970.684160346) < 2e-9)
  }

  test("TEOS-10 sound speed matches the reference C polynomial check values") {
    import graft.functions.Seawater
    val df = Seq(1.0).toDF("x")
    val row = df.select(
      Seawater.soundSpeedTeos10(lit(34.7118), lit(28.8099), lit(10.0)).as("a"),
      Seawater.soundSpeedTeos10(lit(34.8472), lit(10.2262), lit(250.0)).as("b"),
      Seawater.soundSpeedTeos10(lit(34.7324), lit(4.3236), lit(1000.0)).as("c")).collect()(0)
    // evaluated through the reference's own gsw_sound_speed Horner chains
    assert(math.abs(row.getDouble(0) - 1542.478379390) < 2e-9)
    assert(math.abs(row.getDouble(1) - 1494.430077614) < 2e-9)
    assert(math.abs(row.getDouble(2) - 1483.937417670) < 2e-9)
  }

  test("TEOS-10 spiciness0 matches the reference polynomial and is 0 at SSO") {
    import graft.functions.Seawater
    val df = Seq(1.0).toDF("x")
    val row = df.select(
      Seawater.spiciness0(lit(34.7118), lit(28.8099)).as("a"),
      Seawater.spiciness0(lit(34.8472), lit(10.2262)).as("b"),
      Seawater.spiciness0(lit(34.7324), lit(4.3236)).as("c"),
      // standard ocean: spiciness0 is zero by construction
      Seawater.spiciness0(lit(Seawater.gswSso), lit(0.0)).as("d")).collect()(0)
    // evaluated through the reference's own gsw_spiciness0 Horner chain
    assert(math.abs(row.getDouble(0) - 5.728998558542941) < 1e-12)
    assert(math.abs(row.getDouble(1) - 1.0693625566417637) < 1e-12)
    assert(math.abs(row.getDouble(2) - 0.08972518849408573) < 1e-12)
    assert(math.abs(row.getDouble(3)) < 1e-13)
  }

  test("TEOS-10 Nsquared matches the reference on the standard profile") {
    import graft.functions.Seawater
    // Standard TEOS-10 check profile; midpoints/diffs computed exactly
    // like stability.py Nsquared (lat=None → g = 9.7963). Expected
    // values evaluated through the reference's own C polynomials
    // (gsw_specvol_alpha_beta composed per stability.py:63-88).
    val sa = Seq(34.7118, 34.8915, 35.0256, 34.8472, 34.7366, 34.7324)
    val ct = Seq(28.8099, 28.4392, 22.7862, 10.2262, 6.8272, 4.3236)
    val p = Seq(10.0, 50.0, 125.0, 250.0, 600.0, 1000.0)
    val rows = (0 until 5).map { k =>
      (0.5 * (sa(k) + sa(k + 1)), 0.5 * (ct(k) + ct(k + 1)), 0.5 * (p(k) + p(k + 1)),
        sa(k + 1) - sa(k), ct(k + 1) - ct(k), p(k + 1) - p(k))
    }
    val df = rows.toDF("sam", "ctm", "pm", "dsa", "dct", "dp")
    val got = df.select(Seawater.nsquaredTeos10(
      $"sam", $"ctm", $"pm", $"dsa", $"dct", $"dp").as("n2")).collect().map(_.getDouble(0))
    val want = Seq(6.10381482544474901e-05, 2.36472200911899471e-04,
      2.17278529580053640e-04, 1.29803654205153541e-05, 8.45888560259768221e-06)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-18, s"$g vs $w") }
  }

  test("TEOS-10 Turner angle / R_rho match the reference C on the standard profile") {
    import graft.functions.Seawater
    // gsw_turner_rsubrho check values from the reference's own C
    // (shallow-minus-deep differences, rad2deg·atan2 form)
    val sa = Seq(34.7118, 34.8915, 35.0256, 34.8472, 34.7366, 34.7324)
    val ct = Seq(28.8099, 28.4392, 22.7862, 10.2262, 6.8272, 4.3236)
    val p = Seq(10.0, 50.0, 125.0, 250.0, 600.0, 1000.0)
    val rows = (0 until 5).map { k =>
      (0.5 * (sa(k) + sa(k + 1)), 0.5 * (ct(k) + ct(k + 1)), 0.5 * (p(k) + p(k + 1)),
        sa(k) - sa(k + 1), ct(k) - ct(k + 1))
    }
    val df = rows.toDF("sam", "ctm", "pm", "dsa", "dct")
    val got = df.select(
      Seawater.turnerTeos10($"sam", $"ctm", $"pm", $"dsa", $"dct").as("tu"),
      Seawater.rsubrhoTeos10($"sam", $"ctm", $"pm", $"dsa", $"dct").as("rr"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val wantTu = Seq(-2.06385890528114713, 41.7584352167844273,
      47.6069669816875347, 53.7103511517063694, 45.5270638582115339)
    val wantRr = Seq(-0.930433506903869278, -17.6564834348708892,
      21.9627771740757289, 6.52714246620019622, 108.704405467974254)
    got.zip(wantTu.zip(wantRr)).foreach { case ((tu, rr), (wt, wr)) =>
      assert(math.abs(tu - wt) < 1e-10, s"Tu $tu vs $wt")
      assert(math.abs(rr - wr) < math.abs(wr) * 1e-12, s"R_rho $rr vs $wr")
    }
  }

  test("TEOS-10 IPV/fN2 ratio: p_ref = p_mid identity and alpha/beta composition") {
    import graft.functions.Seawater
    val sa = Seq(34.7118, 34.8915, 35.0256, 34.8472, 34.7366, 34.7324)
    val ct = Seq(28.8099, 28.4392, 22.7862, 10.2262, 6.8272, 4.3236)
    val p = Seq(10.0, 50.0, 125.0, 250.0, 600.0, 1000.0)
    val rows = (0 until 5).map { k =>
      (0.5 * (sa(k) + sa(k + 1)), 0.5 * (ct(k) + ct(k + 1)), 0.5 * (p(k) + p(k + 1)),
        sa(k) - sa(k + 1), ct(k) - ct(k + 1))
    }
    val df = rows.toDF("sam", "ctm", "pm", "dsa", "dct")
    // stability.py:191-200 with p_ref = p_mid: num == den, ratio exactly 1
    val ident = df.select(Seawater.ipvFn2Teos10(
      $"sam", $"ctm", $"pm", $"dsa", $"dct", $"pm").as("r")).collect().map(_.getDouble(0))
    ident.foreach(r => assert(r == 1.0, s"identity broken: $r"))
    // p_ref = 0 must equal the same expression composed from the
    // check-value-pinned alpha/beta trees directly (wiring parity)
    val got = df.select(
      Seawater.ipvFn2Teos10($"sam", $"ctm", $"pm", $"dsa", $"dct", lit(0.0)).as("r"),
      (($"dct" * Seawater.alphaTeos10($"sam", $"ctm", lit(0.0)) -
        $"dsa" * Seawater.betaTeos10($"sam", $"ctm", lit(0.0))) /
       ($"dct" * Seawater.alphaTeos10($"sam", $"ctm", $"pm") -
        $"dsa" * Seawater.betaTeos10($"sam", $"ctm", $"pm"))).as("byhand"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"${r.getDouble(0)} vs ${r.getDouble(1)}"))
    // surface-referenced gradients shrink relative to local ones in the
    // thermocline (alpha grows with pressure): ratio < 1 there
    val r1 = got(1).getDouble(0)
    assert(r1 > 0.5 && r1 < 1.1, s"thermocline ratio implausible: $r1")
  }

  test("SA from SP: open-ocean scaling and the Baltic analytic branch") {
    import graft.functions.Seawater
    val df = Seq(1.0).toDF("x")
    val row = df.select(
      // open ocean (mid-Pacific): SA = ups·SP
      Seawater.saFromSp(lit(35.0), lit(-150.0), lit(0.0)).as("open"),
      // Baltic proper (20E, 58N is inside the GSW polygon)
      Seawater.saFromSp(lit(7.0), lit(20.0), lit(58.0)).as("baltic"),
      // inside the lat band but west of the piecewise-linear left bound
      // (8E, 56N) → open-ocean branch
      Seawater.saFromSp(lit(7.0), lit(8.0), lit(56.0)).as("west")).collect()(0)
    assert(row.getDouble(0) == 35.16504 / 35.0 * 35.0)
    assert(math.abs(row.getDouble(1) - ((35.16504 - 0.087) / 35.0 * 7.0 + 0.087)) < 1e-12)
    assert(row.getDouble(2) == 35.16504 / 35.0 * 7.0)
  }
}
