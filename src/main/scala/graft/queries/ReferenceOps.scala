package graft.queries

import graft.{Det, Q, Tables}
import graft.Det.{dsumSql}
import graft.functions.{Geo, IosFunctions => F}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Block B — the reference toolbox's record-level semantics, applied as
  * columnar transforms over the test tables (SURVEY.md §2.B). Inputs are
  * synthesized deterministically from table columns (both engine sides
  * construct them identically), then the operator under test runs on top.
  */
object ReferenceOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- r1_tz_parse: IOS local-zone timestamp → UTC ---------------------
  private val tzCase =
    "CASE user_id % 8 WHEN 0 THEN 'UTC' WHEN 1 THEN 'GMT' WHEN 2 THEN 'PST' WHEN 3 THEN 'PDT' " +
      "WHEN 4 THEN 'MST' WHEN 5 THEN 'MDT' WHEN 6 THEN 'AST' ELSE 'ADT' END"
  private val tzOffCase =
    "CASE user_id % 8 WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 8 WHEN 3 THEN 7 " +
      "WHEN 4 THEN 7 WHEN 5 THEN 6 WHEN 6 THEN 4 ELSE 3 END"
  private val r1 = Q(
    (s, dir) => {
      val e = t(s, dir, "events")
      val tz = expr(tzCase)
      e.select(col("event_id"), tz.as("tz"),
        date_format(F.iosToUtc(col("ts"), tz), "yyyy-MM-dd HH:mm:ss").as("utc_str"))
        .orderBy("event_id")
    },
    Some(s"""
      SELECT event_id, $tzCase AS tz,
             strftime(ts + INTERVAL (($tzOffCase)) HOUR, '%Y-%m-%d %H:%M:%S') AS utc_str
      FROM events ORDER BY event_id"""))

  // ---- r2_time_expand: start + i·dt series -----------------------------
  private val r2 = Q(
    (s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderkey") % 7 === 0)
        .withColumn("dt_s", (col("o_orderkey") % 3600 + 60).cast("int"))
      o.select(col("o_orderkey"),
        F.expandObsTimes(col("o_orderdate"), col("dt_s"), lit(5)).as("obs"))
        .select(col("o_orderkey"), col("obs.i").as("i"),
          date_format(col("obs.obs_ts"), "yyyy-MM-dd HH:mm:ss").as("obs_str"))
        .orderBy("o_orderkey", "i")
    },
    Some("""
      SELECT o_orderkey, CAST(i AS INTEGER) AS i,
             strftime(o_orderdate + INTERVAL ((i * (o_orderkey % 3600 + 60))) SECOND,
                      '%Y-%m-%d %H:%M:%S') AS obs_str
      FROM orders
      CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i) s
      WHERE o_orderkey % 7 = 0
      ORDER BY o_orderkey, i"""))

  // ---- r3_dms_coords ---------------------------------------------------
  private val r3 = Q(
    (s, dir) => {
      val c = t(s, dir, "customer")
      val latDeg = (col("c_custkey") % 89).cast("double")
      val latMin = ((col("c_custkey") * 7) % 60).cast("double") + 0.5
      val latHemi = when(col("c_custkey") % 2 === 0, "N").otherwise("S")
      val lonDeg = (col("c_custkey") % 179).cast("double")
      val lonMin = ((col("c_custkey") * 11) % 60).cast("double") + 0.25
      val lonHemi = when(col("c_custkey") % 3 === 0, "E").otherwise("W")
      c.select(col("c_custkey"),
        graft.Det.qz(F.dmsToDecimal(latDeg, latMin, latHemi), 6).as("lat"),
        graft.Det.qz(F.dmsToDecimal(lonDeg, lonMin, lonHemi), 6).as("lon"))
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey,
        FLOOR((CASE WHEN c_custkey % 2 = 0 THEN 1.0 ELSE -1.0 END *
              (CAST(c_custkey % 89 AS DOUBLE) + (CAST((c_custkey * 7) % 60 AS DOUBLE) + 0.5) / 60.0)) * 1e6 + 0.5) / 1e6 AS lat,
        FLOOR((CASE WHEN c_custkey % 3 = 0 THEN 1.0 ELSE -1.0 END *
              (CAST(c_custkey % 179 AS DOUBLE) + (CAST((c_custkey * 11) % 60 AS DOUBLE) + 0.25) / 60.0)) * 1e6 + 0.5) / 1e6 AS lon
      FROM customer ORDER BY c_custkey"""))

  // ---- r4_pad_null: pad sentinel → NULL + survivor stats --------------
  private val r4 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("raw", when(col("l_linenumber") === 1, -99.0).otherwise(col("l_quantity")))
        .withColumn("v", F.padToNull(col("raw"), lit(-99.0)))
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("v"))).as("n_null"),
          graft.Det.qz(sum(col("v").cast(graft.Det.D)).cast("double") / count(col("v"))).as("avg_v"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n_rows,
             COUNT(*) - COUNT(v) AS n_null,
             FLOOR((CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(v)) * 1e4 + 0.5) / 1e4 AS avg_v
      FROM (
        SELECT l_returnflag,
               CASE WHEN raw = -99.0 THEN NULL ELSE raw END AS v
        FROM (SELECT l_returnflag,
                     CASE WHEN l_linenumber = 1 THEN -99.0 ELSE l_quantity END AS raw
              FROM lineitem) a) b
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---- r5_channel_classify --------------------------------------------
  private val chanCase =
    "CASE p_partkey % 10 " +
      "WHEN 0 THEN 'Temperature:Primary' WHEN 1 THEN 'Temperature:Draw (bottle)' " +
      "WHEN 2 THEN 'Salinity:T0:C0' WHEN 3 THEN 'Oxygen:Dissolved:SBE' " +
      "WHEN 4 THEN 'Oxygen:Flag' WHEN 5 THEN 'Pressure' WHEN 6 THEN 'Depth' " +
      "WHEN 7 THEN 'Depth:Nominal' WHEN 8 THEN 'Conductivity:Primary' " +
      "ELSE 'Nitrate_plus_Nitrite:ISUS' END"
  private val r5 = Q(
    (s, dir) => {
      val p = t(s, dir, "part").withColumn("channel", expr(chanCase))
      p.select(col("p_partkey"), col("channel"),
        F.classifyChannel(col("channel")).as("var_class"))
        .orderBy("p_partkey")
    },
    Some(s"""
      SELECT p_partkey, channel, ${F.classifyChannelSql("channel")} AS var_class
      FROM (SELECT p_partkey, $chanCase AS channel FROM part) a
      ORDER BY p_partkey"""))

  // ---- r6_bodc_code: name/units→code, windowed suffix dedup -----------
  private val unitsCase =
    "CASE p_partkey % 10 " +
      "WHEN 0 THEN 'Deg C (ITS90)' WHEN 2 THEN 'PSS-78' WHEN 3 THEN 'mL/L' " +
      "WHEN 5 THEN 'decibar' WHEN 6 THEN 'metres' WHEN 8 THEN 'mS/cm' " +
      "WHEN 9 THEN 'umol/L' ELSE 'n/a' END"
  private val r6 = Q(
    (s, dir) => {
      val p = t(s, dir, "part")
        .withColumn("channel", expr(chanCase))
        .withColumn("units", expr(unitsCase))
        .withColumn("var_class", F.classifyChannel(col("channel")))
        .filter(col("var_class") =!= "ignore")
      val wBase = Window.partitionBy(col("p_brand"), col("bodc_base")).orderBy(col("p_partkey"))
      p.withColumn("bodc_base", F.bodcBase(col("var_class"), col("channel"), col("units")))
        .withColumn("rn", row_number().over(wBase))
        .withColumn("bodc", F.bodcCode(col("var_class"), col("bodc_base"), col("rn")))
        .select(col("p_partkey"), col("p_brand"), col("channel"), col("units"),
          col("var_class"), col("bodc"))
        .orderBy("p_partkey")
    },
    Some {
      val clsSql = F.classifyChannelSql("channel")
      s"""
      WITH chans AS (
        SELECT p_partkey, p_brand, channel, units, $clsSql AS var_class
        FROM (SELECT p_partkey, p_brand, $chanCase AS channel, $unitsCase AS units FROM part) a
        WHERE $clsSql <> 'ignore'),
      coded AS (
        SELECT *,
          CASE WHEN var_class = 'pressure' THEN 'PRESPR01'
               WHEN var_class = 'depth' THEN 'depth'
               WHEN var_class = 'temperature' THEN
                 CASE WHEN instr(upper(units),'ITS90')>0 OR instr(upper(units),'ITS-90')>0 THEN 'TEMPS9'
                      WHEN instr(upper(units),'IPTS-68')>0 OR instr(upper(units),'IPTS68')>0 THEN 'TEMPS6'
                      ELSE 'TEMPST' END
               WHEN var_class = 'salinity' THEN
                 CASE WHEN instr(upper(units),'PSS-78')>0 THEN 'PSALST' ELSE 'SSALST' END
               WHEN var_class = 'oxygen' THEN
                 CASE WHEN instr(upper(units),'ML/L')>0 THEN 'DOXYZZ'
                      WHEN instr(upper(units),'UMOL/KG')>0 THEN 'DOXMZZ' ELSE 'DOXY' END
               WHEN var_class = 'conductivity' THEN
                 CASE WHEN instr(upper(units),'MS/CM')>0 THEN 'CNDCSTX' ELSE 'CNDCST' END
               WHEN var_class = 'nutrient' THEN
                 CASE WHEN instr(upper(channel),'NITRATE')>0 THEN 'NTRZAAZ'
                      WHEN instr(upper(channel),'PHOSPHATE')>0 THEN 'PHOSAAZ' ELSE 'SLCAAAZ' END
          END AS bodc_base
        FROM chans)
      SELECT p_partkey, p_brand, channel, units, var_class,
        CASE WHEN var_class IN ('pressure','depth') THEN bodc_base
             WHEN var_class = 'nutrient' THEN bodc_base || CAST(rn AS VARCHAR)
             ELSE bodc_base || printf('%02d', rn) END AS bodc
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand, bodc_base ORDER BY p_partkey) AS rn
            FROM coded) z
      ORDER BY p_partkey"""
    })

  // ---- r7_unit_convert -------------------------------------------------
  private val r7 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("o2_ml_l", col("l_quantity") / 10.0)
        .withColumn("temp_f", col("l_extendedprice") % 100.0)
        .withColumn("p_dbar", col("l_extendedprice") % 1000.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(F.o2MlPerLToUmolPerL(col("o2_ml_l"))).as("o2_umol_l"),
        graft.Det.qz(F.o2MlPerLToUmolPerKg(col("o2_ml_l"))).as("o2_umol_kg"),
        graft.Det.qz(F.fahrenheitToCelsius(col("temp_f"))).as("temp_c"),
        graft.Det.qz(F.pressureToDepth(col("p_dbar"))).as("depth_m"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some(s"""
      SELECT l_orderkey, l_linenumber,
        FLOOR(((l_quantity / 10.0) * 44.661) * 1e4 + 0.5) / 1e4 AS o2_umol_l,
        FLOOR(((l_quantity / 10.0) * 44.661 / 1.025) * 1e4 + 0.5) / 1e4 AS o2_umol_kg,
        FLOOR((((l_extendedprice % 100.0) - 32.0) * 5.0 / 9.0) * 1e4 + 0.5) / 1e4 AS temp_c,
        FLOOR(((1.0 - ${F.saundersC1Lat49}) * (l_extendedprice % 1000.0)
              - 2.21e-6 * (l_extendedprice % 1000.0) * (l_extendedprice % 1000.0)) * 1e4 + 0.5) / 1e4 AS depth_m
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  // ---- r8_geo_area: point-in-polygon tagging --------------------------
  private val r8 = Q(
    (s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("lon", (col("c_custkey") % 360).cast("double") - 180.0 + 0.5)
        .withColumn("lat", ((col("c_custkey") * 3) % 180).cast("double") - 90.0 + 0.5)
      c.select(col("c_custkey"), col("lon"), col("lat"),
        Geo.geoArea(col("lon"), col("lat"), Geo.testCatalog).as("geo_code"))
        .orderBy("c_custkey")
    },
    Some {
      val lon = "(CAST(c_custkey % 360 AS DOUBLE) - 180.0 + 0.5)"
      val lat = "(CAST((c_custkey * 3) % 180 AS DOUBLE) - 90.0 + 0.5)"
      s"""
      SELECT c_custkey, $lon AS lon, $lat AS lat,
             ${Geo.geoAreaSql(lon, lat, Geo.testCatalog)} AS geo_code
      FROM customer ORDER BY c_custkey"""
    })

  // ---- r9_profile_id: mission/profile id formatting -------------------
  private val r9 = Q(
    (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("a", col("o_orderkey") % 9999 + 1)
        .withColumn("b", col("o_custkey") % 999 + 1)
        .withColumn("ev", (col("o_orderkey") % 997).cast("string"))
      o.select(col("o_orderkey"),
        concat(lpad(col("a").cast("string"), 4, "0"), lit("-"),
          lpad(col("b").cast("string"), 3, "0")).as("mission_id"),
        concat(lpad(col("a").cast("string"), 4, "0"), lit("-"),
          lpad(col("b").cast("string"), 3, "0"), lit("-"),
          lpad(col("ev"), 4, "0")).as("profile_id"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey,
        lpad(CAST(o_orderkey % 9999 + 1 AS VARCHAR), 4, '0') || '-' ||
          lpad(CAST(o_custkey % 999 + 1 AS VARCHAR), 3, '0') AS mission_id,
        lpad(CAST(o_orderkey % 9999 + 1 AS VARCHAR), 4, '0') || '-' ||
          lpad(CAST(o_custkey % 999 + 1 AS VARCHAR), 3, '0') || '-' ||
          lpad(CAST(o_orderkey % 997 AS VARCHAR), 4, '0') AS profile_id
      FROM orders ORDER BY o_orderkey"""))

  // ---- r10_epoch_time: UTC epoch seconds + daily stats ----------------
  private val r10 = Q(
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("epoch_s", unix_timestamp(col("ts")))
      e.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          min(col("epoch_s")).as("min_epoch"),
          max(col("epoch_s")).as("max_epoch"))
        .orderBy("day")
    },
    Some("""
      SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
             MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS min_epoch,
             MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS max_epoch
      FROM events GROUP BY 1 ORDER BY day"""))

  // ---- r11_salinity: PSS-78 practical salinity (GSW coverage) ---------
  private val r11 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("cond", lit(30.0) + col("l_quantity") / 2.0)
        .withColumn("tc", col("l_discount") * 200.0)
        .withColumn("pdb", col("l_extendedprice") % 1000.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.spFromC(col("cond"), col("tc"), col("pdb"))).as("sp"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val sp = graft.functions.Seawater.spFromCSql(
        "30.0 + l_quantity / 2.0", "l_discount * 200.0", "l_extendedprice % 1000.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($sp) * 1e4 + 0.5) / 1e4 AS sp
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r12_density: EOS-80 σ-t density anomaly ------------------------
  private val r12 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sal", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("tc", col("l_quantity") % 30.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.sigmaT(col("sal"), col("tc"))).as("sigma_t"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val st = graft.functions.Seawater.sigmaTSql("30.0 + l_discount * 100.0", "l_quantity % 30.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($st) * 1e4 + 0.5) / 1e4 AS sigma_t
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r13_sound_speed: Mackenzie (1981) ------------------------------
  private val r13 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("tc", col("l_quantity") % 30.0)
        .withColumn("sal", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("dep", col("l_extendedprice") % 4000.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.soundSpeed(col("tc"), col("sal"), col("dep"))).as("c_ms"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val c = graft.functions.Seawater.soundSpeedSql(
        "l_quantity % 30.0", "30.0 + l_discount * 100.0", "l_extendedprice % 4000.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($c) * 1e4 + 0.5) / 1e4 AS c_ms
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r14_potential_temp: UNESCO 1983 θ (GSW coverage) ---------------
  // Stepped RK4 form on both sides: each stage is a named column /
  // nested subquery, so the plan carries 4 atg evaluations instead of an
  // exponentially inlined tree (the one-expression form is ~1 MB of SQL).
  private val r14 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.functions.Seawater.withPotentialTemp(li,
        lit(30.0) + col("l_discount") * 100.0,
        col("l_quantity") % 30.0,
        col("l_extendedprice") % 5000.0,
        pRef = 0.0, out = "theta_raw")
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.Det.qz(col("theta_raw")).as("theta"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val stepped = graft.functions.Seawater.ptmpStepSql(
        "lineitem", "30.0 + l_discount * 100.0", "l_quantity % 30.0",
        "l_extendedprice % 5000.0", pRef = 0.0, out = "theta_raw")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR((theta_raw) * 1e4 + 0.5) / 1e4 AS theta
      FROM ($stepped) z ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r15_o2_solubility: Garcia & Gordon (1992) saturation basis ------
  private val r15 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sal", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("tc", col("l_quantity") % 30.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.o2Solubility(col("sal"), col("tc"))).as("o2sol"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val o2 = graft.functions.Seawater.o2SolubilitySql(
        "30.0 + l_discount * 100.0", "l_quantity % 30.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($o2) * 1e4 + 0.5) / 1e4 AS o2sol
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r16_freezing_point: UNESCO 1983 tf(S, p) ------------------------
  private val r16 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sal", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("pdb", col("l_extendedprice") % 500.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.freezingPoint(col("sal"), col("pdb"))).as("tf"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val tf = graft.functions.Seawater.freezingPointSql(
        "30.0 + l_discount * 100.0", "l_extendedprice % 500.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($tf) * 1e4 + 0.5) / 1e4 AS tf
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r17_mixed_layer: per-profile mixed-layer depth -------------------
  // The classic profile-derived product: the shallowest level where σ-t
  // exceeds the surface value by a threshold. Profiles are synthesized
  // (order = profile, linenumber = level); one window for the surface
  // value + one conditional min aggregate — a single keyed exchange.
  private val r17 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sal", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("tc", col("l_quantity") % 30.0)
        .withColumn("sigma", graft.functions.Seawater.sigmaT(col("sal"), col("tc")))
      // (orderkey, linenumber) is NOT unique in the test data — sigma as
      // tiebreak makes the surface pick total-order deterministic (equal
      // sigma ties are harmless: either row yields the same surf).
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("sigma"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li.withColumn("surf", first(col("sigma")).over(w))
        .groupBy(col("l_orderkey"))
        .agg(min(when(col("sigma") - col("surf") > 0.1, col("l_linenumber"))).as("mld_level"),
          count(lit(1)).as("n_levels"))
        .orderBy("l_orderkey")
    },
    Some {
      val st = graft.functions.Seawater.sigmaTSql("30.0 + l_discount * 100.0", "l_quantity % 30.0")
      s"""
      SELECT l_orderkey,
             MIN(CASE WHEN sigma - surf > 0.1 THEN l_linenumber END) AS mld_level,
             COUNT(*) AS n_levels
      FROM (
        SELECT l_orderkey, l_linenumber, sigma,
               first_value(sigma) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, sigma
                                        ROWS UNBOUNDED PRECEDING) AS surf
        FROM (SELECT l_orderkey, l_linenumber, ($st) AS sigma FROM lineitem) s0) s1
      GROUP BY l_orderkey ORDER BY l_orderkey"""
    })

  // ---- r20_buoyancy: Brunt-Väisälä N² between adjacent profile levels ---
  // The stratification product downstream of σ-t: N² ≈ (g/ρ0)·Δσ/Δz on
  // consecutive levels of each profile (positive = stable). Same
  // synthesized profiles and total-ordering trick as r17; one keyed
  // exchange, the lag runs inside the per-profile sort. Zero-Δz pairs
  // (duplicate level numbers) yield NULL, as does the first level.
  private val r20 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sal", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("tc", col("l_quantity") % 30.0)
        .withColumn("sigma", graft.functions.Seawater.sigmaT(col("sal"), col("tc")))
        .withColumn("depth", col("l_linenumber").cast("double") * 10.0)
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("sigma"))
      val dz = col("depth") - lag(col("depth"), 1).over(w)
      val dsig = col("sigma") - lag(col("sigma"), 1).over(w)
      li.select(col("l_orderkey"), col("l_linenumber"),
          when(dz > 0.0, graft.Det.qz(lit(9.80665 / 1025.0) * dsig / dz, 8))
            .as("n2"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("n2"))
    },
    Some {
      val st = graft.functions.Seawater.sigmaTSql("30.0 + l_discount * 100.0", "l_quantity % 30.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             CASE WHEN dz > 0.0
                  THEN ${graft.Det.qzSql("(9.80665 / 1025.0) * dsig / dz", 8)}
             END AS n2
      FROM (
        SELECT l_orderkey, l_linenumber,
               depth - lag(depth, 1) OVER w AS dz,
               sigma - lag(sigma, 1) OVER w AS dsig
        FROM (SELECT l_orderkey, l_linenumber, ($st) AS sigma,
                     CAST(l_linenumber AS DOUBLE) * 10.0 AS depth
              FROM lineitem) s0
        WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, sigma)) s1
      ORDER BY l_orderkey, l_linenumber, n2"""
    })

  // ---- r21_dynamic_height: cumulative specific-volume-anomaly integral --
  // The geostrophic product built on the σ-t stack: dynamic height
  // anomaly ≈ Σ (1/ρ(S,T) − 1/ρ(35,0))·Δp accumulated down each profile
  // (scaled ×1e6 so the exact decimal running sum keeps its precision).
  // The running sum is a window cumsum under the same (level, σ) total
  // order as r17/r20 — tied rows carry identical terms, so the output
  // multiset is permutation-invariant. ONE keyed exchange; the
  // per-profile sort is partition-local.
  private val r21 = Q(
    (s, dir) => {
      val rho0 = 1000.0 + graft.functions.Seawater.sigmaTConst(35.0, 0.0)
      val li = t(s, dir, "lineitem")
        .withColumn("sal", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("tc", col("l_quantity") % 30.0)
        .withColumn("sigma", graft.functions.Seawater.sigmaT(col("sal"), col("tc")))
        .withColumn("term",
          (lit(1.0) / (lit(1000.0) + col("sigma")) - lit(1.0 / rho0)) * 10.0 * 1e6)
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("sigma"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li.select(col("l_orderkey"), col("l_linenumber"),
          graft.Det.qz(sum(col("term").cast(graft.Det.D)).over(w).cast("double")).as("dyn_height"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("dyn_height"))
    },
    Some {
      val st = graft.functions.Seawater.sigmaTSql("30.0 + l_discount * 100.0", "l_quantity % 30.0")
      val rho0 = 1000.0 + graft.functions.Seawater.sigmaTConst(35.0, 0.0)
      s"""
      SELECT l_orderkey, l_linenumber,
             ${graft.Det.qzSql("CAST(SUM(CAST(term AS DECIMAL(28,6))) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, sigma ROWS UNBOUNDED PRECEDING) AS DOUBLE)")} AS dyn_height
      FROM (SELECT l_orderkey, l_linenumber, ($st) AS sigma,
                   (1.0 / (1000.0 + ($st)) - ${1.0 / rho0}) * 10.0 * 1e6 AS term
            FROM lineitem) s0
      ORDER BY l_orderkey, l_linenumber, dyn_height"""
    })

  // ---- r22_current_uv: current-meter vector decomposition ----------------
  // The .CUR current-meter transform (reference handles current-meter
  // records alongside CTD; see ios_data_transform/ObsFile.py CUR
  // handling): speed + compass direction → east/north components
  // u = s·sin(θ), v = s·cos(θ), plus the per-station mean current from
  // exact decimal component sums (vector averaging — NOT the scalar
  // speed mean). Map-only decomposition; one keyed exchange for the
  // station rollup.
  private val r22 = Q(
    (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("spd", col("value"))
        .withColumn("dir_deg", (col("event_id") % 360).cast("double"))
      val u = col("spd") * sin(radians(col("dir_deg")))
      val v = col("spd") * cos(radians(col("dir_deg")))
      e.withColumn("u", u).withColumn("v", v)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_obs"),
          Det.qz(Det.dsum(col("u")) / count(lit(1))).as("mean_u"),
          Det.qz(Det.dsum(col("v")) / count(lit(1))).as("mean_v"),
          Det.qz(max(col("spd"))).as("peak_spd"))
        .orderBy("user_id")
    },
    Some(s"""
      SELECT user_id, COUNT(*) AS n_obs,
             ${Det.qzSql(s"${Det.dsumSql("value * sin(radians(CAST(event_id % 360 AS DOUBLE)))")} / COUNT(*)")} AS mean_u,
             ${Det.qzSql(s"${Det.dsumSql("value * cos(radians(CAST(event_id % 360 AS DOUBLE)))")} / COUNT(*)")} AS mean_v,
             ${Det.qzSql("MAX(value)")} AS peak_spd
      FROM events GROUP BY user_id ORDER BY user_id"""))

  // ---- r23_track_distance: haversine ship-track length -------------------
  // The cruise-track product over positioned stations: great-circle
  // distance between consecutive fixes per vessel (user_id), summed to
  // track length. Positions synthesize deterministically from events;
  // consecutive pairing is one lag window under the (ts, event_id)
  // total order — ONE keyed exchange for both the window and the
  // rollup. Haversine is sin/cos/asin on both engines; per-leg qz
  // before the exact-decimal sum keeps the totals engine-stable.
  private val r23 = Q(
    (s, dir) => {
      val lat = lit(48.0) + (col("user_id") % 100).cast("double") / 50.0 +
        (col("event_id") % 17).cast("double") / 1000.0
      val lon = lit(-129.0) + (col("user_id") % 37).cast("double") / 25.0 +
        (col("event_id") % 23).cast("double") / 1000.0
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val e = t(s, dir, "events")
        .withColumn("lat", lat).withColumn("lon", lon)
        .withColumn("plat", lag(col("lat"), 1).over(w))
        .withColumn("plon", lag(col("lon"), 1).over(w))
      val dphi = radians(col("lat") - col("plat"))
      val dlam = radians(col("lon") - col("plon"))
      val a = sin(dphi / 2) * sin(dphi / 2) +
        cos(radians(col("plat"))) * cos(radians(col("lat"))) *
          sin(dlam / 2) * sin(dlam / 2)
      val legKm = Det.qz(lit(2.0 * 6371.0088) * asin(sqrt(a)), 6)
      e.withColumn("leg_km", when(col("plat").isNotNull, legKm))
        .groupBy(col("user_id"))
        .agg(count(col("leg_km")).as("n_legs"),
          Det.qz(Det.dsum(coalesce(col("leg_km"), lit(0.0))), 4).as("track_km"),
          Det.qz(max(col("leg_km")), 6).as("max_leg_km"))
        .orderBy("user_id")
    },
    Some {
      val lat = "48.0 + CAST(user_id % 100 AS DOUBLE) / 50.0 + CAST(event_id % 17 AS DOUBLE) / 1000.0"
      val lon = "-129.0 + CAST(user_id % 37 AS DOUBLE) / 25.0 + CAST(event_id % 23 AS DOUBLE) / 1000.0"
      s"""
      WITH pos AS (
        SELECT user_id, ts, event_id, ($lat) AS lat, ($lon) AS lon
        FROM events),
      legs AS (
        SELECT user_id, lat, lon,
               lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
        FROM pos
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      d AS (
        SELECT user_id,
               CASE WHEN plat IS NOT NULL THEN ${Det.qzSql(
        "2.0 * 6371.0088 * asin(sqrt(" +
          "sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2) + " +
          "cos(radians(plat)) * cos(radians(lat)) * " +
          "sin(radians(lon - plon) / 2) * sin(radians(lon - plon) / 2)))", 6)} END AS leg_km
        FROM legs)
      SELECT user_id, COUNT(leg_km) AS n_legs,
             ${Det.qzSql(Det.dsumSql("COALESCE(leg_km, 0.0)"), 4)} AS track_km,
             ${Det.qzSql("MAX(leg_km)", 6)} AS max_leg_km
      FROM d GROUP BY user_id ORDER BY user_id"""
    })

  // ---- p2_ocean_products: per-profile derived-products pass --------------
  // Block B's headline composite — the reference's whole derive step for
  // one cast, batched: σ-t per level, mixed-layer depth (r17's surface
  // window + conditional min), peak stratification N² (r20's lag pairs),
  // and the full-depth dynamic-height integral (r21's term, summed
  // order-free) — ALL from one synthesized profile scan, one keyed
  // window pass, and one rollup: a single exchange per 100 TB of casts.
  private val p2 = Q(
    (s, dir) => {
      val rho0 = 1000.0 + graft.functions.Seawater.sigmaTConst(35.0, 0.0)
      val li = t(s, dir, "lineitem")
        .withColumn("sal", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("tc", col("l_quantity") % 30.0)
        .withColumn("sigma", graft.functions.Seawater.sigmaT(col("sal"), col("tc")))
        .withColumn("depth", col("l_linenumber").cast("double") * 10.0)
        .withColumn("term",
          (lit(1.0) / (lit(1000.0) + col("sigma")) - lit(1.0 / rho0)) * 10.0 * 1e6)
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("sigma"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dz = col("depth") - lag(col("depth"), 1).over(w)
      val dsig = col("sigma") - lag(col("sigma"), 1).over(w)
      li.withColumn("surf", first(col("sigma")).over(wRun))
        .withColumn("n2", when(dz > 0.0, lit(9.80665 / 1025.0) * dsig / dz))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_levels"),
          min(when(col("sigma") - col("surf") > 0.1, col("l_linenumber"))).as("mld_level"),
          Det.qz(max(col("n2")), 8).as("max_n2"),
          Det.qz(Det.dsum(col("term"))).as("total_dyn_height"))
        .orderBy("l_orderkey")
    },
    Some {
      val st = graft.functions.Seawater.sigmaTSql("30.0 + l_discount * 100.0", "l_quantity % 30.0")
      val rho0 = 1000.0 + graft.functions.Seawater.sigmaTConst(35.0, 0.0)
      s"""
      WITH p AS (
        SELECT l_orderkey, l_linenumber, ($st) AS sigma,
               CAST(l_linenumber AS DOUBLE) * 10.0 AS depth,
               (1.0 / (1000.0 + ($st)) - ${1.0 / rho0}) * 10.0 * 1e6 AS term
        FROM lineitem),
      d AS (
        SELECT l_orderkey, l_linenumber, sigma, term,
               first_value(sigma) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, sigma
                                        ROWS UNBOUNDED PRECEDING) AS surf,
               depth - lag(depth, 1) OVER w AS dz,
               sigma - lag(sigma, 1) OVER w AS dsig
        FROM p
        WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, sigma))
      SELECT l_orderkey, COUNT(*) AS n_levels,
             MIN(CASE WHEN sigma - surf > 0.1 THEN l_linenumber END) AS mld_level,
             ${Det.qzSql("MAX(CASE WHEN dz > 0.0 THEN (9.80665 / 1025.0) * dsig / dz END)", 8)} AS max_n2,
             ${Det.qzSql(Det.dsumSql("term"))} AS total_dyn_height
      FROM d GROUP BY l_orderkey ORDER BY l_orderkey"""
    })

  // ---- r25_bottle_matchup: bottle↔CTD nearest-depth pairing --------------
  // The calibration workflow spanning the reference's two file families
  // (bottle .che and CTD casts): each bottle sample pairs with the
  // nearest CTD level of the SAME profile within a depth tolerance.
  // Join-free: union both streams, one per-profile depth-ordered window
  // carries the previous CTD level forward and the next CTD level
  // backward, and each bottle picks the closer of the two — the s3/s6
  // as-of machinery transplanted from the time axis to the depth axis.
  // One keyed exchange at any archive size.
  private val r25 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("depth", col("l_linenumber").cast("double") * 10.0 +
          (col("l_partkey") % 7).cast("double"))
        .withColumn("temp", col("l_quantity") % 30.0)
        .withColumn("is_bottle", col("l_partkey") % 5 === 0)
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("depth"), col("is_bottle"), col("l_partkey"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val wNext = w.rowsBetween(1, Window.unboundedFollowing)
      val ctdDepth = when(!col("is_bottle"), col("depth"))
      val ctdTemp = when(!col("is_bottle"), col("temp"))
      val matched = li
        .withColumn("pd", last(ctdDepth, ignoreNulls = true).over(wPrev))
        .withColumn("pt", last(ctdTemp, ignoreNulls = true).over(wPrev))
        .withColumn("nd", first(ctdDepth, ignoreNulls = true).over(wNext))
        .withColumn("nt", first(ctdTemp, ignoreNulls = true).over(wNext))
        .filter(col("is_bottle"))
        .withColumn("use_prev",
          col("nd").isNull ||
            (col("pd").isNotNull && (col("depth") - col("pd") <= col("nd") - col("depth"))))
        .withColumn("match_depth", when(col("use_prev"), col("pd")).otherwise(col("nd")))
        .withColumn("match_temp", when(col("use_prev"), col("pt")).otherwise(col("nt")))
        .filter(col("match_depth").isNotNull &&
          abs(col("depth") - col("match_depth")) <= 5.0)
      matched.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_matched"),
          Det.qz(Det.dsum(abs(col("depth") - col("match_depth"))) / count(lit(1))).as("avg_gap_m"),
          Det.qz(Det.dsum(abs(col("temp") - col("match_temp"))) / count(lit(1)), 4).as("avg_temp_diff"))
        .orderBy("l_orderkey")
    },
    Some(s"""
      WITH base AS (
        SELECT l_orderkey, l_partkey,
               CAST(l_linenumber AS DOUBLE) * 10.0 + CAST(l_partkey % 7 AS DOUBLE) AS depth,
               l_quantity % 30.0 AS temp,
               (l_partkey % 5 = 0) AS is_bottle
        FROM lineitem),
      m AS (
        SELECT *,
          LAST_VALUE(CASE WHEN NOT is_bottle THEN depth END IGNORE NULLS)
            OVER (PARTITION BY l_orderkey ORDER BY depth, is_bottle, l_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pd,
          LAST_VALUE(CASE WHEN NOT is_bottle THEN temp END IGNORE NULLS)
            OVER (PARTITION BY l_orderkey ORDER BY depth, is_bottle, l_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
          FIRST_VALUE(CASE WHEN NOT is_bottle THEN depth END IGNORE NULLS)
            OVER (PARTITION BY l_orderkey ORDER BY depth, is_bottle, l_partkey
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nd,
          FIRST_VALUE(CASE WHEN NOT is_bottle THEN temp END IGNORE NULLS)
            OVER (PARTITION BY l_orderkey ORDER BY depth, is_bottle, l_partkey
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
        FROM base),
      b AS (
        SELECT *,
               (nd IS NULL OR (pd IS NOT NULL AND depth - pd <= nd - depth)) AS use_prev
        FROM m WHERE is_bottle),
      sel AS (
        SELECT l_orderkey, depth, temp,
               CASE WHEN use_prev THEN pd ELSE nd END AS match_depth,
               CASE WHEN use_prev THEN pt ELSE nt END AS match_temp
        FROM b)
      SELECT l_orderkey, COUNT(*) AS n_matched,
             ${Det.qzSql(s"${Det.dsumSql("abs(depth - match_depth)")} / COUNT(*)")} AS avg_gap_m,
             ${Det.qzSql(s"${Det.dsumSql("abs(temp - match_temp)")} / COUNT(*)", 4)} AS avg_temp_diff
      FROM sel
      WHERE match_depth IS NOT NULL AND abs(depth - match_depth) <= 5.0
      GROUP BY l_orderkey ORDER BY l_orderkey"""))

  // ---- r18_conservative_temp: TEOS-10 CT from θ ------------------------
  private val r18 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sa", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("pt", col("l_quantity") % 30.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.conservativeTemp(col("sa"), col("pt"))).as("ct"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val ct = graft.functions.Seawater.conservativeTempSql(
        "30.0 + l_discount * 100.0", "l_quantity % 30.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($ct) * 1e4 + 0.5) / 1e4 AS ct
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r19_percent_sat: dissolved-oxygen percent saturation -------------
  // The reference's oxygen channels carry percent-saturation variants
  // (OceanNcVar.py oxygen branches); saturation = measured / solubility.
  private val r19 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sal", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("tc", col("l_quantity") % 30.0)
        .withColumn("o2_meas", lit(150.0) + col("l_quantity") * 5.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(col("o2_meas") /
          graft.functions.Seawater.o2Solubility(col("sal"), col("tc")) * 100.0).as("pct_sat"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val o2 = graft.functions.Seawater.o2SolubilitySql(
        "30.0 + l_discount * 100.0", "l_quantity % 30.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(((150.0 + l_quantity * 5.0) / ($o2) * 100.0) * 1e4 + 0.5) / 1e4 AS pct_sat
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r26_abs_salinity: TEOS-10 SA from SP with Baltic branch ---------
  // gsw_sa_from_sp re-expressed (Seawater.saFromSp; SAAR→0 deviation
  // documented there). Synthesized coordinates sweep both sides of the
  // Baltic polygon — supplier rows land in the Baltic box for some ids —
  // so BOTH branches are oracle-exercised.
  private val r26 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sp", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("lon", (col("l_orderkey") % 60).cast("double") - lit(10.0))
        .withColumn("lat", lit(45.0) + (col("l_linenumber") % 7).cast("double") * 4.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.saFromSp(col("sp"), col("lon"), col("lat")), 6).as("sa"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val sa = graft.functions.Seawater.saFromSpSql(
        "30.0 + l_discount * 100.0",
        "CAST(l_orderkey % 60 AS DOUBLE) - 10.0",
        "45.0 + CAST(l_linenumber % 7 AS DOUBLE) * 4.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($sa) * 1e6 + 0.5) / 1e6 AS sa
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r27_insitu_density: TEOS-10 rho(SA, CT, p) ----------------------
  // The full pressure-dependent equation of state (75-term specvol,
  // Seawater.rhoTeos10) — what r12's surface-only sigma-t could not
  // answer: density at depth.
  private val r27 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sa", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("ct", col("l_quantity") % 30.0)
        .withColumn("pres", col("l_extendedprice") % 4000.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.rhoTeos10(col("sa"), col("ct"), col("pres"))).as("rho"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val rho = graft.functions.Seawater.rhoTeos10Sql(
        "30.0 + l_discount * 100.0", "l_quantity % 30.0", "l_extendedprice % 4000.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($rho) * 1e4 + 0.5) / 1e4 AS rho
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r28_alpha_beta: TEOS-10 thermal expansion / haline contraction --
  // The analytic CT- and SA-derivatives of the 75-term specific-volume
  // polynomial (gsw_alpha / gsw_beta) — the coefficients an oceanographer
  // needs right after density itself: buoyancy-frequency decomposition
  // N² = g(α·dCT/dz − β·dSA/dz), cabbeling, water-mass analysis. Pure
  // map-side column math over the same synthesized (SA, CT, p) ramp as
  // r27; both engines evaluate the identical Horner tree, quantized at
  // 1e-10 (α,β ~ 10⁻⁴, so 6 significant digits survive).
  private val r28 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sa", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("ct", col("l_quantity") % 30.0)
        .withColumn("pres", col("l_extendedprice") % 4000.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.alphaTeos10(col("sa"), col("ct"), col("pres")), 10).as("alpha"),
        graft.Det.qz(graft.functions.Seawater.betaTeos10(col("sa"), col("ct"), col("pres")), 10).as("beta"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val al = graft.functions.Seawater.alphaTeos10Sql(
        "30.0 + l_discount * 100.0", "l_quantity % 30.0", "l_extendedprice % 4000.0")
      val be = graft.functions.Seawater.betaTeos10Sql(
        "30.0 + l_discount * 100.0", "l_quantity % 30.0", "l_extendedprice % 4000.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($al) * 1e10 + 0.5) / 1e10 AS alpha,
             FLOOR(($be) * 1e10 + 0.5) / 1e10 AS beta
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r29_enthalpy: TEOS-10 specific enthalpy -------------------------
  // cp0·CT + the pressure-integrated dynamic-enthalpy polynomial
  // (gsw_enthalpy) — the heat-content quantity ocean heat-transport
  // budgets integrate. Same synthesized (SA, CT, p) ramp as r27/r28,
  // map-only column math, quantized at 1e-4 J/kg (h ~ 10⁴-10⁵, so 8-9
  // significant digits survive).
  private val r29 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sa", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("ct", col("l_quantity") % 30.0)
        .withColumn("pres", col("l_extendedprice") % 4000.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.enthalpyTeos10(col("sa"), col("ct"), col("pres")), 4).as("enthalpy"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val en = graft.functions.Seawater.enthalpyTeos10Sql(
        "30.0 + l_discount * 100.0", "l_quantity % 30.0", "l_extendedprice % 4000.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($en) * 1e4 + 0.5) / 1e4 AS enthalpy
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r30_sound_speed_exact: TEOS-10 sound speed ----------------------
  // c = 10⁴·√(−v²/(∂v/∂p)) from the 75-term polynomial and its analytic
  // pressure derivative (gsw_sound_speed) — supersedes r13's UNESCO
  // fit with the thermodynamically-consistent value. Same ramp as
  // r27-r29; quantized at 1e-6 m/s.
  private val r30 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sa", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("ct", col("l_quantity") % 30.0)
        .withColumn("pres", col("l_extendedprice") % 4000.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.soundSpeedTeos10(col("sa"), col("ct"), col("pres")), 6).as("c_ms"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val cs = graft.functions.Seawater.soundSpeedTeos10Sql(
        "30.0 + l_discount * 100.0", "l_quantity % 30.0", "l_extendedprice % 4000.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($cs) * 1e6 + 0.5) / 1e6 AS c_ms
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r31_spiciness: TEOS-10 surface spiciness ------------------------
  // π₀(SA, CT) (McDougall & Krzysik 2015) — the along-isopycnal
  // water-mass coordinate that pairs with r27's density: fronts with
  // compensating temperature/salinity gradients are invisible in ρ but
  // jump in π₀. Same synthesized (SA, CT) ramp as r27-r30; both engines
  // evaluate the identical 7×7 Horner tree, quantized at 1e-6 kg/m³.
  private val r31 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sa", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("ct", col("l_quantity") % 30.0)
      li.select(col("l_orderkey"), col("l_linenumber"),
        graft.Det.qz(graft.functions.Seawater.spiciness0(col("sa"), col("ct")), 6).as("spice"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val sp = graft.functions.Seawater.spiciness0Sql(
        "30.0 + l_discount * 100.0", "l_quantity % 30.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             FLOOR(($sp) * 1e6 + 0.5) / 1e6 AS spice
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r32_nsquared: TEOS-10 exact buoyancy frequency -------------------
  // The thermodynamically-consistent N² the reference computes in
  // GSW-Python stability.py `Nsquared` (lat=None branch): midpoint
  // specvol/α/β from the 75-term polynomial between adjacent profile
  // levels, N² = g²/(v·10⁴·Δp)·(β·ΔSA − α·ΔCT), g = 9.7963. Supersedes
  // r20's EOS-80 σ-t finite difference with the exact TEOS-10 form; r20
  // keeps its row as the legacy product. Same window shape as r20: ONE
  // keyed exchange, the lag runs inside the per-profile sort; duplicate
  // level numbers give Δp = 0 → NULL, as does the first level.
  private val r32 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sa", lit(30.0) + col("l_discount") * 100.0)
        .withColumn("ct", col("l_quantity") % 30.0)
        .withColumn("pres", col("l_linenumber").cast("double") * 10.0)
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("sa"), col("ct"))
      val saMid = (lag(col("sa"), 1).over(w) + col("sa")) * 0.5
      val ctMid = (lag(col("ct"), 1).over(w) + col("ct")) * 0.5
      val pMid = (lag(col("pres"), 1).over(w) + col("pres")) * 0.5
      val dSa = col("sa") - lag(col("sa"), 1).over(w)
      val dCt = col("ct") - lag(col("ct"), 1).over(w)
      val dP = col("pres") - lag(col("pres"), 1).over(w)
      li.select(col("l_orderkey"), col("l_linenumber"), saMid.as("sa_mid"),
          ctMid.as("ct_mid"), pMid.as("p_mid"), dSa.as("dsa"), dCt.as("dct"), dP.as("dp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("dp") > 0.0,
            graft.Det.qz(graft.functions.Seawater.nsquaredTeos10(
              col("sa_mid"), col("ct_mid"), col("p_mid"),
              col("dsa"), col("dct"), col("dp")), 10)).as("n2"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("n2"))
    },
    Some {
      val n2 = graft.functions.Seawater.nsquaredTeos10Sql(
        "sa_mid", "ct_mid", "p_mid", "dsa", "dct", "dp")
      s"""
      SELECT l_orderkey, l_linenumber,
             CASE WHEN dp > 0.0 THEN ${graft.Det.qzSql(n2, 10)} END AS n2
      FROM (
        SELECT l_orderkey, l_linenumber,
               (lag(sa, 1) OVER w + sa) * 0.5 AS sa_mid,
               (lag(ct, 1) OVER w + ct) * 0.5 AS ct_mid,
               (lag(pres, 1) OVER w + pres) * 0.5 AS p_mid,
               sa - lag(sa, 1) OVER w AS dsa,
               ct - lag(ct, 1) OVER w AS dct,
               pres - lag(pres, 1) OVER w AS dp
        FROM (SELECT l_orderkey, l_linenumber,
                     30.0 + l_discount * 100.0 AS sa,
                     l_quantity % 30.0 AS ct,
                     CAST(l_linenumber AS DOUBLE) * 10.0 AS pres
              FROM lineitem) s0
        WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, sa, ct)) s1
      ORDER BY l_orderkey, l_linenumber, n2"""
    })

  // ---- r33_turner: Turner angle + stability ratio ------------------------
  // The double-diffusion classifier the reference ships right next to N²
  // (stability.py `Turner_Rsubrho`): Tu = deg·atan2(α·ΔCT + β·ΔSA,
  // α·ΔCT − β·ΔSA) with SHALLOW-minus-deep differences and SA clipped to
  // [0, 50] first (stability.py:120), R_ρ = (α·ΔCT)/(β·ΔSA) guarded on
  // ΔSA = 0. |Tu| < 45° double-stable; 45–90° salt fingering; < −45°
  // diffusive convection. Same one-exchange window shape as r32; first
  // level NULL. atan2 is libm on both engines → quantized at 1e-6°.
  private val r33 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sa", least(greatest(lit(30.0) + col("l_discount") * 100.0, lit(0.0)), lit(50.0)))
        .withColumn("ct", col("l_quantity") % 30.0)
        .withColumn("pres", col("l_linenumber").cast("double") * 10.0)
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("sa"), col("ct"))
      val prev = lag(col("sa"), 1).over(w)
      val saMid = (prev + col("sa")) * 0.5
      val ctMid = (lag(col("ct"), 1).over(w) + col("ct")) * 0.5
      val pMid = (lag(col("pres"), 1).over(w) + col("pres")) * 0.5
      val dSa = prev - col("sa")
      val dCt = lag(col("ct"), 1).over(w) - col("ct")
      li.select(col("l_orderkey"), col("l_linenumber"), saMid.as("sa_mid"),
          ctMid.as("ct_mid"), pMid.as("p_mid"), dSa.as("dsa"), dCt.as("dct"))
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.Det.qz(graft.functions.Seawater.turnerTeos10(
            col("sa_mid"), col("ct_mid"), col("p_mid"), col("dsa"), col("dct")), 6).as("tu"),
          when(col("dsa") =!= 0.0,
            graft.Det.qz(graft.functions.Seawater.rsubrhoTeos10(
              col("sa_mid"), col("ct_mid"), col("p_mid"), col("dsa"), col("dct")), 6)).as("r_rho"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("tu"), col("r_rho"))
    },
    Some {
      val tu = graft.functions.Seawater.turnerTeos10Sql(
        "sa_mid", "ct_mid", "p_mid", "dsa", "dct")
      val rr = graft.functions.Seawater.rsubrhoTeos10Sql(
        "sa_mid", "ct_mid", "p_mid", "dsa", "dct")
      s"""
      SELECT l_orderkey, l_linenumber,
             ${graft.Det.qzSql(tu, 6)} AS tu,
             CASE WHEN dsa <> 0.0 THEN ${graft.Det.qzSql(rr, 6)} END AS r_rho
      FROM (
        SELECT l_orderkey, l_linenumber,
               (lag(sa, 1) OVER w + sa) * 0.5 AS sa_mid,
               (lag(ct, 1) OVER w + ct) * 0.5 AS ct_mid,
               (lag(pres, 1) OVER w + pres) * 0.5 AS p_mid,
               lag(sa, 1) OVER w - sa AS dsa,
               lag(ct, 1) OVER w - ct AS dct
        FROM (SELECT l_orderkey, l_linenumber,
                     LEAST(GREATEST(30.0 + l_discount * 100.0, 0.0), 50.0) AS sa,
                     l_quantity % 30.0 AS ct,
                     CAST(l_linenumber AS DOUBLE) * 10.0 AS pres
              FROM lineitem) s0
        WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, sa, ct)) s1
      ORDER BY l_orderkey, l_linenumber, tu, r_rho"""
    })

  // ---- r35_ipv_ratio: IPV / (f·N²) ---------------------------------------
  // Completes the reference's stability family (gsw/stability.py:148-202
  // `IPV_vs_fNsquared_ratio`, Eqn. 3.20.17 of IOC et al. 2010): the
  // ratio of the p_ref-referenced vertical potential-density gradient to
  // the locally-referenced one, on the same adjacent-level midpoints as
  // r32/r33 — SHALLOW-minus-deep differences, SA clipped [0, 50]
  // (stability.py:179), p_ref = 0 (the function's default), NULL where
  // the locally-referenced denominator is exactly zero (the reference
  // fills NaN) and on each profile's first level. Same ONE-keyed-window
  // exchange; every α/β evaluation is the r28 Horner tree, so the whole
  // row is map-side scalar math under the window.
  private val r35 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("sa", least(greatest(lit(30.0) + col("l_discount") * 100.0, lit(0.0)), lit(50.0)))
        .withColumn("ct", col("l_quantity") % 30.0)
        .withColumn("pres", col("l_linenumber").cast("double") * 10.0)
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"), col("sa"), col("ct"))
      val prev = lag(col("sa"), 1).over(w)
      val saMid = (prev + col("sa")) * 0.5
      val ctMid = (lag(col("ct"), 1).over(w) + col("ct")) * 0.5
      val pMid = (lag(col("pres"), 1).over(w) + col("pres")) * 0.5
      val dSa = prev - col("sa")
      val dCt = lag(col("ct"), 1).over(w) - col("ct")
      li.select(col("l_orderkey"), col("l_linenumber"), saMid.as("sa_mid"),
          ctMid.as("ct_mid"), pMid.as("p_mid"), dSa.as("dsa"), dCt.as("dct"))
        .select(col("l_orderkey"), col("l_linenumber"),
          Det.qz(col("p_mid"), 6).as("p_mid"),
          when(graft.functions.Seawater.ipvFn2DenTeos10(
              col("sa_mid"), col("ct_mid"), col("p_mid"), col("dsa"), col("dct")) =!= 0.0,
            Det.qz(graft.functions.Seawater.ipvFn2Teos10(
              col("sa_mid"), col("ct_mid"), col("p_mid"),
              col("dsa"), col("dct"), lit(0.0)), 6)).as("ipv_ratio"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("ipv_ratio"))
    },
    Some {
      val den = graft.functions.Seawater.ipvFn2DenTeos10Sql(
        "sa_mid", "ct_mid", "p_mid", "dsa", "dct")
      val ratio = graft.functions.Seawater.ipvFn2Teos10Sql(
        "sa_mid", "ct_mid", "p_mid", "dsa", "dct", "0.0")
      s"""
      SELECT l_orderkey, l_linenumber,
             ${graft.Det.qzSql("p_mid", 6)} AS p_mid,
             CASE WHEN ($den) <> 0.0 THEN ${graft.Det.qzSql(ratio, 6)} END AS ipv_ratio
      FROM (
        SELECT l_orderkey, l_linenumber,
               (lag(sa, 1) OVER w + sa) * 0.5 AS sa_mid,
               (lag(ct, 1) OVER w + ct) * 0.5 AS ct_mid,
               (lag(pres, 1) OVER w + pres) * 0.5 AS p_mid,
               lag(sa, 1) OVER w - sa AS dsa,
               lag(ct, 1) OVER w - ct AS dct
        FROM (SELECT l_orderkey, l_linenumber,
                     LEAST(GREATEST(30.0 + l_discount * 100.0, 0.0), 50.0) AS sa,
                     l_quantity % 30.0 AS ct,
                     CAST(l_linenumber AS DOUBLE) * 10.0 AS pres
              FROM lineitem) s0
        WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, sa, ct)) s1
      ORDER BY l_orderkey, l_linenumber, ipv_ratio"""
    })

  // ---- r34_geostrophic: velocity between adjacent casts ------------------
  // The quantity r21's dynamic-height integral exists to produce
  // (GSW-Python gsw/geostrophy.py `geostrophic_velocity` +  `distance` +
  // `f`): for each adjacent station pair along a section,
  //   u = Δ(geo_strf) / (ds · f(lat̅)),
  // ds the great-circle distance in metres (atan2-form haversine,
  // R = 6371e3, p = 0 so no depth correction — distance:169-230), f =
  // 2Ω·sin(lat̅) with Ω = 7.292115e-5 (Groten 2004), and midpoint
  // lon/lat reported alongside. Stations synthesize like r23's track
  // (no longitude wrap at −129°, so the reference's `unwrap` is the
  // identity here — r36 exercises the wrap-crossing path, r37 the
  // p ≠ 0 depth-corrected distance); adjacent pairing is one lag
  // window under the
  // (ts, event_id) total order — ONE keyed exchange. Coincident fixes
  // (ds = 0) and each section's first station give NULL velocity.
  private val r34 = Q(
    (s, dir) => {
      val lat = lit(48.0) + (col("user_id") % 100).cast("double") / 50.0 +
        (col("event_id") % 17).cast("double") / 1000.0
      val lon = lit(-129.0) + (col("user_id") % 37).cast("double") / 25.0 +
        (col("event_id") % 23).cast("double") / 1000.0
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val e = t(s, dir, "events")
        .withColumn("lat", lat).withColumn("lon", lon)
        .withColumn("strf", col("value"))
        .withColumn("plat", lag(col("lat"), 1).over(w))
        .withColumn("plon", lag(col("lon"), 1).over(w))
        .withColumn("pstrf", lag(col("strf"), 1).over(w))
      val dphi = radians(col("lat")) - radians(col("plat"))
      val dlam = radians(col("lon")) - radians(col("plon"))
      val a = sin(dphi / 2) * sin(dphi / 2) +
        cos(radians(col("plat"))) * cos(radians(col("lat"))) *
          sin(dlam / 2) * sin(dlam / 2)
      val ds = lit(6371e3) * (lit(2.0) * atan2(sqrt(a), sqrt(lit(1.0) - a)))
      val midLat = (col("plat") + col("lat")) * 0.5
      val midLon = (col("plon") + col("lon")) * 0.5
      val fCor = lit(2.0) * lit(7.292115e-5) * sin(radians(midLat))
      e.withColumn("ds", ds)
        .select(col("user_id"), col("event_id"),
          Det.qz(midLat, 8).as("mid_lat"), Det.qz(midLon, 8).as("mid_lon"),
          when(col("ds") > 0.0,
            Det.qz((col("strf") - col("pstrf")) / (col("ds") * fCor), 6)).as("vel"))
        .orderBy(col("user_id"), col("event_id"), col("vel"))
    },
    Some {
      val lat = "48.0 + CAST(user_id % 100 AS DOUBLE) / 50.0 + CAST(event_id % 17 AS DOUBLE) / 1000.0"
      val lon = "-129.0 + CAST(user_id % 37 AS DOUBLE) / 25.0 + CAST(event_id % 23 AS DOUBLE) / 1000.0"
      val aExpr = "sin((radians(lat) - radians(plat)) / 2) * sin((radians(lat) - radians(plat)) / 2) + " +
        "cos(radians(plat)) * cos(radians(lat)) * " +
        "sin((radians(lon) - radians(plon)) / 2) * sin((radians(lon) - radians(plon)) / 2)"
      s"""
      WITH pos AS (
        SELECT user_id, ts, event_id, ($lat) AS lat, ($lon) AS lon, value AS strf
        FROM events),
      pairs AS (
        SELECT user_id, event_id, lat, lon, strf,
               lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
               lag(strf) OVER w AS pstrf
        FROM pos
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      legs AS (
        SELECT user_id, event_id, lat, lon, strf, plat, plon, pstrf,
               6371e3 * (2.0 * atan2(sqrt($aExpr), sqrt(1.0 - ($aExpr)))) AS ds
        FROM pairs)
      SELECT user_id, event_id,
             ${Det.qzSql("(plat + lat) * 0.5", 8)} AS mid_lat,
             ${Det.qzSql("(plon + lon) * 0.5", 8)} AS mid_lon,
             CASE WHEN ds > 0.0 THEN ${Det.qzSql(
        "(strf - pstrf) / (ds * (2.0 * 7.292115e-5 * sin(radians((plat + lat) * 0.5))))", 6)}
             END AS vel
      FROM legs
      ORDER BY user_id, event_id, vel"""
    })

  // ---- r36_unwrap_section: geostrophic velocity across the antimeridian --
  // The piece of `geostrophic_velocity` r34's corpus cannot reach: the
  // reference unconditionally runs `lon = unwrap(lon)` first
  // (gsw/geostrophy.py:289, unwrap at :105-148) — cumulative ±360°
  // jump corrections along the section, then centering by subtracting
  // 360·round(mean/360) — so a section crossing ±180° reports sane
  // midpoints instead of a wrapped-average lon near 0. Stations here
  // synthesize a westbound walk from 175°E across the antimeridian,
  // stored wrapped to [−180, 180) like a real position feed; the
  // operator must recover the continuous track. All of it — diff, jump
  // flags, running correction, per-section mean, pairing — is windows
  // over the SAME user_id key: ONE keyed exchange, no join, no collect.
  // np.round is half-even; both engines here use floor(x+0.5)
  // (half-up), which differs from numpy only at exact .5 ties. Across
  // the ORACLE the residual risk is the mean itself: the two engines
  // may sum lon_u in different orders, so the raw means differ by ulps.
  // The centering constant k = floor(mean/360 + 0.5) therefore computes
  // from the QUANTIZED mean (Det.qz at 1e-6°): both engines collapse
  // their ulp-different means onto the same grid value, so k can only
  // diverge when the raw means straddle a quantization cell edge
  // (|mean − edge| ≲ 1e-12°) AND that one cell edge abuts an odd
  // multiple of 180° — orders of magnitude narrower than the raw-mean
  // flip window this replaces. k is an integer decision, so for any
  // fixture where both engines agree on k the output doubles are
  // bit-identical to the unquantized form.
  private val r36 = Q(
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.partitionBy(col("user_id"))
      val e = t(s, dir, "events")
        .withColumn("lat", lit(52.0) + (col("user_id") % 80).cast("double") / 40.0 +
          (col("event_id") % 17).cast("double") / 1000.0)
        .withColumn("strf", col("value"))
        .withColumn("seq", row_number().over(w))
        .withColumn("walk", lit(175.0) + (col("seq") - 1).cast("double") * 0.8 +
          (col("event_id") % 13).cast("double") / 100.0)
        .withColumn("lon_raw", ((col("walk") + 180.0) % 360.0) - 180.0)
        .withColumn("ld", col("lon_raw") - lag(col("lon_raw"), 1).over(w))
        // ld > 180 → crossed eastward (subtract a turn); ld < −180 →
        // crossed westward (add one); first station (null ld) → 0
        .withColumn("wjump",
          when(col("ld") > 180.0, -1).when(col("ld") < -180.0, 1).otherwise(0))
        .withColumn("lon_u", col("lon_raw") + sum(col("wjump")).over(wcum) * 360.0)
        .withColumn("lon",
          col("lon_u") - lit(360.0) *
            floor(Det.qz(avg(col("lon_u")).over(wall), 6) / 360.0 + 0.5))
        .withColumn("plat", lag(col("lat"), 1).over(w))
        .withColumn("plon", lag(col("lon"), 1).over(w))
        .withColumn("pstrf", lag(col("strf"), 1).over(w))
      val dphi = radians(col("lat")) - radians(col("plat"))
      val dlam = radians(col("lon")) - radians(col("plon"))
      val a = sin(dphi / 2) * sin(dphi / 2) +
        cos(radians(col("plat"))) * cos(radians(col("lat"))) *
          sin(dlam / 2) * sin(dlam / 2)
      val ds = lit(6371e3) * (lit(2.0) * atan2(sqrt(a), sqrt(lit(1.0) - a)))
      val midLat = (col("plat") + col("lat")) * 0.5
      val midLon = (col("plon") + col("lon")) * 0.5
      val fCor = lit(2.0) * lit(7.292115e-5) * sin(radians(midLat))
      e.withColumn("ds", ds)
        .select(col("user_id"), col("event_id"),
          Det.qz(midLat, 8).as("mid_lat"), Det.qz(midLon, 8).as("mid_lon"),
          when(col("ds") > 0.0,
            Det.qz((col("strf") - col("pstrf")) / (col("ds") * fCor), 6)).as("vel"))
        .orderBy(col("user_id"), col("event_id"), col("vel"))
    },
    Some {
      val aExpr = "sin((radians(lat) - radians(plat)) / 2) * sin((radians(lat) - radians(plat)) / 2) + " +
        "cos(radians(plat)) * cos(radians(lat)) * " +
        "sin((radians(lon) - radians(plon)) / 2) * sin((radians(lon) - radians(plon)) / 2)"
      s"""
      WITH base AS (
        SELECT user_id, ts, event_id, value AS strf,
               52.0 + CAST(user_id % 80 AS DOUBLE) / 40.0
                    + CAST(event_id % 17 AS DOUBLE) / 1000.0 AS lat,
               row_number() OVER w AS seq
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      rawpos AS (
        SELECT *, ((175.0 + CAST(seq - 1 AS DOUBLE) * 0.8
                         + CAST(event_id % 13 AS DOUBLE) / 100.0
                    + 180.0) % 360.0) - 180.0 AS lon_raw
        FROM base),
      jump AS (
        SELECT *, CASE WHEN lon_raw - lag(lon_raw) OVER w > 180.0 THEN -1
                       WHEN lon_raw - lag(lon_raw) OVER w < -180.0 THEN 1
                       ELSE 0 END AS wjump
        FROM rawpos
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      unwrapped AS (
        SELECT *, lon_raw + sum(wjump) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 360.0 AS lon_u
        FROM jump),
      centered AS (
        SELECT *, lon_u - 360.0 * floor(
          ${Det.qzSql("avg(lon_u) OVER (PARTITION BY user_id)", 6)} / 360.0 + 0.5) AS lon
        FROM unwrapped),
      pairs AS (
        SELECT user_id, event_id, lat, lon, strf,
               lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
               lag(strf) OVER w AS pstrf
        FROM centered
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      legs AS (
        SELECT user_id, event_id, lat, lon, strf, plat, plon, pstrf,
               6371e3 * (2.0 * atan2(sqrt($aExpr), sqrt(1.0 - ($aExpr)))) AS ds
        FROM pairs)
      SELECT user_id, event_id,
             ${Det.qzSql("(plat + lat) * 0.5", 8)} AS mid_lat,
             ${Det.qzSql("(plon + lon) * 0.5", 8)} AS mid_lon,
             CASE WHEN ds > 0.0 THEN ${Det.qzSql(
        "(strf - pstrf) / (ds * (2.0 * 7.292115e-5 * sin(radians((plat + lat) * 0.5))))", 6)}
             END AS vel
      FROM legs
      ORDER BY user_id, event_id, vel"""
    })

  // ---- r37_depth_distance: pair distance with the z_from_p correction ----
  // The other branch of the reference's `distance` (gsw/geostrophy.py
  // :201-222): when station pressure is nonzero, the great-circle angle
  // is scaled by (R + z) with z = z_from_p(p_mid, lat_mid) — the TEOS-10
  // pressure→height inversion (negative below the surface), evaluated at
  // the PAIR midpoint pressure and latitude. r34 covers the p = 0
  // branch; this runs the corrected one on the same −129° corpus (no
  // wrap — unwrap identity, isolating the depth term) with casts at
  // p = (event_id mod 50)·40 dbar, and prices the corrected velocity
  // u = Δψ/(ds·f). z_from_p is the [[graft.functions.Seawater]]
  // dual-engine scalar (Horner enthalpy_SSO_0 + Somigliana gravity), so
  // the whole row is map-side math under ONE keyed window exchange.
  private val r37 = Q(
    (s, dir) => {
      val lat = lit(48.0) + (col("user_id") % 100).cast("double") / 50.0 +
        (col("event_id") % 17).cast("double") / 1000.0
      val lon = lit(-129.0) + (col("user_id") % 37).cast("double") / 25.0 +
        (col("event_id") % 23).cast("double") / 1000.0
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val e = t(s, dir, "events")
        .withColumn("lat", lat).withColumn("lon", lon)
        .withColumn("pres", (col("event_id") % 50).cast("double") * 40.0)
        .withColumn("strf", col("value"))
        .withColumn("plat", lag(col("lat"), 1).over(w))
        .withColumn("plon", lag(col("lon"), 1).over(w))
        .withColumn("ppres", lag(col("pres"), 1).over(w))
        .withColumn("pstrf", lag(col("strf"), 1).over(w))
      val dphi = radians(col("lat")) - radians(col("plat"))
      val dlam = radians(col("lon")) - radians(col("plon"))
      val a = sin(dphi / 2) * sin(dphi / 2) +
        cos(radians(col("plat"))) * cos(radians(col("lat"))) *
          sin(dlam / 2) * sin(dlam / 2)
      val angles = lit(2.0) * atan2(sqrt(a), sqrt(lit(1.0) - a))
      val midLat = (col("plat") + col("lat")) * 0.5
      val midLon = (col("plon") + col("lon")) * 0.5
      val pMid = (col("ppres") + col("pres")) * 0.5
      val zMid = graft.functions.Seawater.zFromPTeos10(pMid, midLat)
      val ds = (lit(6371e3) + zMid) * angles
      val fCor = lit(2.0) * lit(7.292115e-5) * sin(radians(midLat))
      e.withColumn("ds", ds)
        .select(col("user_id"), col("event_id"),
          Det.qz(midLat, 8).as("mid_lat"), Det.qz(midLon, 8).as("mid_lon"),
          Det.qz(zMid, 6).as("z_mid"), Det.qz(col("ds"), 6).as("ds_m"),
          when(col("ds") > 0.0,
            Det.qz((col("strf") - col("pstrf")) / (col("ds") * fCor), 6)).as("vel"))
        .orderBy(col("user_id"), col("event_id"), col("vel"))
    },
    Some {
      val lat = "48.0 + CAST(user_id % 100 AS DOUBLE) / 50.0 + CAST(event_id % 17 AS DOUBLE) / 1000.0"
      val lon = "-129.0 + CAST(user_id % 37 AS DOUBLE) / 25.0 + CAST(event_id % 23 AS DOUBLE) / 1000.0"
      val aExpr = "sin((radians(lat) - radians(plat)) / 2) * sin((radians(lat) - radians(plat)) / 2) + " +
        "cos(radians(plat)) * cos(radians(lat)) * " +
        "sin((radians(lon) - radians(plon)) / 2) * sin((radians(lon) - radians(plon)) / 2)"
      val zMid = graft.functions.Seawater.zFromPTeos10Sql(
        "(ppres + pres) * 0.5", "(plat + lat) * 0.5")
      s"""
      WITH pos AS (
        SELECT user_id, ts, event_id, ($lat) AS lat, ($lon) AS lon,
               CAST(event_id % 50 AS DOUBLE) * 40.0 AS pres, value AS strf
        FROM events),
      pairs AS (
        SELECT user_id, event_id, lat, lon, pres, strf,
               lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
               lag(pres) OVER w AS ppres, lag(strf) OVER w AS pstrf
        FROM pos
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      legs AS (
        SELECT user_id, event_id, lat, lon, plat, plon, pstrf, strf,
               ($zMid) AS z_mid,
               (6371e3 + ($zMid)) *
                 (2.0 * atan2(sqrt($aExpr), sqrt(1.0 - ($aExpr)))) AS ds
        FROM pairs)
      SELECT user_id, event_id,
             ${Det.qzSql("(plat + lat) * 0.5", 8)} AS mid_lat,
             ${Det.qzSql("(plon + lon) * 0.5", 8)} AS mid_lon,
             ${Det.qzSql("z_mid", 6)} AS z_mid,
             ${Det.qzSql("ds", 6)} AS ds_m,
             CASE WHEN ds > 0.0 THEN ${Det.qzSql(
        "(strf - pstrf) / (ds * (2.0 * 7.292115e-5 * sin(radians((plat + lat) * 0.5))))", 6)}
             END AS vel
      FROM legs
      ORDER BY user_id, event_id, vel"""
    })

  // ---- r38_dyn_height_ref: full-fidelity referenced dynamic height -------
  // The p_ref / max_dp machinery r21's per-level integral omits
  // (GSW-Python geostrophy.py:17-102 + gsw_geo_strf_dyn_height_1): Ψ
  // referenced to p_ref = 5 dbar with the surface-extension branch (casts
  // starting below 5 dbar extend upward on a max_dp grid carrying the
  // shallowest SA/CT) and the max_dp = 10 regridding branch (profiles
  // with a coarse gap, or no sample exactly at p_ref, are refined with
  // uniform candidates + p_ref and linear SA/CT interpolation) — see
  // operators/DynHeight.scala for the full plan. Cast synthesis walks all
  // the reference's branches: l_orderkey%3 picks the start pressure (2 →
  // p_ref inserted mid-profile; 32 → surface extension; 5 → bottle
  // exactly at p_ref), a 27-dbar gap opens at level 4 (→ refined path for
  // casts of ≥ 4 levels, fast path below), and 1-level casts replay the
  // reference's skip-to-NaN as NULL. r34/r36 consume this streamfunction.
  private val r38 = Q(
    (s, dir) => {
      val p0 = when(col("l_orderkey") % 3 === 0, 2.0)
        .when(col("l_orderkey") % 3 === 1, 32.0).otherwise(5.0)
      val levels = t(s, dir, "lineitem").select(
        col("l_orderkey").as("pid"), col("l_linenumber").as("lvl"),
        (p0 + (col("l_linenumber") - 1).cast("double") * 6.0 +
          when(col("l_linenumber") >= 4, 21.0).otherwise(0.0)).as("p"),
        (lit(30.0) + col("l_discount") * 100.0).as("sa"),
        (col("l_quantity") % 30.0).as("ct"))
      graft.operators.DynHeight.perProfile(levels, pRef = 5.0, maxDp = 10.0)
        .select(col("pid").as("l_orderkey"), col("lvl").as("l_linenumber"),
          col("dyn_height"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val lvlSql = """
        SELECT l_orderkey AS pid, l_linenumber AS lvl,
               (CASE WHEN l_orderkey % 3 = 0 THEN 2.0
                     WHEN l_orderkey % 3 = 1 THEN 32.0 ELSE 5.0 END)
                 + CAST(l_linenumber - 1 AS DOUBLE) * 6.0
                 + CASE WHEN l_linenumber >= 4 THEN 21.0 ELSE 0.0 END AS p,
               30.0 + l_discount * 100.0 AS sa,
               l_quantity % 30.0 AS ct
        FROM lineitem"""
      s"""
      SELECT pid AS l_orderkey, lvl AS l_linenumber, dyn_height
      FROM (${graft.operators.DynHeight.perProfileSql(lvlSql, 5.0, 10.0)})
      ORDER BY l_orderkey, l_linenumber"""
    })

  // ---- r39_dyn_height_pchip: the reference's DEFAULT interpolation -------
  // geo_strf_dyn_height defaults to interp_method='pchip'
  // (geostrophy.py:18); r38 pins the 'linear' branch, this row the
  // Fritsch–Carlson monotone-cubic one (gsw_util_pchip_interp,
  // toolbox.c:11147-11306) on the same cast synthesis — per-knot
  // derivatives from lag/lead windows, Hermite evaluation at refined
  // grid points, all still join-free and pid-keyed. The DuckDB twin
  // replays the identical derivative/Hermite arithmetic; C check values
  // for the pchip path are pinned in Round10Spec.
  private val r39 = Q(
    (s, dir) => {
      val p0 = when(col("l_orderkey") % 3 === 0, 2.0)
        .when(col("l_orderkey") % 3 === 1, 32.0).otherwise(5.0)
      val levels = t(s, dir, "lineitem").select(
        col("l_orderkey").as("pid"), col("l_linenumber").as("lvl"),
        (p0 + (col("l_linenumber") - 1).cast("double") * 6.0 +
          when(col("l_linenumber") >= 4, 21.0).otherwise(0.0)).as("p"),
        (lit(30.0) + col("l_discount") * 100.0).as("sa"),
        (col("l_quantity") % 30.0).as("ct"))
      graft.operators.DynHeight
        .perProfile(levels, pRef = 5.0, maxDp = 10.0, interpMethod = "pchip")
        .select(col("pid").as("l_orderkey"), col("lvl").as("l_linenumber"),
          col("dyn_height"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val lvlSql = """
        SELECT l_orderkey AS pid, l_linenumber AS lvl,
               (CASE WHEN l_orderkey % 3 = 0 THEN 2.0
                     WHEN l_orderkey % 3 = 1 THEN 32.0 ELSE 5.0 END)
                 + CAST(l_linenumber - 1 AS DOUBLE) * 6.0
                 + CASE WHEN l_linenumber >= 4 THEN 21.0 ELSE 0.0 END AS p,
               30.0 + l_discount * 100.0 AS sa,
               l_quantity % 30.0 AS ct
        FROM lineitem"""
      s"""
      SELECT pid AS l_orderkey, lvl AS l_linenumber, dyn_height
      FROM (${graft.operators.DynHeight.perProfileSql(lvlSql, 5.0, 10.0,
        interpMethod = "pchip")})
      ORDER BY l_orderkey, l_linenumber"""
    })

  val entries: Seq[(String, Q)] = Seq(
    "r38_dyn_height_ref" -> r38,
    "r39_dyn_height_pchip" -> r39,
    "r31_spiciness" -> r31,
    "r32_nsquared" -> r32,
    "r33_turner" -> r33,
    "r34_geostrophic" -> r34,
    "r35_ipv_ratio" -> r35,
    "r36_unwrap_section" -> r36,
    "r37_depth_distance" -> r37,
    "r1_tz_parse" -> r1,
    "r2_time_expand" -> r2,
    "r3_dms_coords" -> r3,
    "r4_pad_null" -> r4,
    "r5_channel_classify" -> r5,
    "r6_bodc_code" -> r6,
    "r7_unit_convert" -> r7,
    "r8_geo_area" -> r8,
    "r9_profile_id" -> r9,
    "r10_epoch_time" -> r10,
    "r11_salinity" -> r11,
    "r12_density" -> r12,
    "r13_sound_speed" -> r13,
    "r14_potential_temp" -> r14,
    "r15_o2_solubility" -> r15,
    "r16_freezing_point" -> r16,
    "r17_mixed_layer" -> r17,
    "r20_buoyancy" -> r20,
    "r18_conservative_temp" -> r18,
    "r19_percent_sat" -> r19,
    "r21_dynamic_height" -> r21,
    "r22_current_uv" -> r22,
    "r23_track_distance" -> r23,
    "p2_ocean_products" -> p2,
    "r25_bottle_matchup" -> r25,
    "r26_abs_salinity" -> r26,
    "r27_insitu_density" -> r27,
    "r28_alpha_beta" -> r28,
    "r29_enthalpy" -> r29,
    "r30_sound_speed_exact" -> r30)
}
