package graft

import org.apache.spark.sql.functions._

/** Round-9 additions: the TEOS-10 z_from_p pressure→height inversion, the
  * longitude-unwrap branch of geostrophic_velocity (antimeridian
  * sections), and the p ≠ 0 depth-corrected pair distance.
  */
class Round9Spec extends SparkSpec {

  test("z_from_p matches the reference C formula on check values") {
    import graft.functions.Seawater
    // (p dbar, lat deg) → z m, replayed through the C formula
    // (gsw_oceanographic_toolbox.c:11399-11417) in double precision
    val cases = Seq(
      (10.0, 4.0, -9.944583446945298),
      (50.0, 4.0, -49.71808970125498),
      (250.0, 4.0, -248.47005765485892),
      (1000.0, 4.0, -992.0919060719987),
      (5000.0, 60.0, -4895.713388014601),
      (2000.0, 48.5, -1973.692954038537),
      (0.0, 30.0, 0.0))
    val rows = cases.zipWithIndex.map { case ((p, lat, _), i) => (i, p, lat) }
    val df = spark.createDataFrame(rows).toDF("i", "p", "lat")
      .select(col("i"), Seawater.zFromPTeos10(col("p"), col("lat")).as("z"))
      .orderBy("i").collect()
    cases.zip(df).foreach { case ((p, lat, want), r) =>
      val got = r.getDouble(1)
      assert(math.abs(got - want) <= math.abs(want) * 1e-12 + 1e-12,
        s"z_from_p($p, $lat): got $got, want $want")
    }
  }

  test("r36: unwrap keeps antimeridian sections continuous and monotone") {
    // The synthetic section walks west at 0.8°±0.12° per station and is
    // stored wrapped to [−180, 180), crossing ±180 mid-section. Without
    // unwrap the pair midpoints near the crossing collapse toward 0
    // (|naive mid| ≈ 2° for a 179.6/−179.7 pair) and the midpoint
    // sequence jumps by ~360. After unwrap the mid_lon sequence must
    // advance monotonically in small steps within every section.
    // section order is the operator's window order (ts, event_id) — NOT
    // event_id alone, which the data layout happens to correlate with
    // today but nothing guarantees
    val tsOf = Tables.load(spark, sfDir, "events")
      .select("user_id", "event_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getTimestamp(2).getTime)
      .toMap
    val out = SparkEntry.queries("r36_unwrap_section")(spark, sfDir)
      .select("user_id", "event_id", "mid_lon")
      .na.drop(Seq("mid_lon"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    assert(out.nonEmpty)
    out.foreach { case (uid, rows) =>
      val seq = rows.sortBy(t => (tsOf((t._1, t._2)), t._2)).map(_._3)
      assert(seq.length > 10, s"section $uid too short to cross the wrap")
      val steps = seq.sliding(2).map { case Array(a, b) => b - a }.toSeq
      assert(steps.forall(st => st > 0.0 && st < 2.0),
        s"section $uid has a non-monotone or jumped mid_lon step: " +
          steps.filterNot(st => st > 0.0 && st < 2.0).take(3).mkString(","))
    }
    // and the walk really does cross the antimeridian region
    val allMid = out.values.flatten.map(_._3)
    assert(allMid.exists(m => m > 179.0 || m < -179.0) ||
      allMid.exists(m => math.abs(m) > 180.0),
      "no section reached the antimeridian — the wrap path was not exercised")
  }

  test("unwrap window form matches the sequential reference algorithm bit-for-bit") {
    // The r36 pipeline computes unwrap as windows (diff → jump flags →
    // running sum → mean-centering). The reference's unwrap
    // (gsw/geostrophy.py:105-148) is a sequential scan: w = ∓1 where
    // |diff| > 180, x += cumsum(w)·360, then x −= 360·round(mean/360).
    // Replay that scan directly in Scala over the same synthesized
    // sections and demand bit-identical doubles (same ops in the same
    // order; round replaced by the engines' floor(x+0.5) on both sides).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wcum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val wall = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    val sectioned = Tables.load(spark, sfDir, "events")
      .withColumn("seq", row_number().over(w))
      .withColumn("walk", lit(175.0) + (col("seq") - 1).cast("double") * 0.8 +
        (col("event_id") % 13).cast("double") / 100.0)
      .withColumn("lon_raw", ((col("walk") + 180.0) % 360.0) - 180.0)
      .withColumn("ld", col("lon_raw") - lag(col("lon_raw"), 1).over(w))
      .withColumn("wjump",
        when(col("ld") > 180.0, -1).when(col("ld") < -180.0, 1).otherwise(0))
      .withColumn("lon_u", col("lon_raw") + sum(col("wjump")).over(wcum) * 360.0)
      .withColumn("lon_c",
        col("lon_u") - lit(360.0) *
          floor(Det.qz(avg(col("lon_u")).over(wall), 6) / 360.0 + 0.5))
      .select("user_id", "seq", "lon_raw", "lon_c")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(sectioned.nonEmpty)
    sectioned.foreach { case (uid, rows) =>
      val ordered = rows.sortBy(_._2)
      val raw = ordered.map(_._3)
      // sequential reference scan
      val x = raw.toArray
      var cum = 0
      for (i <- 1 until x.length) {
        val ld = raw(i) - raw(i - 1)
        if (ld > 180.0) cum -= 1 else if (ld < -180.0) cum += 1
        x(i) = raw(i) + cum * 360.0
      }
      val mean = x.sum / x.length
      // mirror the operator: k decides from the 1e-6°-quantized mean so
      // cross-engine summation-order ulps can't flip the 360° shift
      val qmean = math.floor(mean * 1e6 + 0.5) / 1e6
      val k = math.floor(qmean / 360.0 + 0.5)
      val centered = x.map(_ - 360.0 * k)
      ordered.map(_._4).zip(centered).zipWithIndex.foreach { case ((got, want), i) =>
        // the mean's summation order differs between engines, so the
        // centering constant k must match EXACTLY (it's an integer
        // multiple decision) and then the values are bit-identical
        assert(got == want, s"section $uid pos $i: window $got != sequential $want")
      }
    }
  }

  test("t31: pack indices tile each stream contiguously") {
    // Concat-and-chop invariants, checkable from the output alone: the
    // next doc starts exactly where this one ended — offset advances by
    // toks mod B, and the pack index advances by one exactly when the
    // chop lands on a pack boundary (offset wraps to 0).
    val B = 2048L
    // streams are the composite (lang, pack_shard) key since round 10
    val rows = SparkEntry.queries("t31_sequence_pack")(spark, sfDir)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (stream, ds) =>
      val seq = ds.sortBy(_._2)
      seq.foreach { case (_, id, toks, first, last, n, off) =>
        assert(toks > 0 && off >= 0 && off < B, s"$stream/$id bad off/toks")
        assert(n == last - first + 1 && n >= 1, s"$stream/$id span mismatch")
        assert(n == (off + toks + B - 1) / B, s"$stream/$id n_packs != ceil((off+toks)/B)")
      }
      seq.sliding(2).foreach {
        case Array((_, _, toks, _, last, _, off), (_, id2, _, first2, _, _, off2)) =>
          assert(off2 == (off + toks) % B, s"$stream/$id2 offset discontinuity")
          val expectedFirst = if (off2 == 0) last + 1 else last
          assert(first2 == expectedFirst, s"$stream/$id2 pack index gap")
        case _ => ()
      }
    }
  }

  test("t32: shard assignment is balanced and deterministic") {
    val rows = SparkEntry.queries("t32_shard_shuffle")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val n = rows.length
    assert(n > 0)
    // every doc exactly once
    assert(rows.map(_._3).distinct.length == n, "a doc landed in two shards")
    // positions are 1..k contiguous per shard
    rows.groupBy(_._1).foreach { case (shard, ds) =>
      assert(ds.map(_._2).sorted.toSeq == (1 to ds.length),
        s"shard $shard has position gaps")
    }
    // uniform hash ⇒ no severe skew (loose bound: ≤ 4× the ideal share)
    val maxShard = rows.groupBy(_._1).values.map(_.length).max
    assert(maxShard <= math.max(4.0 * n / 64, 8.0),
      s"shard skew: max $maxShard of $n")
    // deterministic: a second evaluation is byte-identical
    val again = SparkEntry.queries("t32_shard_shuffle")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(rows.toSeq == again.toSeq, "shuffle is not reproducible")
  }

  test("loader: all three supported ts vintages yield identical instants") {
    val dir = tmp("graft_vintages")
    val base = spark.range(5).selectExpr("id AS event_id",
      "timestamp_micros(1704067200000000 + id * 987654321) AS ts",
      "id AS user_id", "'a' AS event_type", "CAST(id AS DOUBLE) AS value",
      "'{}' AS props")
    val want = base.selectExpr("event_id", "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def loadedMicros(d: String): Map[Long, Long] =
      Tables.load(spark, d, "events").selectExpr("event_id", "unix_micros(ts) AS us")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // nano INT64 vintage: a raw long column (truncating micros→nanos→micros
    // round-trips exactly, matching the integer-div contract)
    base.selectExpr("event_id", "unix_micros(ts) * 1000 AS ts", "user_id",
      "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/nano/events.parquet")
    assert(loadedMicros(s"$dir/nano") == want, "nano vintage mismatch")
    // timestamp vintage as written by this Spark session (UTC-flagged)
    base.write.mode("overwrite").parquet(s"$dir/us/events.parquet")
    assert(loadedMicros(s"$dir/us") == want, "timestamp[us] vintage mismatch")
    // NTZ fallback branch: force NTZ inference back on so the same file
    // surfaces as TIMESTAMP_NTZ, exercising the guarded cast path
    base.selectExpr("event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
      "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/ntz/events.parquet")
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      assert(loadedMicros(s"$dir/ntz") == want, "NTZ fallback mismatch")
    } finally spark.conf.set(key, saved)
  }

  test("loader: a third ts physical vintage fails loudly, not as null casts") {
    val dir = tmp("graft_badvintage")
    spark.range(3).selectExpr("id AS event_id", "CAST(id AS STRING) AS ts",
      "id AS user_id", "'a' AS event_type", "CAST(id AS DOUBLE) AS value",
      "'{}' AS props").write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "events"))
    assert(e.getMessage.contains("unsupported physical type"), e.getMessage)
  }

  test("r37: depth correction shrinks every leg by the z/R factor, never more") {
    // z_from_p is negative below the surface and |z| < 2000 m for this
    // corpus (p ≤ 1960 dbar), so ds_corrected/ds_p0 = (R+z)/R must sit
    // in (1 − 2100/6371e3, 1]: strictly less than 1 when p_mid > 0,
    // never smaller than the deepest-possible correction.
    val r37 = SparkEntry.queries("r37_depth_distance")(spark, sfDir)
      .select("user_id", "event_id", "z_mid", "ds_m")
      .na.drop(Seq("z_mid", "ds_m"))
      .collect().map(r => (r.getDouble(2), r.getDouble(3)))
    assert(r37.nonEmpty)
    r37.foreach { case (z, ds) =>
      assert(z <= 0.0 && z > -2100.0, s"z_mid out of range: $z")
      assert(ds >= 0.0, s"negative distance: $ds")
    }
    assert(r37.exists(_._1 < -100.0), "no deep pair — correction not exercised")
  }
}
