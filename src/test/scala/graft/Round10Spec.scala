package graft

import org.apache.spark.sql.functions._

/** Round-10 pins: the composite (lang, pack_shard) packing stream key
  * that replaces the bounded-cardinality bare-lang key in t19/t31.
  */
class Round10Spec extends SparkSpec {

  /** Pure-Scala replay of the salted portable shard hash the packing
    * queries use (Text.md5Long("pack:" || doc_id) % 8): first 15 hex
    * chars of the md5 digest parsed base-16 — 60 bits, never negative.
    */
  private def expectedShard(docId: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"pack:$docId".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16) % 8L
  }

  test("t31: packing streams outnumber languages and shards match the salted hash") {
    // the scale fix this round exists for: window parallelism must be
    // bounded by langs × shards, not by the language count
    val rows = SparkEntry.queries("t31_sequence_pack")(spark, sfDir)
      .select("lang", "pack_shard", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val langs = rows.map(_._1).distinct.length
    val streams = rows.map(t => (t._1, t._2)).distinct.length
    assert(streams > langs,
      s"composite key added no parallelism: $streams streams vs $langs langs")
    rows.foreach { case (lang, shard, id) =>
      assert(shard == expectedShard(id),
        s"$lang/$id shard $shard != salted-hash ${expectedShard(id)}")
    }
    // uniform hash ⇒ no stream hoards its language (loose 4× bound on
    // the tiny fixture; exact balance is t32's territory)
    rows.groupBy(_._1).foreach { case (lang, ds) =>
      val perStream = ds.groupBy(_._2).values.map(_.size)
      assert(perStream.max <= math.max(4.0 * ds.size / 8, 8.0),
        s"$lang stream skew: ${perStream.max} of ${ds.size}")
    }
  }

  test("t31 and t19 agree on the stream assignment and its totals") {
    // both packing ops must read the same stream universe: every
    // (lang, pack_shard, total tokens over the stream) visible to the
    // chunk rollup must be derivable from the per-doc chop output
    val t31 = SparkEntry.queries("t31_sequence_pack")(spark, sfDir)
      .groupBy("lang", "pack_shard").agg(sum("toks").as("toks"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val t19 = SparkEntry.queries("t19_context_pack")(spark, sfDir)
      .groupBy("lang", "pack_shard").agg(sum("chunk_toks").as("toks"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t31.nonEmpty && t19.nonEmpty)
    // t19 counts whitespace tokens, t31 BPE-ish tokens — totals differ,
    // but the stream key sets must coincide (same salted hash, same mod)
    assert(t31.keySet == t19.keySet,
      s"stream universes diverge: ${(t31.keySet diff t19.keySet).take(3)} / " +
        s"${(t19.keySet diff t31.keySet).take(3)}")
  }

  test("svan_standard matches the reference C check values") {
    import graft.functions.Seawater
    val cases = Seq(
      (34.7118, 28.8099, 10.0, 6.01051894897415735e-6),
      (34.8472, 10.2262, 250.0, 1.42190453761834902e-6),
      (34.7324, 4.3236, 1000.0, 7.63833895777387382e-7))
    val rows = cases.zipWithIndex.map { case ((sa, ct, p, _), i) => (i, sa, ct, p) }
    val got = spark.createDataFrame(rows).toDF("i", "sa", "ct", "p")
      .select(col("i"), Seawater.svanStandard(col("sa"), col("ct"), col("p")).as("v"))
      .orderBy("i").collect().map(_.getDouble(1))
    cases.zip(got).foreach { case ((sa, ct, p, want), v) =>
      assert(math.abs(v - want) <= math.abs(want) * 1e-13,
        s"svan($sa, $ct, $p): got $v, want $want")
    }
  }

  test("r38 operator matches the reference geo_strf_dyn_height path on all branches") {
    // Check values computed through the reference's own code path: the
    // geostrophy.py wrapper (surface extension + skip semantics) replayed
    // over gsw_geo_strf_dyn_height_1 (linear interp) compiled from the
    // bundled C, p_ref = 5 dbar, max_dp = 10 dbar.
    //   A: starts at 32 dbar (3-point surface extension) + a 27-dbar gap
    //      at level 4 (refined grid, candidates + interpolation)
    //   B: starts at 2 dbar, no bottle at p_ref (refined: p_ref inserted)
    //   C: bottle exactly at p_ref, all gaps ≤ max_dp (C fast path)
    //   D: single level (skip → NULL)
    val mk = Seq(
      (1L, Seq(32.0, 38.0, 44.0, 71.0, 77.0, 83.0, 89.0).zipWithIndex.map {
        case (p, i) => (p, 33.5 + 0.3 * i, 18.0 - 1.5 * i) }),
      (2L, Seq((2.0, 34.1, 12.0), (8.0, 34.4, 11.0), (14.0, 34.9, 9.5))),
      (3L, Seq((5.0, 35.0, 20.0), (11.0, 35.1, 19.0), (17.0, 35.3, 17.5),
        (23.0, 35.2, 15.0), (29.0, 35.5, 14.0))),
      (4L, Seq((8.0, 34.0, 10.0))))
    val rows = mk.flatMap { case (pid, lv) =>
      lv.zipWithIndex.map { case ((p, sa, ct), i) => (pid, i + 1, p, sa, ct) } }
    val levels = spark.createDataFrame(rows).toDF("pid", "lvl", "p", "sa", "ct")
    val got = graft.operators.DynHeight
      .perProfile(levels, pRef = 5.0, maxDp = 10.0, outScale = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .map { case (pid, lvl, v) => (pid, lvl) -> v }.toMap
    val want: Map[(Long, Int), Option[Double]] = Map(
      (1L, 1) -> Some(-1.05059311990585891), (1L, 2) -> Some(-1.26768083725122294),
      (1L, 3) -> Some(-1.45218551061485313), (1L, 4) -> Some(-2.14083447606084309),
      (1L, 5) -> Some(-2.26357261263550846), (1L, 6) -> Some(-2.35699288395934170),
      (1L, 7) -> Some(-2.42211856956648175),
      (2L, 1) -> Some(6.35016716155382410e-2), (2L, 2) -> Some(-5.76106851988970048e-2),
      (2L, 3) -> Some(-1.48577403707329914e-1),
      (3L, 1) -> Some(0.0), (3L, 2) -> Some(-0.188123141954480821),
      (3L, 3) -> Some(-0.351867134527538927), (3L, 4) -> Some(-0.486439248869961094),
      (3L, 5) -> Some(-0.594126950012743182),
      (4L, 1) -> None)
    assert(got.keySet == want.keySet, s"row universe: ${got.keySet} vs ${want.keySet}")
    want.foreach { case (k, w) =>
      (got(k), w) match {
        case (Some(g), Some(v)) =>
          assert(math.abs(g - v) <= 1e-9, s"$k: got $g, want $v")
        case (None, None) => ()
        case other => fail(s"$k: null mismatch $other")
      }
    }
  }

  // ---- d18 hdbscanLite: planted clusters of DIFFERENT densities --------
  // One dense cluster (intra-cos ~0.95), one sparse (~0.55) at
  // cross-center cos 0.6 — close enough that an ε loose enough for the
  // sparse cluster's interior also spans the gap BETWEEN clusters — plus
  // pure noise. The point of the operator: both clusters recovered, each
  // at its own λ level, where any single global ε provably loses one
  // (tight ⇒ sparse dissolves; loose ⇒ the two merge).
  private lazy val densityFixture = {
    val r = new scala.util.Random(7)
    val cA = Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
    val cB = Array.tabulate(64)(i =>
      if (i == 0) 0.6 else if (i == 1) 0.8 else 0.0)
    def around(center: Array[Double], sigma: Double): Array[Float] = {
      val v = Array.tabulate(64)(i => center(i) + sigma * r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val dense = (0L until 30L).map(i => (i, around(cA, 0.03)))
    val sparse = (100L until 130L).map(i => (i, around(cB, 0.12)))
    val noise = (200L until 240L).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i, v.map(x => (x / n).toFloat))
    }
    import spark.implicits._
    (dense ++ sparse ++ noise).toDF("vec_id", "embedding")
  }

  test("d18: dense and sparse planted clusters resolve at their own density levels") {
    val out = graft.operators.Dedup.hdbscanLite(densityFixture,
      "vec_id", "embedding", simFloor = 0.4, minPts = 3,
      levels = Seq(0.85, 0.7, 0.45), minClusterSize = 8)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(4)) None else Some(r.getInt(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        r.getString(6))).toSeq
    def majority(ids: Range) = {
      val labs = out.filter(t => ids.contains(t._1.toInt))
        .collect { case (_, Some(lvl), Some(c), _) => (lvl, c) }
      val (lab, n) = labs.groupBy(identity).view.mapValues(_.size)
        .maxByOption(_._2).getOrElse(((-1, -1L), 0))
      (lab, n.toDouble / ids.size)
    }
    val ((denseLvl, denseLab), denseCov) = majority(0 until 30)
    val ((sparseLvl, sparseLab), sparseCov) = majority(100 until 130)
    assert(denseCov >= 0.9, s"dense cluster recall $denseCov")
    assert(sparseCov >= 0.7, s"sparse cluster recall $sparseCov")
    assert(denseLvl == 0, s"dense cluster selected at level $denseLvl, not the top λ")
    assert(sparseLvl > denseLvl, s"sparse cluster level $sparseLvl !> dense $denseLvl")
    assert((denseLvl, denseLab) != (sparseLvl, sparseLab), "clusters collided")
    val noiseRoles = out.filter(_._1 >= 200L)
    assert(noiseRoles.count(_._4 == "noise").toDouble / noiseRoles.size >= 0.8,
      "random points were clustered")
  }

  test("d18: any single-ε DBSCAN loses one of the two planted clusters") {
    def roles(minCos: Double): Map[Long, (String, Any)] =
      graft.operators.Dedup.dbscan(densityFixture, "vec_id", "embedding",
        minCosine = minCos, minPts = 3)
        .collect().map(r => r.getLong(0) -> (r.getString(2), r.get(3))).toMap
    // ε tight enough to keep the dense cluster pure → sparse dissolves
    val tight = roles(0.85)
    assert((100L until 130L).count(i => tight(i)._1 == "noise") >= 24,
      "sparse cluster unexpectedly survived the tight ε")
    assert((0L until 30L).count(i => tight(i)._1 == "core") >= 27)
    // ε loose enough for the sparse cluster's interior also spans the
    // 0.6-cos gap between the clusters → one merged blob. This is the
    // failure hdbscanLite's level selection avoids (previous test: same
    // data, clusters kept apart at their own levels).
    val loose = roles(0.45)
    val denseLab = (0L until 30L).flatMap(i => Option(loose(i)._2)).toSet
    val sparseLab = (100L until 130L).flatMap(i => Option(loose(i)._2)).toSet
    assert(denseLab.size == 1 && sparseLab.size == 1,
      s"planted clusters fragmented: $denseLab / $sparseLab")
    assert(denseLab == sparseLab,
      s"expected the loose ε to merge the planted clusters: $denseLab vs $sparseLab")
  }

  test("d18: registry row is total over its subset and repeatable") {
    val q = SparkEntry.queries("d18_hdbscan")
    val a = q(spark, sfDir).collect()
    val b = q(spark, sfDir).collect()
    assert(a.nonEmpty, "d18 returned no rows")
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq,
      "d18 is not deterministic")
    val nPoints = graft.Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 500).count()
    assert(a.length == nPoints, s"${a.length} rows for $nPoints points")
  }

  test("r39: pchip interpolation matches the reference's DEFAULT dyn-height path") {
    // Same fixture as the r38 test, same reference replay (geostrophy.py
    // wrapper over the bundled C's gsw_geo_strf_dyn_height_1), but with
    // interp method 2 = pchip — the geo_strf_dyn_height DEFAULT
    // (geostrophy.py:18). Cast A exercises Fritsch–Carlson derivatives
    // across the extension/profile junction (slope sign change ⇒ zero
    // derivative knots) and the refined 27-dbar gap; B the p_ref
    // insertion; C the no-interp fast path (values bit-identical to the
    // linear branch by construction); D the skip.
    val mk = Seq(
      (1L, Seq(32.0, 38.0, 44.0, 71.0, 77.0, 83.0, 89.0).zipWithIndex.map {
        case (p, i) => (p, 33.5 + 0.3 * i, 18.0 - 1.5 * i) }),
      (2L, Seq((2.0, 34.1, 12.0), (8.0, 34.4, 11.0), (14.0, 34.9, 9.5))),
      (3L, Seq((5.0, 35.0, 20.0), (11.0, 35.1, 19.0), (17.0, 35.3, 17.5),
        (23.0, 35.2, 15.0), (29.0, 35.5, 14.0))),
      (4L, Seq((8.0, 34.0, 10.0))))
    val rows = mk.flatMap { case (pid, lv) =>
      lv.zipWithIndex.map { case ((p, sa, ct), i) => (pid, i + 1, p, sa, ct) } }
    val levels = spark.createDataFrame(rows).toDF("pid", "lvl", "p", "sa", "ct")
    val got = graft.operators.DynHeight
      .perProfile(levels, pRef = 5.0, maxDp = 10.0, outScale = 12,
        interpMethod = "pchip")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .map { case (pid, lvl, v) => (pid, lvl) -> v }.toMap
    val want: Map[(Long, Int), Option[Double]] = Map(
      (1L, 1) -> Some(-1.05059311990585891), (1L, 2) -> Some(-1.26976635096474011),
      (1L, 3) -> Some(-1.45427102432837030), (1L, 4) -> Some(-2.14351868987531979),
      (1L, 5) -> Some(-2.26689836310020798), (1L, 6) -> Some(-2.36031863442404122),
      (1L, 7) -> Some(-2.42544432003118127),
      (2L, 1) -> Some(6.38893502811192365e-2), (2L, 2) -> Some(-5.79983638644780142e-2),
      (2L, 3) -> Some(-1.49782877475358345e-1),
      (3L, 1) -> Some(0.0), (3L, 2) -> Some(-0.188123141954480821),
      (3L, 3) -> Some(-0.351867134527538927), (3L, 4) -> Some(-0.486439248869961094),
      (3L, 5) -> Some(-0.594126950012743182),
      (4L, 1) -> None)
    assert(got.keySet == want.keySet, s"row universe: ${got.keySet} vs ${want.keySet}")
    want.foreach { case (k, w) =>
      (got(k), w) match {
        case (Some(g), Some(v)) =>
          assert(math.abs(g - v) <= 1e-9, s"$k: got $g, want $v")
        case (None, None) => ()
        case other => fail(s"$k: null mismatch $other")
      }
    }
  }

  test("t19: chunk ids tile each stream contiguously from zero") {
    val rows = SparkEntry.queries("t19_context_pack")(spark, sfDir)
      .select("lang", "pack_shard", "chunk_id", "n_docs", "chunk_toks")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (stream, ds) =>
      val ids = ds.map(_._2).sorted
      assert(ids.head == 0L, s"$stream first chunk is ${ids.head}, not 0")
      assert(ids.toSeq == (0L until ids.length).toSeq,
        s"$stream chunk ids have gaps")
      ds.foreach { case (_, cid, nDocs, toks) =>
        assert(nDocs >= 1 && toks >= nDocs, s"$stream/$cid degenerate chunk")
      }
    }
  }

  test("d19: repeated shingle positions merge into maximal token runs") {
    // planted corpus, k=5: cross-doc shared spans (100/101), a clean doc
    // (102, must be absent), a within-doc repeat two islands apart (103),
    // and two repeated 5-gram blocks that TOUCH (106: next start exactly
    // prev+k must merge into one maximal 10-token run, not two)
    import spark.implicits._
    val docs = Seq(
      (100L, "a b c d e f g h X p q r s t u v w"),
      (101L, "z1 z2 a b c d e f g h z3 z4 z5 p q r s t u v w"),
      (102L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
      (103L, "m1 m2 m3 m4 m5 q1 q2 m1 m2 m3 m4 m5"),
      (106L, "r1 r2 r3 r4 r5 s1 s2 s3 s4 s5"),
      (107L, "r1 r2 r3 r4 r5 x9 y9"),
      (108L, "w9 s1 s2 s3 s4 s5"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = tmp("d19fix")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("d19_exact_substr")(spark, dir)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out.keySet == Set(100L, 101L, 103L, 106L, 107L, 108L),
      s"row universe (102 must be absent): ${out.keySet}")
    // (n_runs, rep_tokens, longest_run, rep_frac)
    assert(out(100L) == ((2L, 16L, 8L, 0.941176)), s"100: ${out(100L)}")
    assert(out(101L) == ((2L, 16L, 8L, 0.761905)), s"101: ${out(101L)}")
    assert(out(103L) == ((2L, 10L, 5L, 0.833333)), s"103: ${out(103L)}")
    assert(out(106L) == ((1L, 10L, 10L, 1.0)), s"106: ${out(106L)}")
    assert(out(107L) == ((1L, 5L, 5L, 0.714286)), s"107: ${out(107L)}")
    assert(out(108L) == ((1L, 5L, 5L, 0.833333)), s"108: ${out(108L)}")
  }

  test("d20: excision rebuilds cleaned text and gates near-total duplicates") {
    // same planted corpus as the d19 pin; coverage fractions there are
    // 100→0.941, 101→0.762, 103→0.833, 106→1.0, 107→0.714, 108→0.833,
    // so the 80% gate must drop 100/103/106/108 and keep 101/102/107
    import spark.implicits._
    val docs = Seq(
      (100L, "a b c d e f g h X p q r s t u v w"),
      (101L, "z1 z2 a b c d e f g h z3 z4 z5 p q r s t u v w"),
      (102L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
      (103L, "m1 m2 m3 m4 m5 q1 q2 m1 m2 m3 m4 m5"),
      (106L, "r1 r2 r3 r4 r5 s1 s2 s3 s4 s5"),
      (107L, "r1 r2 r3 r4 r5 x9 y9"),
      (108L, "w9 s1 s2 s3 s4 s5"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = tmp("d20fix")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("d20_substr_excise")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(out.keySet == Set(101L, 102L, 107L),
      s"gate universe (drop >= 80% coverage): ${out.keySet}")
    // (n_toks, n_kept, n_removed, cleaned_text)
    assert(out(101L) == ((21L, 5L, 16L, "z1 z2 z3 z4 z5")), s"101: ${out(101L)}")
    assert(out(102L) == ((9L, 9L, 0L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")),
      s"102 must pass through untouched: ${out(102L)}")
    assert(out(107L) == ((7L, 2L, 5L, "x9 y9")), s"107: ${out(107L)}")
  }

  test("d19 and d20 agree on repeated mass across the real fixture") {
    // the two halves of exact-substring dedup must see the same runs:
    // for every doc d20 kept, its n_removed equals d19's rep_tokens (or
    // 0 when d19 has no row), and every d20-dropped doc crosses the 80%
    // gate in d19's terms
    val nToks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(graft.functions.Text.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stats = SparkEntry.queries("d19_exact_substr")(spark, sfDir)
      .select("doc_id", "rep_tokens")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), nToks(r.getLong(0))))).toMap
    val ex = SparkEntry.queries("d20_substr_excise")(spark, sfDir)
      .select("doc_id", "n_toks", "n_kept", "n_removed")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ex.nonEmpty)
    ex.foreach { case (id, nToks, nKept, nRem) =>
      val expected = stats.get(id).map(_._1).getOrElse(0L)
      assert(nRem == expected, s"doc $id: d20 removed $nRem, d19 says $expected")
      assert(nKept + nRem == nToks, s"doc $id: kept+removed != total")
      assert(nRem * 5 < nToks * 4, s"doc $id passed the gate it should fail")
    }
    val keptIds = ex.map(_._1).toSet
    stats.foreach { case (id, (rep, nToks)) =>
      if (rep * 5 >= nToks * 4)
        assert(!keptIds.contains(id), s"doc $id at ${rep}/$nToks survived the gate")
    }
  }

  test("d21: semantic dedup is cluster-scoped — identical vectors in different clusters survive") {
    // the semantic SemDeDup adds over d5's global pairs: the pairwise
    // step never crosses a cluster boundary, so a near-dup is only
    // excised against members of its own cluster
    import spark.implicits._
    val v = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val vNear = v.clone(); vNear(0) = v(0) + 0.01f // cos ≈ 1 with v
    val vFar = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq(
      (1L, "a", v),     // keeper (smallest id in cluster a)
      (2L, "a", vNear), // same-cluster near-dup of 1 → removed
      (3L, "b", v),     // IDENTICAL to 1 but in cluster b → no pair
      (4L, "b", vFar)   // unrelated → no pair
    ).toDF("vec_id", "cluster", "embedding")
    val pairs = graft.operators.Dedup
      .semDedupPairs(emb, "vec_id", "embedding", "cluster", 0.9)
      .select("cluster", "id1", "id2").as[(String, Long, Long)].collect()
    assert(pairs.toSet == Set(("a", 1L, 2L)),
      s"expected only the within-cluster pair, got ${pairs.mkString(",")}")
  }

  test("t33: stupid backoff fires on held-out bigrams and the gate matches the score") {
    val rows = SparkEntry.queries("t33_bigram_lm")(spark, sfDir)
      .select("doc_id", "n_bigrams", "n_backoff", "avg_nll", "keep")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    // only held-out docs are scored, training docs never leak in
    rows.foreach { case (id, nb, nbk, nll, keep) =>
      assert(id % 5 == 0, s"training doc $id scored")
      assert(nbk <= nb, s"doc $id: more backoff terms than bigrams")
      assert(nll > 0, s"doc $id: non-positive NLL")
      assert(keep == (nll <= 3.5), s"doc $id: gate disagrees with its score")
    }
    // the held-out split exists precisely so this branch is reachable
    assert(rows.exists(_._3 > 0), "no held-out bigram ever hit the backoff branch")
    assert(rows.exists(_._3 == 0), "every doc backed off — train split too small")
  }

  test("s22: seasonal indices re-center to zero and cover every hour-of-day") {
    val rows = SparkEntry.queries("s22_seasonal_decompose")(spark, sfDir)
      .select("event_type", "hod", "n", "seasonal")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (tpe, gs) =>
      // a month-long hourly series detrended by a 48-sample frame keeps
      // every hour-of-day represented
      assert(gs.map(_._2).toSet == (0 until 24).toSet, s"$tpe: missing hods")
      // re-centering: the 24 quantized indices sum to ~0 (each is
      // quantized to 1e-6, so the sum is bounded by 24 quantization ulps)
      val sSum = gs.map(_._4).sum
      assert(math.abs(sSum) < 24e-6, s"$tpe: seasonal sums to $sSum")
      // the zero-filled grid means each hod sees nearly the same number
      // of detrended samples (edges trim at most one full period)
      val ns = gs.map(_._3)
      assert(ns.max - ns.min <= 2, s"$tpe: uneven hod coverage ${ns.min}..${ns.max}")
    }
  }

  test("t35: fuzzy decontamination flags the planted near-copy and only scores corpus docs") {
    val rows = SparkEntry.queries("t35_fuzzy_decontam")(spark, sfDir)
      .select("doc_id", "best_bench", "jacc", "flagged")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, bid, j, fl) =>
      assert(id % 50 != 0, s"benchmark doc $id scored against itself")
      assert(bid % 50 == 0, s"non-benchmark doc $bid on the bench side")
      assert(j > 0 && j <= 1.0, s"doc $id: jaccard $j out of range")
      assert(fl == (j >= 0.2), s"doc $id: flag disagrees with score")
    }
    // the fixture plants exact/near copies across the % 50 split — the
    // fuzzy scorer must catch at least one where exact 13-gram overlap
    // is the only other signal
    assert(rows.exists(_._4), "no contaminated doc flagged")
    assert(rows.count(_._4) < rows.length, "every overlap flagged — threshold vacuous")
  }

  test("k7: quantile estimates land at their true CDF position") {
    val rows = SparkEntry.queries("k7_sketch_quantile")(spark, sfDir)
      .select("event_type", "n_sample", "rank_p50", "rank_p90")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (tpe, n, r50, r90) =>
      assert(n > 0 && n <= 256, s"$tpe: sample size $n out of range")
      // rank error is O(1/sqrt(k)); these bands are > 3 sigma for k=256
      assert(r50 > 0.38 && r50 < 0.62, s"$tpe: p50 estimate sits at CDF $r50")
      assert(r90 > 0.78 && r90 <= 1.0, s"$tpe: p90 estimate sits at CDF $r90")
    }
  }

  test("k7: the sketch is layout-independent and unions exactly") {
    import graft.functions.Sketches._
    val e = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), col("event_id"), col("value"), col("ts"))
    def skOf(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"))
      .agg(quantileSketch(hash63(col("event_id")), col("value"), 64).as("sk"))
      .select(col("event_type"), col("sk.hs"), col("sk.vs"))
      .collect()
      .map(r => (r.getString(0), (r.getSeq[Long](1), r.getSeq[Double](2))))
      .toMap
    // the k smallest hashes win under ANY partitioning/order — sketches
    // over shuffled layouts must be bit-identical, not just close
    val direct = skOf(e)
    val shuffled = skOf(e.repartition(13, col("value")))
    assert(direct == shuffled, "sketch depends on data layout")
    // union via re-aggregation of retained pairs equals the sketch of
    // the whole stream: the global bottom-k is a subset of the
    // per-group bottom-ks, so rolling up persisted daily sketches loses
    // nothing vs re-scanning raw history
    val daily = e
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(quantileSketch(hash63(col("event_id")), col("value"), 64).as("sk"))
      .select(col("event_type"), col("sk.hs").as("h0"), col("sk.vs").as("v0"))
      .select(col("event_type"),
        explode(arrays_zip(col("h0").as("h"), col("v0").as("v"))).as("p"))
      .groupBy(col("event_type"))
      .agg(quantileSketch(col("p.h"), col("p.v"), 64).as("sk"))
      .select(col("event_type"), col("sk.hs"), col("sk.vs"))
      .collect()
      .map(r => (r.getString(0), (r.getSeq[Long](1), r.getSeq[Double](2))))
      .toMap
    assert(daily == direct, "daily-sketch rollup diverges from the whole-stream sketch")
  }

  test("t34: DSIR selects raw-corpus docs only, ranked by importance weight") {
    val sel = SparkEntry.queries("t34_dsir_select")(spark, sfDir)
      .select("doc_id", "weight")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(sel.length == 100)
    // ranking is by weight desc with doc_id tiebreak — verify the order
    sel.sliding(2).foreach { case Array((i1, w1), (i2, w2)) =>
      assert(w1 > w2 || (w1 == w2 && i1 < i2), s"order broken at $i1/$i2")
    }
    // the target slice is the reference distribution, never a candidate
    val target = Tables.load(spark, sfDir, "documents")
      .filter(col("source") === "src0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(sel.forall { case (id, _) => !target.contains(id) },
      "a target-slice doc selected itself")
  }
}
