package graft

import graft.operators.SimilaritySearch
import org.apache.spark.sql.functions._

/** Round-6 additions: the recall evaluator and TEOS-10 derivative ops. */
class Round6Spec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val q = emb.filter(col("vec_id") < 5)
  private lazy val c = emb.filter(col("vec_id") >= 5)
  private lazy val exact =
    SimilaritySearch.bruteForceTopK(q, c, "vec_id", "embedding", k = 10)

  test("recallAtK: an index probing every list recalls the exact top-k") {
    // nProbe == nCentroids scans every inverted list, so the candidate
    // set equals brute force and recall@k must be 1.0 for every query
    val full = SimilaritySearch.ivfTopK(q, c, "vec_id", "embedding",
      k = 10, nCentroids = 10, nProbe = 10, iters = 3)
    val r = SimilaritySearch.recallAtK(exact, full, k = 10).collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getAs[Double]("recall") == 1.0,
      s"query ${row.get(0)} recall ${row.getAs[Double]("recall")}"))
  }

  test("recallAtK: recall is monotone in nProbe and partial probes lose some") {
    def mean(nProbe: Int): Double = {
      val a = SimilaritySearch.ivfTopK(q, c, "vec_id", "embedding",
        k = 10, nCentroids = 10, nProbe = nProbe, iters = 3)
      val r = SimilaritySearch.recallAtK(exact, a, k = 10)
        .agg(avg("recall")).head().getDouble(0)
      r
    }
    val r2 = mean(2); val r5 = mean(5); val r10 = mean(10)
    assert(r2 <= r5 + 1e-9 && r5 <= r10 + 1e-9,
      s"recall not monotone: nProbe2=$r2 nProbe5=$r5 nProbe10=$r10")
    assert(r10 == 1.0)
    // sanity that the evaluator can actually see loss: the 2-probe index
    // on 10 lists should not be perfect on every query AND the floor
    // registered in VERDICT r5 for v3 (nProbe 3) should hold here too
    assert(r2 >= 0.3, s"2-probe recall collapsed: $r2")
  }

  test("recallAtK ignores ranks beyond the cutoff on both sides") {
    import spark.implicits._
    val ex = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("qid", "cid", "rnk")
    val ap = Seq((1L, 10L, 1), (1L, 99L, 2), (1L, 11L, 3)).toDF("qid", "cid", "rnk")
    val r = SimilaritySearch.recallAtK(ex, ap, k = 2).collect()
    // exact cut = {10, 11}; approx cut = {10, 99} → one hit of two
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_exact") == 2)
    assert(r(0).getAs[Long]("n_hit") == 1)
    assert(r(0).getAs[Double]("recall") == 0.5)
  }

  test("code-detect heuristic separates planted code from prose") {
    import spark.implicits._
    val code =
      "def main(args):\n    import os\n    return {x: 1};\n    if a == b -> c;\n" +
      "    class Foo { void bar() { let x = 1; const y = 2; } };\n" * 3
    val prose = "the quiet morning light settled over the harbor as fishermen " +
      "prepared their nets and talked about the weather and the tide " * 5
    val docs = Seq((1L, code), (2L, prose)).toDF("doc_id", "text")
    val q = SparkEntry.queries("t24_code_detect")
    // run the registry query against a scratch dir holding the fixture
    val dir = tmp("t24")
    docs.withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = q(spark, dir).collect().map(x =>
      (x.getAs[Long]("doc_id"), x.getAs[Boolean]("is_code"))).toMap
    assert(r(1L), "code fixture not flagged as code")
    assert(!r(2L), "prose fixture flagged as code")
  }

  test("multi-probe LSH recall dominates single-probe on the same table") {
    def rec(nProbe: Int): Double = {
      val a = SimilaritySearch.multiProbeLshTopK(q, c, "vec_id", "embedding",
        dims = 64, bits = 4, k = 10, nProbe = nProbe)
      SimilaritySearch.recallAtK(exact, a, k = 10)
        .agg(avg("recall")).head().getDouble(0)
    }
    val r1 = rec(1); val r3 = rec(3); val r5 = rec(5)
    // probing supersets buckets, so recall can only grow with nProbe
    assert(r1 <= r3 + 1e-9 && r3 <= r5 + 1e-9,
      s"multi-probe recall not monotone: $r1 / $r3 / $r5")
    assert(r3 > r1, s"probing gained nothing: $r1 -> $r3 (fixture too easy?)")
    assert(r5 >= 0.35, s"5-probe recall floor broken: $r5")
  }

  test("v8_recall_eval registry entry returns one row per query") {
    val df = SparkEntry.queries("v8_recall_eval")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 5)
    assert(rows.forall(r => r.getAs[Double]("recall") >= 0.0 &&
      r.getAs[Double]("recall") <= 1.0))
  }

  test("winnowing guarantee: a shared run of k+w-1 chars shares a fingerprint") {
    import spark.implicits._
    import graft.operators.Dedup
    // k=8, w=4 → any common substring of length >= 11 must yield at least
    // one common fingerprint (Schleimer et al. theorem 1); these two docs
    // share exactly the 16-char run "quick brown foxes"
    val docs = Seq(
      (1L, "aaa the quick brown foxes bbb ccc ddd eee fff ggg hhh"),
      (2L, "zzz yyy the quick brown foxes xxx www vvv uuu ttt sss"),
      (3L, "totally unrelated content with no overlap whatsoever!!")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowingFingerprints(docs, "doc_id", "text").cache()
    val shared12 = fps.filter(col("id") === 1).select("fp")
      .intersect(fps.filter(col("id") === 2).select("fp")).count()
    assert(shared12 >= 1, "guaranteed fingerprint for an 11+ char run missing")
    val shared13 = fps.filter(col("id") === 1).select("fp")
      .intersect(fps.filter(col("id") === 3).select("fp")).count()
    assert(shared13 == 0, "disjoint texts should not collide")
  }

  test("winnowingPairs ranks a half-copied doc high and the df-cap kills hot fps") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = "the tide rolled in over the grey stones while gulls wheeled " +
      "above the harbour and the fishermen mended their long nets quietly"
    val docs = Seq(
      (1L, base),
      (2L, base.take(70) + " entirely different second half of this document here"),
      (3L, "nothing in common with the other two documents at all, none!!")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(
      Dedup.winnowingFingerprints(docs, "doc_id", "text")).collect()
    assert(pairs.length == 1 && pairs.head.getLong(0) == 1L &&
      pairs.head.getLong(1) == 2L)
    val ov = pairs.head.getAs[Double]("overlap")
    assert(ov > 0.3 && ov < 0.95, s"half-copy overlap out of range: $ov")
    // a fingerprint present in > maxFpDf docs must be dropped before the
    // self-join: with cap 1 every fp is "hot" and no pairs survive
    val capped = Dedup.winnowingPairs(
      Dedup.winnowingFingerprints(docs, "doc_id", "text"), maxFpDf = 1)
    assert(capped.count() == 0)
  }

  test("t28_bm25: per-query top-k is dense, descending, and term-grounded") {
    val rows = SparkEntry.queries("t28_bm25")(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[String]("qid"))
    assert(byQ.keySet == Set("qa", "qb", "qc"))
    byQ.foreach { case (qid, rs) =>
      val ranked = rs.sortBy(_.getAs[Int]("rnk"))
      assert(ranked.map(_.getAs[Int]("rnk")).toSeq == (1 to ranked.length),
        s"$qid ranks not dense")
      val scores = ranked.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"$qid scores not descending: ${scores.mkString(",")}")
      assert(scores.forall(_ > 0.0), s"$qid has non-positive scores")
      // every hit matched at least one and at most all of the query's
      // terms — bounds derived from the registry's own query list so
      // editing it cannot silently desync this test
      val qLen = graft.queries.TrainingData.bm25Queries.count(_._1 == qid)
      assert(ranked.forall { r =>
        val n = r.getAs[Long]("n_terms"); n >= 1 && n <= qLen
      })
    }
  }

  test("t30_source_overlap: Jaccard bounds and intersection consistency") {
    val rows = SparkEntry.queries("t30_source_overlap")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n1, n2, nc) = (r.getAs[Long]("n1"), r.getAs[Long]("n2"),
        r.getAs[Long]("n_common"))
      val j = r.getAs[Double]("jaccard")
      assert(r.getAs[String]("src1") < r.getAs[String]("src2"))
      assert(nc >= 1 && nc <= math.min(n1, n2),
        s"intersection exceeds a side: $nc vs ($n1, $n2)")
      assert(j > 0.0 && j <= 1.0, s"jaccard out of range: $j")
      assert(math.abs(j - nc.toDouble / (n1 + n2 - nc)) < 1e-4)
    }
  }
}
