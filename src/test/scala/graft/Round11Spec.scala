package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 pins: driver-sortable registry projections for d8/m3 with
  * the typed arrays kept in the operator API, the d18 checkpoint that
  * stops the λ loop re-deriving the pair pipeline, the p3 full curation
  * chain, and the sketch-quantile edge guards from ADVICE r10.
  */
class Round11Spec extends SparkSpec {

  // ---- typed-array operator APIs behind the CSV registry rows ----------

  test("clusterMembers keeps the typed array<long> the registry row flattens") {
    import spark.implicits._
    // two components: {1,2,3} (chain) and {10, 11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val cm = graft.operators.Dedup.clusterMembers(pairs, "id1", "id2")
    val out = cm.orderBy("cluster").collect()
    assert(out.length == 2)
    val membersField = cm.schema("members").dataType
    assert(membersField == ArrayType(LongType, containsNull = false) ||
      membersField == ArrayType(LongType, containsNull = true),
      s"members must stay a typed array<long> in the API, got $membersField")
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 3L)
    assert(out(0).getSeq[Long](2) == Seq(1L, 2L, 3L), "members must sort ascending")
    assert(out(1).getSeq[Long](2) == Seq(10L, 11L))
  }

  test("d8 registry row is the CSV flattening of the typed cluster API") {
    val reg = SparkEntry.queries("d8_dedup_clusters")(spark, sfDir)
    assert(reg.schema("members").dataType == StringType,
      "registry projection must be driver-sortable (scalar), not an array")
    val rows = reg.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val csv = r.getAs[String]("members").split(',')
      assert(csv.length == r.getAs[Long]("n_members"),
        s"cluster ${r.get(0)}: csv arity ${csv.length} != n_members")
      assert(csv.map(_.toLong).sorted.sameElements(csv.map(_.toLong)),
        s"cluster ${r.get(0)}: members not ascending in the CSV")
    }
  }

  test("m3 registry row is the CSV flattening of Multimodal.frameFingerprints") {
    val reg = SparkEntry.queries("m3_frame_sample")(spark, sfDir)
    assert(reg.schema("frame_fps").dataType == StringType,
      "registry projection must be driver-sortable (scalar), not an array")
    // typed API agrees element-for-element with the flattened row
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nf = graft.operators.Multimodal.frameCount(col("text"), 16, 64)
    val typed = docs.select(col("doc_id"),
        graft.operators.Multimodal.frameFingerprints(col("text"), nf, 16, 64).as("fps"))
      .filter(size(col("fps")) > 0)
    assert(typed.schema("fps").dataType.asInstanceOf[ArrayType].elementType == StringType)
    val t = typed.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val flat = reg.collect().map(r =>
      r.getLong(0) -> r.getAs[String]("frame_fps").split(',').toSeq).toMap
    assert(t.keySet == flat.keySet)
    t.foreach { case (id, fps) => assert(fps == flat(id), s"doc $id fingerprints diverge") }
  }

  // ---- sketch-quantile edge guards (ADVICE r10) -------------------------

  test("sketchQuantile over an all-NULL group is null, not a runtime error") {
    import spark.implicits._
    import graft.functions.Sketches._
    val df = Seq((1L, Some(2.0)), (2L, Some(4.0)), (3L, None), (4L, None))
      .toDF("id", "v")
      .withColumn("grp", when(col("v").isNotNull, "full").otherwise("empty"))
    val out = df.groupBy(col("grp"))
      .agg(quantileSketch(hash63(col("id")), col("v"), 8).as("sk"))
      .select(col("grp"), sketchQuantile(col("sk"), 0.5).as("p50"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("empty").isEmpty, "empty sketch must yield null")
    assert(out("full").contains(2.0) || out("full").contains(4.0))
  }

  test("QuantileSampleAgg hash collision keeps the smaller value in any order") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    val agg = graft.plans.QuantileSampleAgg(
      BoundReference(0, LongType, nullable = true),
      BoundReference(1, DoubleType, nullable = true), k = 4)
    def run(rows: Seq[(Long, Double)]): Seq[(Long, Double)] = {
      val b = agg.createAggregationBuffer()
      rows.foreach { case (h, v) => agg.update(b, InternalRow(h, v)) }
      import scala.jdk.CollectionConverters._
      b.entrySet().asScala.map(e => (e.getKey.toLong, e.getValue.toDouble)).toSeq
    }
    val fwd = run(Seq((5L, 2.0), (5L, 1.0), (7L, 9.0)))
    val rev = run(Seq((5L, 1.0), (5L, 2.0), (7L, 9.0)))
    assert(fwd == rev, s"collision outcome depends on encounter order: $fwd vs $rev")
    assert(fwd.contains((5L, 1.0)), "tie must break to the smaller value")
    // merge path takes the same rule
    val b1 = agg.createAggregationBuffer(); agg.update(b1, InternalRow(5L, 2.0))
    val b2 = agg.createAggregationBuffer(); agg.update(b2, InternalRow(5L, 1.0))
    assert(agg.merge(b1, b2).get(5L) == 1.0)
  }

  // ---- p3: the full curation chain over p1's funnel ---------------------

  test("p3 extends p1's funnel monotonically and excision only shrinks volume") {
    val p1 = SparkEntry.queries("p1_corpus_pipeline")(spark, sfDir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_total"), r.getAs[Long]("n_kept"), r.getAs[Long]("kept_toks"))).toMap
    val p3 = SparkEntry.queries("p3_curation_pipeline")(spark, sfDir).collect()
    assert(p3.nonEmpty)
    p3.foreach { r =>
      val src = r.getAs[String]("source")
      val Seq(nTotal, nLang, nQuality, nRep, nKept, nSubstr, cleanToks) =
        Seq("n_total", "n_lang", "n_quality", "n_rep", "n_kept", "n_substr", "clean_toks")
          .map(r.getAs[Long])
      assert(nTotal >= nLang && nLang >= nQuality && nQuality >= nRep &&
        nRep >= nKept && nKept >= nSubstr, s"$src funnel not monotone")
      val (pTotal, pKept, pToks) = p1(src)
      assert(nTotal == pTotal && nKept == pKept,
        s"$src: p3's shared stages diverge from p1")
      assert(cleanToks <= pToks,
        s"$src: excision grew the token volume ($cleanToks > $pToks)")
    }
    // the fixture contains repeated spans, so the stage must actually bite
    val totalClean = p3.map(_.getAs[Long]("clean_toks")).sum
    val totalKept = p1.values.map(_._3).sum
    assert(totalClean < totalKept,
      "substring excision removed nothing corpus-wide — stage is inert")
  }

  // ---- p4: the CCNet stage order ----------------------------------------

  test("p4 terciles partition each language's docs and paragraph dedup bites") {
    val rows = SparkEntry.queries("p4_ccnet_pipeline")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rs) =>
      val buckets = rs.map(_.getAs[String]("bucket")).toSet
      assert(buckets.subsetOf(Set("head", "middle", "tail")), s"$lang: $buckets")
      // exact terciles: no bucket may hold more than ~half of the docs
      // (ties on quantized NLL can shift the thirds, but not collapse them)
      val counts = rs.map(_.getAs[Long]("n_docs"))
      val total = counts.sum
      assert(counts.max <= (total + 1) / 2 + 1,
        s"$lang tercile collapse: $counts")
      // mean NLL must be non-decreasing head -> middle -> tail by
      // construction of the cut
      val nll = rs.map(r => r.getAs[String]("bucket") -> r.getAs[Double]("mean_nll")).toMap
      for (a <- nll.get("head"); b <- nll.get("middle")) assert(a <= b)
      for (b <- nll.get("middle"); c <- nll.get("tail")) assert(b <= c)
    }
    // dedup stage bites: kept tokens < total full-block tokens of the
    // langid survivors (the fixture contains duplicate text)
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("predicted", graft.functions.Text.langPredict(col("text")))
      .filter(col("predicted") =!= "und")
    val fullBlockToks = docs.select(
        (floor(size(graft.functions.Text.tokens(col("text"))) / 20) * 20).as("bt"))
      .agg(sum("bt")).collect()(0).getLong(0)
    val keptToks = rows.map(_.getAs[Long]("kept_toks")).sum
    assert(keptToks < fullBlockToks,
      s"paragraph dedup removed nothing: $keptToks of $fullBlockToks")
  }

  // ---- incremental ingest: d14's bloom path over snapshot commits -------

  test("SnapshotTable.ingest admits exactly new-content rows, incrementally") {
    import spark.implicits._
    import graft.operators.SnapshotTable
    val path = tmp("graft-ingest")
    val b1 = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    val s1 = SnapshotTable.ingest(spark, b1, path, "text", expectedItems = 100L)
    assert(s1.version == 1L && s1.nNew == 3L,
      "first ingest commits the whole batch (within-batch dups pass through)")
    // batch 2: one dup of prior content (different id), one new
    val b2 = Seq((10L, "gamma delta"), (11L, "epsilon zeta")).toDF("doc_id", "text")
    val s2 = SnapshotTable.ingest(spark, b2, path, "text", expectedItems = 100L)
    assert(s2.version == 2L && s2.nIncoming == 2L && s2.nNew == 1L,
      s"dup-of-prior content must be rejected: $s2")
    val after2 = SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after2 == Set((1L, "alpha beta"), (2L, "gamma delta"),
      (3L, "alpha beta"), (11L, "epsilon zeta")))
    // idempotence: re-ingesting batch 2 adds nothing, version still logs
    val s3 = SnapshotTable.ingest(spark, b2, path, "text", expectedItems = 100L)
    assert(s3.version == 3L && s3.nNew == 0L, s"re-ingest must be a content no-op: $s3")
    assert(SnapshotTable.read(spark, path).count() == 4L)
    // the commits were APPENDS: v3 still reads data written at v1
    def dirsWithPrefix(parent: String, prefix: String) =
      Option(new java.io.File(parent).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith(prefix))
    assert(dirsWithPrefix(path, "snap-00000001").length == 1,
      "append commit must not rewrite the parent snapshot's files")
    // every delta carries its hash sidecar, so exact-verify reads
    // ~16 B/row instead of the payload
    assert(dirsWithPrefix(s"$path/_hashes", "snap-00000001").nonEmpty &&
      dirsWithPrefix(s"$path/_hashes", "snap-00000003").nonEmpty,
      "ingest must publish the per-delta md5 sidecar")
  }

  test("SnapshotTable.ingest dedups NULL payloads like any other content") {
    import spark.implicits._
    import graft.operators.SnapshotTable
    val path = tmp("graft-ingest-null")
    val b1 = Seq((1L, Some("alpha")), (2L, None)).toDF("doc_id", "text")
    assert(SnapshotTable.ingest(spark, b1, path, "text", 100L).nNew == 2L)
    // a second null-payload row IS a duplicate of the first — a raw md5
    // key would be NULL, the anti-join condition would go three-valued,
    // and the row would be re-admitted on every replay
    val b2 = Seq((10L, None: Option[String]), (11L, Some("beta"))).toDF("doc_id", "text")
    val s2 = SnapshotTable.ingest(spark, b2, path, "text", 100L)
    assert(s2.nNew == 1L, s"null payload re-admitted: $s2")
    val s3 = SnapshotTable.ingest(spark, b2, path, "text", 100L)
    assert(s3.nNew == 0L, s"replay of a null-payload batch must admit nothing: $s3")
    assert(SnapshotTable.read(spark, path).count() == 3L)
  }

  test("ingest onto a write()-created table rebuilds coverage; empty snapshots are legal") {
    import spark.implicits._
    import graft.operators.SnapshotTable
    // write() commits no bloom sidecar: the next ingest must REBUILD
    // coverage from the snapshot (never trust an absent/legacy bloom —
    // pre-contentKey blooms are keyed differently and would pass
    // duplicates as probe-negative)
    val p1 = tmp("graft-write-ingest")
    SnapshotTable.write(spark, Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"), p1)
    val s = SnapshotTable.ingest(spark,
      Seq((10L, "alpha"), (11L, "gamma")).toDF("doc_id", "text"), p1, "text", 100L)
    assert(s.nNew == 1L, s"dup of write()-committed content re-admitted: $s")
    assert(SnapshotTable.read(spark, p1).count() == 3L)
    // a committed EMPTY snapshot must not NPE the bloom fallback
    val p2 = tmp("graft-empty-ingest")
    SnapshotTable.write(spark, Seq.empty[(Long, String)].toDF("doc_id", "text"), p2)
    val s2 = SnapshotTable.ingest(spark,
      Seq((1L, "a")).toDF("doc_id", "text"), p2, "text", 100L)
    assert(s2.nNew == 1L)
  }

  test("ingest leaves a caller-established cache on the batch in place") {
    import spark.implicits._
    import graft.operators.SnapshotTable
    val path = tmp("graft-cache-ingest")
    val df = Seq((1L, "x y z")).toDF("doc_id", "text").persist()
    df.count()
    SnapshotTable.ingest(spark, df, path, "text", 100L)
    assert(df.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "ingest evicted the caller's cache")
    df.unpersist()
  }

  test("concurrent ingests: at most one commits per version, state stays consistent") {
    import spark.implicits._
    import graft.operators.SnapshotTable
    import scala.jdk.CollectionConverters._
    val path = tmp("graft-ingest-race")
    SnapshotTable.ingest(spark, Seq((1L, "base")).toDF("doc_id", "text"), path, "text", 100L)
    // two committers race from the same parent state; staging names are
    // committer-unique, so whichever loses the manifest rename must
    // throw WITHOUT having touched any file the winner committed
    val dfA = Seq((10L, "aaa")).toDF("doc_id", "text")
    val dfB = Seq((20L, "bbb")).toDF("doc_id", "text")
    val latch = new java.util.concurrent.CountDownLatch(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Long]]()
    def runner(tag: String, df: org.apache.spark.sql.DataFrame) = new Thread(() => {
      latch.countDown(); latch.await()
      try results.put(tag, Right(SnapshotTable.ingest(spark, df, path, "text", 100L).version))
      catch { case e: Throwable => results.put(tag, Left(e)) }
    })
    val (ta, tb) = (runner("a", dfA), runner("b", dfB))
    ta.start(); tb.start(); ta.join(180000); tb.join(180000)
    val outcomes = results.values.asScala.toSeq
    assert(outcomes.size == 2)
    val losses = outcomes.collect { case Left(e) => e }
    losses.foreach(e => assert(
      Option(e.getMessage).exists(_.contains("concurrent commit")),
      s"loser failed for the wrong reason: $e"))
    // Consistency regardless of whether the race manifested (threads may
    // also have serialized — zero losers — which is equally valid):
    // re-ingesting BOTH batches must admit exactly the losers' content.
    // Under the old shared-staging-name scheme a loser could overwrite
    // the winner's committed delta/bloom, and this repair count is where
    // that corruption surfaces.
    val repair = SnapshotTable.ingest(spark,
      Seq((10L, "aaa"), (20L, "bbb")).toDF("doc_id", "text"), path, "text", 100L)
    assert(repair.nNew == losses.size,
      s"committed chain inconsistent after race: repair admitted ${repair.nNew}, " +
        s"expected ${losses.size} (the losers' rows)")
    val all = SnapshotTable.read(spark, path).collect().map(_.getString(1)).toSet
    assert(all == Set("base", "aaa", "bbb"))
  }

  test("SnapshotTable compaction collapses an ingest chain; expire keeps shared dirs") {
    import spark.implicits._
    import graft.operators.SnapshotTable
    val path = tmp("graft-ingest2")
    SnapshotTable.ingest(spark, Seq((1L, "a b")).toDF("doc_id", "text"), path, "text", 100L)
    SnapshotTable.ingest(spark, Seq((2L, "c d")).toDF("doc_id", "text"), path, "text", 100L)
    SnapshotTable.ingest(spark, Seq((3L, "e f")).toDF("doc_id", "text"), path, "text", 100L)
    // v3 references three shared dirs; expire(keep=1) must delete NONE
    // of them (all still referenced by the retained manifest)
    assert(SnapshotTable.expire(spark, path, keep = 1) == 2)
    assert(SnapshotTable.read(spark, path).count() == 3L,
      "expire deleted a directory the retained snapshot still references")
    // compaction collapses the chain to one directory and v4 still dedups
    SnapshotTable.compact(spark, path)
    assert(SnapshotTable.read(spark, path).count() == 3L)
    val s = SnapshotTable.ingest(spark,
      Seq((4L, "a b"), (5L, "g h")).toDF("doc_id", "text"), path, "text", 100L)
    assert(s.nNew == 1L, "post-compaction ingest lost the content bloom")
  }

  // ---- d18: the λ loop must reuse ONE materialized mr-edge list ---------

  test("d18 extra λ levels do not re-derive the pair pipeline") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    val pts = (0L until 60L).map { i =>
      val c = if (i < 30) 0 else 1
      val v = Array.tabulate(16)(j =>
        (if (j == c) 1.0 else 0.0) + 0.05 * r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i, v.map(x => (x / n).toFloat))
    }.toDF("vec_id", "embedding").cache()
    pts.count()
    def stagesFor(levels: Seq[Double]): Int = {
      val sc = spark.sparkContext
      val group = "r11-d18-" + levels.size
      sc.setJobGroup(group, "d18 stage audit")
      try graft.operators.Dedup.hdbscanLite(pts, "vec_id", "embedding",
        simFloor = 0.4, minPts = 3, levels = levels, minClusterSize = 5).count()
      finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group)
        .flatMap(id => sc.statusTracker.getJobInfo(id).map(_.stageIds().length)).sum
    }
    val one = stagesFor(Seq(0.8))
    val three = stagesFor(Seq(0.9, 0.8, 0.7))
    // With the checkpoint, each extra level costs only its own CC pass
    // over the materialized edge list (a couple of stages). Without it,
    // each level re-runs embeddingCosinePairs + the core-sim window +
    // two joins (~10 stages each) — the bound below fails loudly.
    assert(three - one <= 10,
      s"two extra λ levels added ${three - one} stages (expected ≲ a CC pass each); " +
        "the mr-edge checkpoint is not holding")
  }
}
