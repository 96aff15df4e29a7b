package graft

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Batch/stream parity for the streaming twins: the same event set must
  * produce the same windowed aggregates incrementally (across multiple
  * added batches) as in one batch pass.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")

  test("windowed agg: incremental result equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val q = EventStream.toMemorySink(
      EventStream.windowedAgg(events, "10 minutes", "5 minutes"), "win_test")
    val data = Seq(
      (ts(0), "click", 1.0), (ts(3), "click", 2.0), (ts(7), "view", 3.0),
      (ts(12), "click", 4.0), (ts(18), "view", 5.0), (ts(25), "click", 6.0),
      (ts(33), "view", 7.0), (ts(41), "click", 8.0), (ts(55), "view", 9.0),
      (ts(70), "click", 10.0), (ts(85), "view", 11.0), (ts(95), "click", 12.0))
    // feed in three out-of-order-free chunks; advance watermark past all
    input.addData(data.take(4)); q.processAllAvailable()
    input.addData(data.slice(4, 9)); q.processAllAvailable()
    input.addData(data.drop(9)); q.processAllAvailable()
    // one more far-future row closes every earlier window
    input.addData(Seq((ts(300), "click", 0.0))); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("win_test")
      .select(date_format(col("bucket"), "HH:mm").as("b"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    val batch = data.toDF("ts", "event_type", "value")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(date_format(col("window.start"), "HH:mm").as("b"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    assert(streamed == batch)
  }

  test("streaming dedup drops in-watermark duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("k", "ts")
    val q = EventStream.toMemorySink(
      EventStream.dedupStream(events, Seq("k"), "10 minutes"), "dedup_test")
    input.addData(Seq((1L, ts(0)), (2L, ts(1)), (1L, ts(2)))); q.processAllAvailable()
    input.addData(Seq((1L, ts(3)), (3L, ts(4)))); q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_test").select("k").collect().map(_.getLong(0)).sorted
    assert(keys.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-stream interval join matches the batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    val inL = MemoryStream[(Long, Timestamp, Long)]
    val inR = MemoryStream[(Long, Timestamp, Long)]
    def df(m: MemoryStream[(Long, Timestamp, Long)]) =
      m.toDF().toDF("user_id", "ts", "event_id")
    val q = EventStream.toMemorySink(
      EventStream.intervalJoin(df(inL), df(inR), "user_id", 600, "30 minutes"),
      "ssj_test")
    val lData = Seq((1L, ts(0), 100L), (1L, ts(20), 101L), (2L, ts(5), 200L))
    val rData = Seq((1L, ts(5), 900L), (1L, ts(25), 901L), (2L, ts(30), 902L),
      (1L, ts(40), 903L))
    inL.addData(lData.take(2)); inR.addData(rData.take(2)); q.processAllAvailable()
    inL.addData(lData.drop(2)); inR.addData(rData.drop(2)); q.processAllAvailable()
    // close windows
    inL.addData(Seq((8L, ts(300), 0L))); inR.addData(Seq((9L, ts(300), 1L)))
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("ssj_test").select("l_id", "r_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      (lu, lt, li) <- lData
      (ru, rt, ri) <- rData
      if lu == ru && rt.getTime >= lt.getTime && rt.getTime <= lt.getTime + 600000L
    } yield (li, ri)).toSet
    assert(streamed == expected, s"streamed=$streamed expected=$expected")
  }

  test("stateful session counts match batch sessionize across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val q = EventStream.toMemorySink(
      EventStream.sessionCounts(input.toDS(), gapSeconds = 1800).toDF(), "sess_test",
      org.apache.spark.sql.streaming.OutputMode.Update)
    // user 1: events at 0, 10, 80, 95 min → gaps 10, 70, 15 → 2 sessions
    // user 2: events at 5, 50 min → 2 sessions; user 3: single event
    val all = Seq((1L, ts(0)), (1L, ts(10)), (2L, ts(5)), (1L, ts(80)),
      (2L, ts(50)), (1L, ts(95)), (3L, ts(30)))
    input.addData(all.take(3)); q.processAllAvailable()
    input.addData(all.drop(3)); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sess_test")
      .groupBy("user_id").agg(max("sessions").as("sessions"), max("events").as("events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val batch = graft.operators.TimeSeries.sessionize(
      all.toDF("user_id", "ts"), "user_id", "ts", 1800L)
      .groupBy("user_id")
      .agg((max("session_idx") + 1).as("sessions"), count(lit(1)).as("events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(streamed == batch)
  }

  test("flatMapGroupsWithState emits closed sessions matching batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val q = EventStream.toMemorySink(
      EventStream.completedSessions(input.toDS(), gapSeconds = 1800).toDF(), "closed_test")
    // user 1: sessions {0,10}, {80,95} — first closes when 80 arrives
    // user 2: {5}, {50} — first closes when 50 arrives; user 3 stays open
    val all = Seq((1L, ts(0)), (1L, ts(10)), (2L, ts(5)), (1L, ts(80)),
      (2L, ts(50)), (1L, ts(95)), (3L, ts(30)))
    input.addData(all.take(3)); q.processAllAvailable()
    input.addData(all.drop(3)); q.processAllAvailable()
    q.stop()

    val closed = spark.table("closed_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def us(min: Int): Long = ts(min).getTime * 1000L
    // still-open sessions (1:{80,95}, 2:{50}, 3:{30}) must NOT be emitted
    assert(closed == Set(
      (1L, us(0), us(10), 2L),
      (2L, us(5), us(5), 1L)))
  }

  test("stream-static dim enrichment matches the batch broadcast join") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Timestamp)]
    val q = EventStream.toMemorySink(
      EventStream.enrichWithDim(input.toDF().toDF("user_id", "ts"), dim, "user_id"),
      "enrich_test")
    input.addData(Seq((1L, ts(0)), (2L, ts(1)), (9L, ts(2)))); q.processAllAvailable()
    input.addData(Seq((1L, ts(3)))); q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_test").select("user_id", "tier")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    // inner join: unknown user 9 dropped; user 1 enriched twice
    assert(got == Seq((1L, "gold"), (1L, "gold"), (2L, "silver")))
  }

  test("map-only corpus ops (PII redact, hash sample) run unchanged on streams") {
    // redactPii and stratifiedHashSample are pure projections — the SAME
    // column expressions must produce the SAME values on a stream with
    // no state, no watermark, and batch/stream parity by construction.
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Text
    import graft.operators.Sampling
    val rows = Seq(
      (1L, "en", "mail me at a.b@x.io or 555-123-4567"),
      (2L, "fr", "server 10.0.0.1 responded"),
      (3L, "en", "no pii here"))
    val input = MemoryStream[(Long, String, String)]
    val streamed = Sampling.stratifiedHashSample(
      input.toDF().toDF("doc_id", "lang", "text"),
      "doc_id", "lang", Map("en" -> 0.5), defaultRate = 1.0)
      .withColumn("redacted", Text.redactPii(col("text")))
    val q = EventStream.toMemorySink(streamed, "redact_test")
    input.addData(rows.take(2)); q.processAllAvailable()
    input.addData(rows.drop(2)); q.processAllAvailable()
    q.stop()
    val got = spark.table("redact_test")
      .select("doc_id", "sampled", "redacted")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val batch = Sampling.stratifiedHashSample(
      rows.toDF("doc_id", "lang", "text"), "doc_id", "lang",
      Map("en" -> 0.5), defaultRate = 1.0)
      .withColumn("redacted", Text.redactPii(col("text")))
      .select("doc_id", "sampled", "redacted")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == batch)
    assert(got.find(_._1 == 1L).get._3 == "mail me at [EMAIL] or [PHONE]")
    assert(got.find(_._1 == 2L).get._3 == "server [IP] responded")
  }

  test("sketch aggregates run incrementally on streams and match batch") {
    // The 100 TB continuous-stats shape: theta (distinct) and CMS
    // (frequency) sketches maintained by a streaming aggregation in
    // update mode. Both are TypedImperativeAggregates with mergeable
    // buffers, so incremental batches must converge to the batch sketch
    // over the same rows.
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Sketches
    val rows = (1L to 400L).map(i => (if (i % 2 == 0) "a" else "b", i % 97))
    val input = MemoryStream[(String, Long)]
    val streamed = input.toDF().toDF("grp", "v")
      .groupBy(col("grp"))
      .agg(Sketches.thetaSketch(Sketches.hash63(col("v")), 64).as("theta"),
        Sketches.cms(Sketches.hash63(col("v")), 4, 128).as("cms"))
    // complete mode: the memory sink holds exactly the final state
    val q = streamed.writeStream.format("memory")
      .queryName("sketch_test").outputMode("complete").start()
    input.addData(rows.take(150)); q.processAllAvailable()
    input.addData(rows.drop(150)); q.processAllAvailable()
    q.stop()
    val got = spark.table("sketch_test")
      .collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getSeq[Long](2)))
      .sortBy(_._1)
    val batch = rows.toDF("grp", "v")
      .groupBy(col("grp"))
      .agg(Sketches.thetaSketch(Sketches.hash63(col("v")), 64).as("theta"),
        Sketches.cms(Sketches.hash63(col("v")), 4, 128).as("cms"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getSeq[Long](2)))
      .sortBy(_._1)
    assert(got.length == 2 && got.sameElements(batch),
      "streamed sketches must equal batch sketches over the same rows")
  }

  test("streaming quantile sketch equals the batch sketch over the same rows") {
    // The quantile corner of the sketch family under incremental
    // aggregation: the bottom-k sample is layout- and order-independent
    // (the k smallest hashes win regardless of batch boundaries), so
    // complete-mode streaming state must be BIT-identical to batch.
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Sketches
    val rows = (1L to 500L).map(i => (if (i % 3 == 0) "a" else "b", i * 1.5 % 37))
    val input = MemoryStream[(String, Double)]
    val streamed = input.toDF().toDF("grp", "v")
      .groupBy(col("grp"))
      .agg(Sketches.quantileSketch(
        Sketches.hash63(col("v") * 1000 + length(col("grp"))), col("v"), 32).as("sk"))
      .select(col("grp"), col("sk.hs"), col("sk.vs"),
        Sketches.sketchQuantile(col("sk"), 0.5).as("p50"))
    val q = streamed.writeStream.format("memory")
      .queryName("qsk_test").outputMode("complete").start()
    input.addData(rows.take(200)); q.processAllAvailable()
    input.addData(rows.drop(200)); q.processAllAvailable()
    q.stop()
    val got = spark.table("qsk_test")
      .collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getSeq[Double](2), r.getDouble(3)))
      .sortBy(_._1)
    val batch = rows.toDF("grp", "v")
      .groupBy(col("grp"))
      .agg(Sketches.quantileSketch(
        Sketches.hash63(col("v") * 1000 + length(col("grp"))), col("v"), 32).as("sk"))
      .select(col("grp"), col("sk.hs"), col("sk.vs"),
        Sketches.sketchQuantile(col("sk"), 0.5).as("p50"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getSeq[Double](2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.length == 2 && got.sameElements(batch),
      "streamed quantile sketch must equal the batch sketch")
  }

  test("streaming recall monitor converges to the batch evaluator") {
    // ANN quality monitoring online: approximate result rows stream in,
    // per-query recall vs a static exact top-k updates every batch and
    // must end equal to the batch recallAtK over the same rows.
    implicit val sqlCtx = spark.sqlContext
    val exact = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3)).toDF("qid", "cid", "rnk")
    val approxRows = Seq(
      (1L, 10L, 1), (1L, 99L, 2), (1L, 12L, 3),   // q1: 2 of 3
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3))   // q2: 3 of 3
    val input = MemoryStream[(Long, Long, Int)]
    val mon = graft.streaming.EventStream.recallMonitor(
      input.toDF().toDF("qid", "cid", "rnk"), exact, k = 3)
    val q = mon.writeStream.format("memory")
      .queryName("recall_mon").outputMode("complete").start()
    input.addData(approxRows.take(2)); q.processAllAvailable()
    // mid-stream state: q1 has 1 hit of 3 so far
    val mid = spark.table("recall_mon").collect()
      .map(r => (r.getLong(0), r.getAs[Double]("recall"))).toMap
    assert(mid.get(1L).contains(0.3333))
    input.addData(approxRows.drop(2)); q.processAllAvailable()
    q.stop()
    val fin = spark.table("recall_mon").collect()
      .map(r => (r.getLong(0), (r.getAs[Long]("n_hit"), r.getAs[Double]("recall")))).toMap
    assert(fin(1L) == ((2L, 0.6667)))
    assert(fin(2L) == ((3L, 1.0)))
    // batch evaluator over the same rows agrees
    val batch = graft.operators.SimilaritySearch.recallAtK(
      exact, approxRows.toDF("qid", "cid", "rnk"), k = 3)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("recall"))).toMap
    assert(batch(1L) == 0.6667 && batch(2L) == 1.0)
  }

  test("streaming ingest: cross-batch content dedup through the committed table") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    val path = tmp("graft-stream-ingest")
    val input = MemoryStream[(Long, String)]
    val q = EventStream.ingestSink(
      input.toDF().toDF("doc_id", "text"), path, "text", expectedItems = 100L)
    // batch 1: three docs, one within-batch dup (passes through, d14 rule)
    input.addData(Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta")))
    q.processAllAvailable()
    assert(SnapshotTable.read(spark, path).count() == 3L)
    // batch 2: one dup of BATCH-1 content on a new id, one new — the
    // dedup state crossed the batch boundary via the table's bloom
    // sidecar, not a streaming state store
    input.addData(Seq((10L, "gamma delta"), (11L, "epsilon zeta")))
    q.processAllAvailable()
    val after2 = SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after2 == Set((1L, "alpha beta"), (2L, "gamma delta"),
      (3L, "alpha beta"), (11L, "epsilon zeta")),
      s"cross-batch dedup failed: $after2")
    // batch 3 replays batch 2 (the restart/redelivery case): nothing
    // admitted, but the commit log still advances (audit trail)
    input.addData(Seq((10L, "gamma delta"), (11L, "epsilon zeta")))
    q.processAllAvailable()
    q.stop()
    assert(SnapshotTable.read(spark, path).count() == 4L,
      "replayed batch must admit nothing")
    assert(SnapshotTable.currentVersion(spark, path).contains(3L))
  }

  test("ingestSink restart from checkpoint redelivers the un-marked batch exactly-once") {
    // The crash window foreachBatch leaves open: offsets hit the WAL,
    // the ingest COMMITTED to the table, then the process died before
    // the checkpoint's commit marker landed. On restart Spark MUST
    // re-deliver that batch (at-least-once delivery), and the committed
    // table — not any state store — is what makes the redelivery a
    // no-op: its bloom/hash sidecars already contain the batch's
    // content, so the replayed ingest admits zero rows while the
    // version log records the replay. Simulated by deleting the latest
    // checkpoint commit marker between two query incarnations sharing
    // the checkpoint dir.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    val path = tmp("graft-restart-ingest")
    val ckpt = tmp("graft-restart-ckpt")
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q1 = EventStream.ingestSink(df, path, "text",
      expectedItems = 100L, checkpoint = Some(ckpt))
    input.addData(Seq((1L, "alpha"), (2L, "beta")))
    q1.processAllAvailable()
    input.addData(Seq((3L, "gamma")))
    q1.processAllAvailable()
    q1.stop()
    assert(SnapshotTable.read(spark, path).count() == 3L)
    val vAfterStop = SnapshotTable.currentVersion(spark, path).get
    // crash simulation: drop the newest commit marker so batch 1 reads
    // as WAL-logged-but-uncommitted to the restarted query
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length == 2, s"expected 2 commit markers, got ${commits.length}")
    assert(commits.last.delete())
    // the local checksum FS shadows every file with a .N.crc sidecar;
    // leaving it behind would block the restarted query's re-commit
    new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc").delete()
    val q2 = EventStream.ingestSink(df, path, "text",
      expectedItems = 100L, checkpoint = Some(ckpt))
    q2.processAllAvailable()
    q2.stop()
    // the replayed batch admitted nothing; the commit log advanced by
    // exactly the replay (audit trail of the redelivery)
    assert(SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "alpha"), (2L, "beta"), (3L, "gamma")),
      "restart redelivery duplicated rows — the committed table failed as the idempotence source")
    assert(SnapshotTable.currentVersion(spark, path).contains(vAfterStop + 1),
      "the redelivered batch must still commit (empty delta, version advances)")
  }

  test("fuzzySink: near-dups of committed content drop at the signature gate; restart replay admits nothing") {
    // r15 (VERDICT next-round #3): the micro-batch crawl with the
    // NEAR-dup gate. Batch 1 commits fresh docs (+ their minhash
    // signature sidecars); batch 2 carries a near-dup of batch-1
    // content (same shingles, one token appended) that must drop at
    // the fuzzy gate, an exact dup that must drop at the exact gate,
    // and a fresh doc that must land. Then a second query INCARNATION
    // sharing the checkpoint redelivers the un-marked batch: the
    // committed table + signature sidecars — not a state store — make
    // the replay admit zero rows.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    val path = tmp("graft-fuzzy-sink")
    val ckpt = tmp("graft-fuzzy-ckpt")
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val q1 = EventStream.fuzzySink(df, path, "doc_id", "text", tau = 0.5,
      expectedItems = 100L, checkpoint = Some(ckpt))
    input.addData(Seq((1L, base), (2L, "completely different content about ships and harbors tonight")))
    q1.processAllAvailable()
    assert(SnapshotTable.read(spark, path).count() == 2L)
    // batch 2: near-dup of doc 1 (one appended token — high Jaccard),
    // exact dup of doc 2, one genuinely new doc
    input.addData(Seq(
      (10L, base + " tonight"),
      (11L, "completely different content about ships and harbors tonight"),
      (12L, "a third topic entirely: glaciers calving into the fjord")))
    q1.processAllAvailable()
    q1.stop()
    val afterB2 = SnapshotTable.read(spark, path)
    assert(afterB2.count() == 3L,
      s"expected near-dup 10 and exact-dup 11 dropped; table: ${afterB2.collect().mkString}")
    assert(afterB2.filter(org.apache.spark.sql.functions.col("doc_id") === 10L).isEmpty,
      "near-dup of committed content was admitted — signature gate failed")
    assert(afterB2.filter(org.apache.spark.sql.functions.col("doc_id") === 12L).count() == 1L)
    val vAfterStop = SnapshotTable.currentVersion(spark, path).get
    // crash simulation: drop the newest checkpoint commit marker so the
    // restarted incarnation redelivers batch 2
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    commits.last.delete()
    new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc").delete()
    val q2 = EventStream.fuzzySink(df, path, "doc_id", "text", tau = 0.5,
      expectedItems = 100L, checkpoint = Some(ckpt))
    q2.processAllAvailable()
    q2.stop()
    val replayed = SnapshotTable.read(spark, path)
    assert(replayed.count() == 3L,
      "restart redelivery admitted rows — sidecar-backed fuzzy gate failed as the idempotence source")
    assert(SnapshotTable.currentVersion(spark, path).contains(vAfterStop + 1),
      "the redelivered batch must still commit (empty delta, version advances)")
  }

  test("ingestSink maintenance bounds versions, dirs, and sidecars in-line") {
    // ADVICE r11: at micro-batch cadence the per-commit bloom sidecars,
    // manifest dir lists, and delta files all grow without bound. The
    // maintenance hook must bound them from INSIDE the sink (compact →
    // expire → vacuum every N batches) while the dedup contract keeps
    // holding across the maintenance boundary.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    val path = tmp("graft-maint-ingest")
    val input = MemoryStream[(Long, String)]
    val q = EventStream.ingestSink(
      input.toDF().toDF("doc_id", "text"), path, "text", expectedItems = 100L,
      maintenance = Some(EventStream.Maintenance(
        everyBatches = 2, keep = 1, vacuumGraceMs = 0L,
        compactWhenDeltaBytes = 1L))) // test batches are tiny: always compact
    // 6 batches; ids 0..5, maintenance fires after batches 2 and 4
    val batches = Seq(
      Seq((1L, "alpha")), Seq((2L, "beta")), Seq((3L, "gamma"), (4L, "alpha")),
      Seq((5L, "delta")), Seq((6L, "beta"), (7L, "epsilon")), Seq((8L, "zeta")))
    batches.foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()
    // dedup held across every boundary: dups of batch-1/2 content dropped
    val rows = SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
      (5L, "delta"), (7L, "epsilon"), (8L, "zeta")), s"content wrong: $rows")
    // retention bounded: only the window's manifests remain, and the
    // compactions collapsed the dir chain (strictly fewer data dirs and
    // _versions files than the 6-batch no-maintenance chain would hold:
    // 6 manifests + 6 blooms + 6+ data dirs)
    assert(SnapshotTable.versions(spark, path).size <= 3,
      s"expire did not bound the version log: ${SnapshotTable.versions(spark, path)}")
    def count(rel: String, prefix: String) =
      Option(new java.io.File(path, rel).listFiles()).getOrElse(Array.empty)
        .count(_.getName.startsWith(prefix))
    assert(count(".", "snap-") <= 4, s"data-dir chain unbounded: ${count(".", "snap-")}")
    assert(count("_versions", "b") <= 3, s"bloom sidecars unbounded: ${count("_versions", "b")}")
    // and the surviving bloom still gates: old content is still a dup
    val s = SnapshotTable.ingest(spark,
      Seq((100L, "gamma")).toDF("doc_id", "text"), path, "text", 100L)
    assert(s.nNew == 0L, "maintenance lost dedup coverage")
  }

  test("maintenance skips the O(table) compact on an idle chain; bad policies fail at construction") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    // everyBatches = 0 would divide by zero batches into the stream;
    // keep = 0 would abort at the first expire tick — both must fail
    // when the policy is BUILT
    intercept[IllegalArgumentException](EventStream.Maintenance(everyBatches = 0))
    intercept[IllegalArgumentException](EventStream.Maintenance(keep = 0))
    // an idle-ish stream under default byte thresholds: ticks run
    // expire but SKIP the full-table rewrite (delta bytes tiny, chain
    // short), so the base dir from batch 0 survives un-rewritten
    val path = tmp("graft-maint-idle")
    val input = MemoryStream[(Long, String)]
    val q = EventStream.ingestSink(
      input.toDF().toDF("doc_id", "text"), path, "text", expectedItems = 100L,
      maintenance = Some(EventStream.Maintenance(everyBatches = 2, keep = 1)))
    (0 until 5).foreach { i => input.addData(Seq((i.toLong, s"doc $i"))); q.processAllAvailable() }
    q.stop()
    def dirs = Option(new java.io.File(path).listFiles()).get
      .map(_.getName).filter(_.startsWith("snap-")).sorted
    assert(dirs.exists(_.startsWith("snap-00000001")),
      "idle-chain maintenance rewrote the base dir (compact should have been skipped)")
    assert(SnapshotTable.versions(spark, path).size <= 2, "expire must still run on skip ticks")
    assert(SnapshotTable.read(spark, path).count() == 5L)
  }

  test("maintenance binpacks a long small-dir chain instead of rewriting the table") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    // delta bytes stay far below the rewrite threshold while the chain
    // grows past maxChainDirs: the tick must merge the SMALL TAIL
    // (kind `binpack` in the history, base dir kept by name) and never
    // run the O(table) compact
    val path = tmp("graft-maint-binpack")
    val input = MemoryStream[(Long, String)]
    val q = EventStream.ingestSink(
      input.toDF().toDF("doc_id", "text"), path, "text", expectedItems = 100L,
      maintenance = Some(EventStream.Maintenance(
        everyBatches = 4, keep = 10, maxChainDirs = 3)))
    (0 until 8).foreach { i =>
      input.addData(Seq((i.toLong, s"doc $i"))); q.processAllAvailable()
    }
    q.stop()
    val kinds = SnapshotTable.history(spark, path)
      .select("kind").collect().map(_.getString(0)).toSeq
    assert(kinds.count(_ == "binpack") >= 1, s"no binpack tick ran: $kinds")
    assert(!kinds.contains("compact"),
      s"chain-length trigger ran the O(table) rewrite instead of binpack: $kinds")
    // content exact, dedup intact across the binpack boundary
    assert(SnapshotTable.read(spark, path).count() == 8L)
    assert(SnapshotTable.ingest(spark,
      Seq((100L, "doc 3")).toDF("doc_id", "text"), path, "text", 100L).nNew == 0L,
      "binpack maintenance lost dedup coverage")
    // the chain is actually bounded after the tick
    assert(SnapshotTable.chainInfo(spark, path)._1 <= 5,
      s"chain still unbounded: ${SnapshotTable.chainInfo(spark, path)}")
  }

  test("maintenance retainForMs trims by age instead of count") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    intercept[IllegalArgumentException](
      EventStream.Maintenance(retainForMs = Some(-1L)))
    // a zero-age window keeps only the current snapshot at each tick; a
    // huge window retains the whole history regardless of `keep`
    def run(retain: Long, dir: String): Int = {
      val path = tmp(dir)
      val input = MemoryStream[(Long, String)]
      val q = EventStream.ingestSink(
        input.toDF().toDF("doc_id", "text"), path, "text", expectedItems = 100L,
        maintenance = Some(EventStream.Maintenance(everyBatches = 2, keep = 1,
          retainForMs = Some(retain))))
      (0 until 5).foreach { i =>
        input.addData(Seq((i.toLong, s"doc $i"))); q.processAllAvailable()
      }
      q.stop()
      val n = SnapshotTable.versions(spark, path).size
      assert(SnapshotTable.read(spark, path).count() == 5L)
      n
    }
    assert(run(0L, "graft-age0") <= 2, "zero-age window did not trim")
    assert(run(3600L * 1000, "graft-age1h") == 5, "1h window must retain all 5")
  }

  test("changelog stream tails commits exactly-once across restarts") {
    import graft.operators.SnapshotTable
    import graft.streaming.SnapshotChangelog
    val path = tmp("graft-cdc-stream")
    val ckpt = tmp("graft-cdc-ckpt")
    // v1 lands BEFORE the stream starts; startVersion=earliest replays it
    SnapshotTable.ingest(spark, Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      path, "text", 100L)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean, Set[Long])]()
    def sink() = SnapshotChangelog.changelogSink(spark, path,
      (delta, c) => { got.add((c.version, c.rewrite,
        delta.collect().map(_.getLong(0)).toSet)); () },
      checkpoint = Some(ckpt), startVersion = Some("earliest"))
    val q = sink()
    q.processAllAvailable()
    // two live commits while the stream runs: each arrives as exactly
    // its own delta ("beta" is a content dup in v2 — the admitted delta
    // is just doc 3)
    SnapshotTable.ingest(spark, Seq((3L, "gamma"), (4L, "beta")).toDF("doc_id", "text"),
      path, "text", 100L)
    q.processAllAvailable()
    SnapshotTable.ingest(spark, Seq((5L, "delta")).toDF("doc_id", "text"),
      path, "text", 100L)
    q.processAllAvailable()
    q.stop()
    assert(got.toArray.toSeq == Seq(
      (1L, false, Set(1L, 2L)), (2L, false, Set(3L)), (3L, false, Set(5L))),
      s"live tail wrong: ${got.toArray.toSeq}")
    // a commit lands while the stream is DOWN; the restarted query picks
    // up at the checkpoint cursor: no replay of v1-v3, no gap over v4
    SnapshotTable.ingest(spark, Seq((6L, "epsilon")).toDF("doc_id", "text"),
      path, "text", 100L)
    got.clear()
    val q2 = sink()
    q2.processAllAvailable()
    q2.stop()
    assert(got.toArray.toSeq == Seq((4L, false, Set(6L))),
      s"restart must deliver exactly the missed commit: ${got.toArray.toSeq}")
    // a rewrite commit fails the default sink loudly instead of
    // re-emitting the whole table as a phantom delta
    SnapshotTable.compact(spark, path, textCol = Some("text"), expectedItems = 100L)
    val q3 = sink()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    assert(e.getMessage.contains("rewrite commit") ||
      Option(e.getCause).exists(_.getMessage.contains("rewrite commit")), e.getMessage)
    q3.stop()
    // with allowRewrites the commit arrives flagged, full dir list
    got.clear()
    val ckpt2 = tmp("graft-cdc-ckpt2")
    val q4 = SnapshotChangelog.changelogSink(spark, path,
      (delta, c) => { got.add((c.version, c.rewrite,
        delta.collect().map(_.getLong(0)).toSet)); () },
      checkpoint = Some(ckpt2), startVersion = Some((SnapshotTable.versions(spark, path).max - 1).toString),
      allowRewrites = true)
    q4.processAllAvailable()
    q4.stop()
    assert(got.toArray.toSeq == Seq(
      (5L, true, Set(1L, 2L, 3L, 5L, 6L))),
      s"rewrite commit must arrive flagged with the full set: ${got.toArray.toSeq}")
  }

  test("changelog earliest-replay over a trimmed left edge emits a flagged baseline") {
    import graft.operators.SnapshotTable
    import graft.streaming.SnapshotChangelog
    val path = tmp("graft-cdc-trim")
    SnapshotTable.ingest(spark, Seq((1L, "a")).toDF("doc_id", "text"), path, "text", 100L)
    SnapshotTable.ingest(spark, Seq((2L, "b")).toDF("doc_id", "text"), path, "text", 100L)
    SnapshotTable.ingest(spark, Seq((3L, "c")).toDF("doc_id", "text"), path, "text", 100L)
    SnapshotTable.expire(spark, path, keep = 2) // retained: {2, 3}
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean, Set[Long])]()
    val q = SnapshotChangelog.changelogSink(spark, path,
      (delta, c) => { got.add((c.version, c.rewrite,
        delta.collect().map(_.getLong(0)).toSet)); () },
      startVersion = Some("earliest"), allowRewrites = true)
    q.processAllAvailable()
    q.stop()
    // v2's parent is expired: its delta is unprovable by directory, so
    // it arrives as a FLAGGED baseline with v2's full snapshot; v3 is a
    // provable append and arrives as exactly its delta
    assert(got.toArray.toSeq == Seq(
      (2L, true, Set(1L, 2L)), (3L, false, Set(3L))),
      s"trimmed-edge replay wrong: ${got.toArray.toSeq}")
  }

  test("upsertSink applies a CDC feed as O(batch) merge-on-read commits; maintenance folds the overlay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    val path = tmp("graft-upsert-sink")
    val input = MemoryStream[(Long, String, Boolean, Long)]
    val q = EventStream.upsertSink(
      input.toDF().toDF("doc_id", "text", "del", "seq"), path, "doc_id",
      deleteCol = Some("del"), orderCol = Some("seq"), textCol = Some("text"),
      expectedItems = 100L,
      maintenance = Some(EventStream.Maintenance(everyBatches = 2, keep = 1,
        vacuumGraceMs = 0L, maxTombstones = 1)))
    // batch 0 bootstraps the absent table (empty v1 baseline from the
    // payload schema) and inserts three rows
    input.addData(Seq((1L, "a", false, 1L), (2L, "b", false, 1L), (3L, "c", false, 1L)))
    q.processAllAvailable()
    def current() = SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(current() == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L))
    // batch 1: update, delete, and a within-batch key collision the
    // orderCol resolves latest-wins — one O(batch) commit, base carried
    input.addData(Seq((2L, "b2", false, 2L), (3L, "x", true, 2L),
      (4L, "d0", false, 1L), (4L, "d", false, 2L)))
    q.processAllAvailable()
    assert(current() == Set((1L, "a"), (2L, "b2"), (4L, "d")),
      s"CDC apply diverged: ${current()}")
    val m3 = SnapshotTable.readManifestChecked(spark, path, 3L)
    assert(m3.tombstones.size == 2 && m3.morKey.contains("doc_id"))
    assert(SnapshotTable.readManifestChecked(spark, path, 2L)
      .dirs.forall(m3.dirs.contains), "upsert batch rewrote the base")
    // batch 2 (batchId 2, everyBatches 2): maintenance fires — the
    // overlay exceeds maxTombstones, so compaction folds it into files,
    // expire trims to keep=1, vacuum reclaims the tombstone sidecars
    input.addData(Seq((1L, "a2", false, 3L)))
    q.processAllAvailable()
    q.stop()
    assert(current() == Set((1L, "a2"), (2L, "b2"), (4L, "d")))
    val vs = SnapshotTable.versions(spark, path)
    val mLast = SnapshotTable.readManifestChecked(spark, path, vs.last)
    assert(mLast.tombstones.isEmpty && mLast.morKey.isEmpty && mLast.dirs.size == 1,
      s"maintenance did not fold the overlay: $mLast")
    val tsLeft = Option(new java.io.File(path, "_tombstones").listFiles())
      .map(_.length).getOrElse(0)
    assert(tsLeft == 0, s"vacuum left $tsLeft tombstone sidecars")
  }

  test("upsertSink restart redelivery is logically idempotent through the overlay") {
    // Same crash window as the ingestSink restart pin: offsets in the
    // WAL, merge committed, process dies before the commit marker. The
    // replayed batch re-applies the SAME winning rows — its tombstone
    // masks the first application's delta and the rewritten rows carry
    // identical content, so the logical table is unchanged while the
    // version log records the replay.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    val path = tmp("graft-upsert-restart")
    val ckpt = tmp("graft-upsert-ckpt")
    val input = MemoryStream[(Long, String, Boolean, Long)]
    val df = input.toDF().toDF("doc_id", "text", "del", "seq")
    def sink() = EventStream.upsertSink(df, path, "doc_id",
      deleteCol = Some("del"), orderCol = Some("seq"),
      expectedItems = 100L, checkpoint = Some(ckpt))
    val q1 = sink()
    input.addData(Seq((1L, "a", false, 1L), (2L, "b", false, 1L)))
    q1.processAllAvailable()
    input.addData(Seq((2L, "b2", false, 2L), (1L, "x", true, 2L)))
    q1.processAllAvailable()
    q1.stop()
    def current() = SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(current() == Set((2L, "b2")))
    val vAfterStop = SnapshotTable.currentVersion(spark, path).get
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length == 2, s"expected 2 commit markers, got ${commits.length}")
    assert(commits.last.delete())
    new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc").delete()
    val q2 = sink()
    q2.processAllAvailable()
    q2.stop()
    assert(current() == Set((2L, "b2")),
      "replayed CDC batch changed the logical table — the overlay failed as the idempotence source")
    assert(SnapshotTable.currentVersion(spark, path).contains(vAfterStop + 1),
      "the redelivered batch must still commit (audit trail, version advances)")
  }

  test("end-to-end CDC: upsertSink applies a keyed feed; SQL reads and the change feed consume it between compactions") {
    // The round-16 capstone: a streaming CDC APPLY maintains a keyed
    // merge-on-read table, and BOTH consumption paths work with the
    // overlay outstanding — a plain SQL SELECT (the in-scan keyed mask)
    // and the change-feed stream (MOR commits as delete/insert events).
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    import scala.jdk.CollectionConverters._
    val path = tmp("graft-cdc-e2e") + "/t"
    val ckpt = tmp("graft-cdc-e2e-ck")
    val input = MemoryStream[(Long, String, Boolean)]
    val q = EventStream.upsertSink(
      input.toDF().toDF("k", "payload", "__del"), path, "k",
      deleteCol = Some("__del"), checkpoint = Some(ckpt))
    input.addData(Seq((1L, "one", false), (2L, "two", false), (3L, "three", false)))
    q.processAllAvailable()
    input.addData(Seq((2L, "two-v2", false), (3L, "x", true), (4L, "four", false)))
    q.processAllAvailable()
    q.stop()
    // overlay outstanding (no compaction ran): plain SQL sees the
    // merged state through the V2 scan's keyed mask
    val sql = spark.read.format("graft").load(path)
    sql.createOrReplaceTempView("cdc_e2e")
    assert(spark.sql("SELECT k, payload FROM cdc_e2e ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "one"), (2L, "two-v2"), (4L, "four")))
    // the change feed replays the apply history as events
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]()
    val feedCkpt = tmp("graft-cdc-e2e-fc")
    val feed = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startVersion", "earliest").load(path)
      .writeStream.option("checkpointLocation", feedCkpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k", "payload", "_change_type").collect()
          .foreach(r => got.add((r.getLong(0), r.getString(1), r.getString(2))))
        ()
      }.start()
    feed.processAllAvailable()
    feed.stop()
    val events = got.asScala.toSet
    // batch 1 upserts 3 keys into an empty table (inserts only); batch 2
    // updates k=2 (an update_preimage/update_postimage PAIR — k=2
    // existed and is re-added), deletes k=3, inserts k=4
    assert(events == Set(
      (1L, "one", "insert"), (2L, "two", "insert"), (3L, "three", "insert"),
      (2L, "two", "update_preimage"), (2L, "two-v2", "update_postimage"),
      (3L, "three", "delete"), (4L, "four", "insert")), s"events: $events")
    // folding the feed reconstructs the SQL view exactly (update events
    // fold like their delete/insert halves)
    val folded = SnapshotTable.changes(spark, path, 1L)
      .groupBy("k", "payload")
      .agg(sum(when(col("_change_type").isin("insert", "update_postimage"), 1)
        .otherwise(-1)).as("n"))
      .filter(col("n") > 0).select("k", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(folded == Set((1L, "one"), (2L, "two-v2"), (4L, "four")))
  }

  // ---- native writeStream.format("graft") sink ---------------------------

  test("native streaming sink: per-epoch append commits; the first epoch creates the table") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    val path = tmp("graft-natsink") + "/t"
    val ckpt = tmp("graft-natsink-ckpt")
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = df.writeStream.format("graft")
      .option("checkpointLocation", ckpt).start(path)
    input.addData(Seq((1L, "a"), (2L, "b"))); q.processAllAvailable()
    input.addData(Seq((3L, "c"))); q.processAllAvailable()
    q.stop()
    // two epochs = two append commits, no foreachBatch anywhere
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L))
    val kinds = SnapshotTable.history(spark, path)
      .select("kind").collect().map(_.getString(0)).toSeq
    assert(kinds == Seq("append", "append"))
    val rows = SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the table is a first-class graft table: V2 batch read agrees
    assert(spark.read.format("graft").load(path).count() == 3L)
    // restart with NEW data continues appending under the same queryId
    val q2 = df.writeStream.format("graft")
      .option("checkpointLocation", ckpt).start(path)
    input.addData(Seq((4L, "d"))); q2.processAllAvailable()
    q2.stop()
    assert(SnapshotTable.read(spark, path).count() == 4L)
  }

  test("native sink restart redelivery is exactly-once through the epoch marker") {
    // The crash window: the epoch's table commit landed, the process
    // died before the CHECKPOINT marker did. Spark re-delivers the
    // epoch; the (queryId, epochId) manifest marker makes the redelivery
    // a full no-op — no rows, and (unlike the foreachBatch ingest sink,
    // which re-runs an empty ingest) NO new version either.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    val path = tmp("graft-natsink-r") + "/t"
    val ckpt = tmp("graft-natsink-rc")
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    def sink() = df.writeStream.format("graft")
      .option("checkpointLocation", ckpt).start(path)
    val q1 = sink()
    input.addData(Seq((1L, "alpha"), (2L, "beta"))); q1.processAllAvailable()
    input.addData(Seq((3L, "gamma"))); q1.processAllAvailable()
    q1.stop()
    assert(SnapshotTable.read(spark, path).count() == 3L)
    val vAfterStop = SnapshotTable.currentVersion(spark, path).get
    // crash simulation: drop the newest checkpoint commit marker so the
    // last epoch reads as WAL-logged-but-uncommitted on restart
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length == 2, s"expected 2 commit markers, got ${commits.length}")
    assert(commits.last.delete())
    new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc").delete()
    val q2 = sink()
    q2.processAllAvailable()
    assert(SnapshotTable.read(spark, path).count() == 3L,
      "redelivered epoch duplicated rows — the epoch marker failed")
    assert(SnapshotTable.currentVersion(spark, path).contains(vAfterStop),
      "a no-op redelivery must not commit a new version")
    // the restarted incarnation keeps appending fresh epochs normally
    input.addData(Seq((4L, "delta"))); q2.processAllAvailable()
    q2.stop()
    assert(SnapshotTable.read(spark, path).count() == 4L)
    assert(SnapshotTable.currentVersion(spark, path).contains(vAfterStop + 1))
  }

  test("native sink to an existing partitioned table: hive layout, schema contract, constraints") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SnapshotTable
    val path = tmp("graft-natsink-p")
    val ckpt = tmp("graft-natsink-pc")
    SnapshotTable.write(spark,
      Seq((1L, "seed", "en")).toDF("doc_id", "text", "lang"),
      path, partitionCols = Seq("lang"), statsCols = Seq("doc_id"))
    val input = MemoryStream[(Long, String, String)]
    val df = input.toDF().toDF("doc_id", "text", "lang")
    val q = df.writeStream.format("graft")
      .option("checkpointLocation", ckpt).start(path)
    input.addData(Seq((2L, "two", "en"), (3L, "three", "fr")))
    q.processAllAvailable()
    q.stop()
    val cur = SnapshotTable.read(spark, path)
    assert(cur.count() == 3L)
    assert(cur.filter(col("lang") === "fr").count() == 1L)
    // the epoch's delta dir carries hive `lang=` segments
    val snapDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-00000002"))
    assert(snapDirs.nonEmpty)
    val segs = snapDirs.flatMap(d => d.listFiles()).map(_.getName).toSet
    assert(segs == Set("lang=en", "lang=fr"), s"unexpected layout: $segs")
    // additive schema drift refuses at the first epoch (the ingest
    // contract — the write plan resolves before any row lands)
    val input2 = MemoryStream[(Long, String, String, Long)]
    val drifted = input2.toDF().toDF("doc_id", "text", "lang", "extra")
    val e = intercept[Exception] {
      val qd = drifted.writeStream.format("graft")
        .option("checkpointLocation",
          tmp("graft-natsink-pc2"))
        .start(path)
      input2.addData(Seq((9L, "x", "en", 1L)))
      try qd.processAllAvailable() finally qd.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("additive schema drift")),
      s"wrong failure: ${messages(e)}")
  }

  test("native sink refuses Complete output mode loudly (append-only contract)") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp("graft-natsink-cm") + "/t"
    val input = MemoryStream[(Long, String)]
    val agg = input.toDF().toDF("doc_id", "text")
      .groupBy("text").count()
    val e = intercept[Exception] {
      val q = agg.writeStream.format("graft")
        .outputMode("complete")
        .option("checkpointLocation",
          tmp("graft-natsink-cmc"))
        .start(path)
      input.addData(Seq((1L, "a")))
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("Append output mode") ||
      m.contains("does not support Complete")), s"wrong failure: ${messages(e)}")
  }
}
