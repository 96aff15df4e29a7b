package graft

import org.apache.spark.sql.functions._
import graft.operators.SnapshotTable
import graft.sources.v2.GraftTable

/** Round-17 hardening: the change-feed start-bound contracts
  * ('earliest' on an expired-prefix table, stream/batch inclusive
  * agreement), analysis-class CALL resolution errors, and the vacuum
  * staging-sweep grace floor (pinned in Round16Spec's staging test).
  */
class Round17Spec extends SparkSpec {

  private def docs(r: Range) = {
    import spark.implicits._
    r.map(i => (i.toLong, s"t-$i")).toDF("doc_id", "text")
  }

  test("batch CDF 'earliest' on an expired-prefix table starts at the first replayable version") {
    val path = tmp("graft-cdf-earliest")
    SnapshotTable.ingest(spark, docs(0 until 10), path, "text",
      expectedItems = 1000L)                                  // v1
    SnapshotTable.ingest(spark, docs(10 until 20), path, "text",
      expectedItems = 1000L)                                  // v2
    SnapshotTable.ingest(spark, docs(20 until 30), path, "text",
      expectedItems = 1000L)                                  // v3
    SnapshotTable.expire(spark, path, keep = 2)               // retain v2, v3
    // v2's events need manifest v1 (expired) — 'earliest' must resolve
    // to v3, the first version whose pre-image is still retained, not
    // throw on the manifest the option exists to skip
    val ev = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startVersion", "earliest").load(path)
      .select("doc_id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(ev == (20L until 30L).map(i => (i, "insert", 3L)).toSet, s"events: $ev")
    // nothing replayable at all (head IS the loaded version): empty, not an error
    SnapshotTable.expire(spark, path, keep = 1)               // retain v3 only
    assert(spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startVersion", "earliest").load(path).count() == 0L)
    // an un-expired table still replays from its create baseline
    val full = tmp("graft-cdf-earliest-full")
    SnapshotTable.ingest(spark, docs(0 until 5), full, "text",
      expectedItems = 1000L)
    assert(spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startVersion", "earliest").load(full).count() == 5L)
  }

  test("plain data stream 'earliest' on an expired-prefix table refuses loudly (no silent skip)") {
    val path = tmp("graft-data-earliest")
    SnapshotTable.ingest(spark, docs(0 until 5), path, "text",
      expectedItems = 1000L)                                  // v1
    SnapshotTable.ingest(spark, docs(5 until 10), path, "text",
      expectedItems = 1000L)                                  // v2
    SnapshotTable.ingest(spark, docs(10 until 15), path, "text",
      expectedItems = 1000L)                                  // v3
    SnapshotTable.expire(spark, path, keep = 2)               // retain v2, v3
    // versions <= 2 survive only as whole-table state: silently
    // starting at v3 would omit two thirds of the table from a
    // backfill consumer — the stream must refuse with the remediation,
    // unlike the CDF stream whose 'earliest' means replayable EVENTS
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft")
        .option("startVersion", "earliest").load(path)
        .writeStream.option("checkpointLocation", tmp("graft-data-earliest-ck"))
        .format("noop").start()
      try q.processAllAvailable() finally q.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("cannot losslessly replay") &&
      m.contains("graft-snapshot-log")), s"wrong failure: ${msgs(e)}")
    // a fully-retained table still replays everything under 'earliest'
    val full = tmp("graft-data-earliest-full")
    SnapshotTable.ingest(spark, docs(0 until 5), full, "text",
      expectedItems = 1000L)
    import scala.jdk.CollectionConverters._
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q2 = spark.readStream.format("graft")
      .option("startVersion", "earliest").load(full)
      .writeStream.option("checkpointLocation", tmp("graft-data-earliest-fck"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("doc_id").collect().foreach(r => got.add(r.getLong(0)))
        ()
      }.start()
    q2.processAllAvailable()
    q2.stop()
    assert(got.asScala.toSet == (0L until 5L).toSet)
  }

  test("CDF stream numeric startVersion is INCLUSIVE, matching the batch bound") {
    import scala.jdk.CollectionConverters._
    val path = tmp("graft-cdf-incl")
    SnapshotTable.ingest(spark, docs(0 until 3), path, "text",
      expectedItems = 1000L)                                  // v1
    SnapshotTable.ingest(spark, docs(3 until 6), path, "text",
      expectedItems = 1000L)                                  // v2
    SnapshotTable.ingest(spark, docs(6 until 9), path, "text",
      expectedItems = 1000L)                                  // v3
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val ckpt = tmp("graft-cdf-incl-ck")
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startVersion", "2").load(path)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("doc_id", "_commit_version").collect()
          .foreach(r => got.add((r.getLong(0), r.getLong(1))))
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val events = got.asScala.toSet
    // startVersion=2 delivers commit 2's events too — the same rows the
    // batch read returns for the same bound
    val batch = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startVersion", "2").load(path)
      .select("doc_id", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(events == batch, s"stream $events != batch $batch")
    assert(events == ((3L until 6L).map((_, 2L)) ++ (6L until 9L).map((_, 3L))).toSet)
  }

  test("Bench cross-round guard: >3x-of-prior rows flag even when sweeps agree") {
    // the r16 failure mode: a co-tenant outlasting BOTH sweeps inflates
    // them equally, so cross-sweep arbitration (which fires on
    // DISAGREEMENT) never triggers — only the prior round's committed
    // value exposes the distortion
    assert(Bench.crossRoundSuspect(warm = 10.7, prior = Some(0.38)))   // r16's q12
    assert(!Bench.crossRoundSuspect(warm = 1.1, prior = Some(0.38)))   // within band
    assert(!Bench.crossRoundSuspect(warm = 10.7, prior = None))        // new row: no prior
    // millisecond rows ride the 0.05 s floor (scheduling noise alone
    // can triple a 20 ms row)
    assert(!Bench.crossRoundSuspect(warm = 0.12, prior = Some(0.02)))
    assert(Bench.crossRoundSuspect(warm = 0.2, prior = Some(0.02)))
    // prior map parsing: flat {"name": seconds} pairs, garbage-tolerant
    val m = Bench.parsePriorMap("""{"q1_agg": 0.325,
      "d50_cdc_changes":0.63, "weird": "skip-me", "n2": 2}""")
    assert(m == Map("q1_agg" -> 0.325, "d50_cdc_changes" -> 0.63, "n2" -> 2.0))
    assert(Bench.parsePriorMap("not json at all").isEmpty)
    // the prior only arms at ITS OWN scale factor: an sf0.1 prior must
    // not flag healthy sf1.0 (or sf0.001 smoke) timings
    val tagged = """{"_sf": "/root/testdata/sf0.1", "q1_agg": 0.325}"""
    assert(Bench.loadPriorMap(tagged, "/root/testdata/sf0.1") == Map("q1_agg" -> 0.325))
    assert(Bench.loadPriorMap(tagged, "/root/testdata/sf0.001").isEmpty)
    // an untagged (legacy) prior stays armed regardless of sf
    assert(Bench.loadPriorMap("""{"q1_agg": 0.325}""", "anything").nonEmpty)
  }

  test("storage-partitioned join: co-partitioned graft tables join with ZERO exchanges") {
    import spark.implicits._
    val a = tmp("graft-spj-a")
    val b = tmp("graft-spj-b")
    def docs(r: Range) = r.map(i =>
        (i.toLong, s"doc body $i", s"lang${i % 5}", (i * 13 % 997).toLong))
      .toDF("doc_id", "text", "lang", "n_chars")
    SnapshotTable.ingest(spark, docs(0 until 300), a, "text",
      expectedItems = 10000L, partitionCols = Seq("lang"), statsCols = Seq("doc_id"))
    // second commit so the scan spans several snapshot dirs per value
    SnapshotTable.ingest(spark, docs(300 until 400), a, "text",
      expectedItems = 10000L)
    SnapshotTable.ingest(spark,
      (0 until 5).map(i => (s"lang$i", 400L + i, s"dim $i")).toDF("lang", "thresh", "text"),
      b, "text", expectedItems = 100L, partitionCols = Seq("lang"))
    def scan(p: String) = spark.read.format("graft")
      .option("preserveDataGrouping", "true").load(p)
    val joined = scan(a).join(scan(b).hint("merge"), "lang")
      .filter(col("n_chars") > col("thresh"))
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val rows = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // oracle: the same join computed without the format
    val expect = (0 until 400).map(i => (s"lang${i % 5}", (i * 13 % 997).toLong))
      .filter { case (l, n) => n > 400L + l.last.asDigit }
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(rows == expect, s"got $rows expected $expect")
    // the whole plan — scan, join, aggregation — carries NO Exchange:
    // both sides reported KeyGroupedPartitioning(lang) and Spark aligned
    // the groups (collect() above finalized the AQE plan)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"SPJ plan still shuffles:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // ...and ZERO sorts: the scans report per-partition ordering on the
    // grouping key (trivially true — each task group is key-pure), so
    // EnsureRequirements drops both SMJ input sorts too
    assert(!plan.contains("Sort ["), s"SPJ join still sorts its inputs:\n$plan")
    // without the opt-in the same join shuffles (and still answers right)
    val plain = scan(a).drop("doc_id").join(
      spark.read.format("graft").load(b).hint("merge"), "lang")
      .filter(col("n_chars") > col("thresh"))
      .groupBy("lang").agg(count(lit(1)).as("n"))
    assert(plain.collect().map(r => (r.getString(0), r.getLong(1))).toMap == expect)
  }

  test("CDF update pairing: only existed-and-re-added keys pair; tombstone membership alone does not") {
    import spark.implicits._
    val path = tmp("graft-cdf-pairing")
    SnapshotTable.ingest(spark,
      Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text"), path, "text",
      expectedItems = 1000L)                                        // v1
    SnapshotTable.mergeOnRead(spark,
      Seq((2L, "x", true)).toDF("doc_id", "text", "__del"),
      path, "doc_id", deleteCol = Some("__del"))                    // v2: pure delete
    // v3 re-upserts the DELETED key 2 (invisible at v2 → a fresh
    // insert, not an update pair) and updates the LIVE key 1 (a pair)
    SnapshotTable.mergeOnRead(spark,
      Seq((2L, "two-again", false), (1L, "one-v2", false))
        .toDF("doc_id", "text", "__del"),
      path, "doc_id", deleteCol = Some("__del"))                    // v3
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val expected = Set(
      (1L, "one", "insert", 1L), (2L, "two", "insert", 1L),
      (2L, "two", "delete", 2L),
      (1L, "one", "update_preimage", 3L), (1L, "one-v2", "update_postimage", 3L),
      (2L, "two-again", "insert", 3L))
    val api = rows(SnapshotTable.changes(spark, path, 1L))
    assert(api == expected, s"api feed: $api")
    // the V2 batch CDF pairs identically (same classification driver)
    assert(rows(spark.read.format("graft")
      .option("readChangeFeed", "true").load(path)) == expected)
  }

  test("partition spec evolution: metadata commit, mixed-vintage reads, pruning on both layouts") {
    import spark.implicits._
    val path = tmp("graft-partevo")
    def rows(r: Range) = r.map(i =>
        (i.toLong, s"lang${i % 3}", s"g${i % 4}", s"body $i"))
      .toDF("doc_id", "lang", "grp", "text")
    SnapshotTable.ingest(spark, rows(0 until 120), path, "text",
      expectedItems = 10000L, partitionCols = Seq("lang"),
      statsCols = Seq("doc_id"))                                   // v1: lang layout
    val v2 = SnapshotTable.repartitionTable(spark, path, Seq("grp"))
    assert(v2 == 2L)
    // METADATA-ONLY: the old dir is untouched, still lang= layout
    assert(new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("snap-")).forall(d =>
        d.listFiles().exists(_.getName.startsWith("lang="))))
    SnapshotTable.ingest(spark, rows(120 until 200), path, "text",
      expectedItems = 10000L)                                      // v3: grp layout
    val newDirHasGrp = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("snap-00000003"))
      .forall(_.listFiles().exists(_.getName.startsWith("grp=")))
    assert(newDirHasGrp, "v3 delta not staged under the NEW spec")
    // the mixed chain reads whole: both vintages' partition values
    // restore from their own layouts
    val all = SnapshotTable.read(spark, path)
      .select("doc_id", "lang", "grp").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(all == (0 until 200).map(i =>
      (i.toLong, s"lang${i % 3}", s"g${i % 4}")).toSet)
    // pruning engages on BOTH vintages: a lang predicate prunes the
    // old dir's subtrees, a grp predicate the new dir's
    val (langDf, langRep) = SnapshotTable.readWhereReport(spark, path,
      col("lang") === "lang1")
    assert(langDf.count() == (0 until 200).count(_ % 3 == 1).toLong)
    assert(langRep.nPartDirsKept < langRep.nPartDirsTotal,
      s"lang predicate pruned nothing: $langRep")
    val (grpDf, grpRep) = SnapshotTable.readWhereReport(spark, path,
      col("grp") === "g2")
    assert(grpDf.count() == (0 until 200).count(_ % 4 == 2).toLong)
    assert(grpRep.nPartDirsKept < grpRep.nPartDirsTotal,
      s"grp predicate pruned nothing: $grpRep")
    // SQL/V2 serves the evolved chain through the distributed fallback
    val v2df = spark.read.format("graft").load(path)
    assert(v2df.count() == 200L)
    assert(v2df.queryExecution.executedPlan.toString
      .contains("GraftOverlayFallbackScan"), "expected the V1-bridge fallback")
    // the batch change feed crosses the boundary (per-dir unions)
    assert(SnapshotTable.changes(spark, path, 1L)
      .filter(col("_change_type") === "insert").count() == 200L)
    // boundaries are loud
    intercept[IllegalArgumentException] {
      SnapshotTable.repartitionTable(spark, path, Nil)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.repartitionTable(spark, path, Seq("nope"))
    }
    assert(SnapshotTable.repartitionTable(spark, path, Seq("grp")) == 3L,
      "same-spec restatement must be an idempotent no-op")
    // compact NORMALIZES: everything rewrites under the current spec,
    // the evolved marker clears, and the V2 native path returns
    SnapshotTable.compact(spark, path)
    val compacted = spark.read.format("graft").load(path)
    assert(compacted.count() == 200L)
    assert(compacted.queryExecution.executedPlan.toString.contains("BatchScan"),
      "compacted table should read through the native columnar scan again")
    assert(spark.read.format("graft").load(path)
      .filter(col("grp") === "g2").count() ==
      (0 until 200).count(_ % 4 == 2).toLong)
  }

  test("CALL with an unknown procedure fails as an analysis error (ROUTINE_NOT_FOUND)") {
    val wh = tmp("graft-r17-proc")
    val cat = s"g17p${Integer.toHexString(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"CALL $cat.system.comapct('t')").collect()
      }
      assert(e.getCondition == "ROUTINE_NOT_FOUND", s"condition: ${e.getCondition}")
      assert(e.getMessage.contains("compact"),
        s"error should list the available procedures: ${e.getMessage}")
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("partitioned-write distribution: 'hash' clusters each partition value into one file") {
    import spark.implicits._
    def wide(n: Int) = (0 until n).map(i => (i.toLong, s"t-$i", s"lang${i % 4}"))
      .toDF("doc_id", "text", "lang").repartition(8)
    def filesPerDir(path: String): Map[String, Int] = {
      val f = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dataDir = f.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
        .head.getPath
      f.listStatus(dataDir).filter(_.isDirectory).map { d =>
        d.getPath.getName ->
          f.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet"))
      }.toMap
    }
    // default (none): an 8-task input writes up to 8 files into EVERY
    // value dir — the layout the conf exists to fix
    val plain = tmp("graft-wdist-none")
    SnapshotTable.write(spark, wide(400), plain, "parquet",
      partitionCols = Seq("lang"))
    assert(filesPerDir(plain).values.max > 1,
      "expected the unclustered write to fan out per-dir (test premise)")
    // hash: one exchange on the partition column ⇒ one file per value
    val clustered = tmp("graft-wdist-hash")
    spark.conf.set("spark.graft.write.distribution", "hash")
    try {
      SnapshotTable.write(spark, wide(400), clustered, "parquet",
        partitionCols = Seq("lang"))
      val per = filesPerDir(clustered)
      assert(per.size == 4 && per.values.forall(_ == 1),
        s"hash distribution should write one file per partition dir: $per")
      // content identical either way
      assert(SnapshotTable.read(spark, clustered).orderBy("doc_id")
        .collect().toSeq ==
        SnapshotTable.read(spark, plain).orderBy("doc_id").collect().toSeq)
      // rebalance clusters too (AQE may split a skewed value; every
      // dir still collapses far below the 8-task fan-out here)
      spark.conf.set("spark.graft.write.distribution", "rebalance")
      val reb = tmp("graft-wdist-reb")
      SnapshotTable.write(spark, wide(400), reb, "parquet",
        partitionCols = Seq("lang"))
      assert(filesPerDir(reb).values.forall(_ <= 2),
        s"rebalance should coalesce the fan-out: ${filesPerDir(reb)}")
      // an unknown mode refuses loudly before any I/O
      spark.conf.set("spark.graft.write.distribution", "zigzag")
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.write(spark, wide(40), tmp("graft-wdist-bad"),
          "parquet", partitionCols = Seq("lang"))
      }
      assert(e.getMessage.contains("write.distribution"), e.getMessage)
    } finally spark.conf.unset("spark.graft.write.distribution")
  }

  test("CALL zorder: SQL-only multi-dim clustering; both interleaved axes prune after") {
    val wh = tmp("graft-r17-zorder")
    val cat = s"g17z${Integer.toHexString(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      // a SQUARE 256x256 grid (z-order prunes both axes only when the
      // interleaved domains are comparable) with pseudo-random padding
      // so the rewrite fans out over several files at the 1 MB target
      spark.sql(s"CREATE TABLE $cat.zt (doc_id BIGINT, x BIGINT, y BIGINT, " +
        "text STRING) TBLPROPERTIES ('stats' = 'x,y')")
      spark.sql(s"INSERT INTO $cat.zt SELECT id, id % 256, id DIV 256, " +
        "repeat(md5(CAST(id AS STRING)), 4) FROM range(65536)")
      val pre = spark.sql(
        s"SELECT count(*), sum(doc_id), sum(x * y) FROM $cat.zt").head
      val st = spark.sql(s"CALL $cat.system.zorder('zt', cols => 'x,y', " +
        "target_file_mb => 1, bits => 8)").collect().head
      assert(st.schema.fieldNames.toSeq ==
        Seq("files_before", "files_after", "bytes"))
      assert(st.getInt(1) > 1, s"zorder produced ${st.getInt(1)} file(s); " +
        "the prune audit below needs a fan-out")
      // content is layout-independent: the rewrite moved rows, not data
      assert(spark.sql(
        s"SELECT count(*), sum(doc_id), sum(x * y) FROM $cat.zt").head == pre)
      // the rewrite commits through the same chain (a compact-class
      // commit), so history/time-travel see it like any maintenance
      assert(spark.sql(s"SELECT kind FROM $cat.`zt$$history` " +
        "ORDER BY version DESC LIMIT 1").head.getString(0) == "compact")
      // and the Morton layout makes BOTH dimensions prunable — a slice
      // on either axis drops files (a plain x-sort would leave y
      // uniform across every file)
      val path = s"$wh/zt"
      for (c <- Seq("x", "y")) {
        val (df, rep) = SnapshotTable.readWhereReport(spark, path, col(c) < 8L)
        assert(rep.nFilesKept < rep.nFilesTotal, s"$c-slice did not prune: $rep")
        assert(df.count() == 8L * 256)
      }
      // arity contract: an empty column list refuses loudly
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.system.zorder('zt', cols => ' , ')").collect()
      }
      assert(e.getMessage.contains("at least one column"), e.getMessage)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  // ---- named branches (writable refs) -----------------------------------

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("branch WAP lifecycle: staged appends isolate from main; fast-forward publishes atomically and resets the ref") {
    val path = tmp("graft-branch-wap")
    SnapshotTable.ingest(spark, docs(0 until 100), path, "text",
      expectedItems = 1000L)                                   // main v1
    assert(SnapshotTable.createBranch(spark, path, "audit") == 1L)
    SnapshotTable.appendBranch(spark, docs(100 until 150), path, "audit")
    SnapshotTable.appendBranch(spark, docs(150 until 200), path, "audit")
    // isolation: main pinned at the fork while the branch carries both deltas
    assert(SnapshotTable.currentVersion(spark, path).contains(1L))
    assert(ids(SnapshotTable.read(spark, path)) == (0L until 100L).toSet)
    assert(ids(SnapshotTable.readBranch(spark, path, "audit")) ==
      (0L until 200L).toSet)
    assert(SnapshotTable.branches(spark, path) == Map("audit" -> ((1L, 3L))))
    // publish: ONE main commit of kind fast-forward, content = branch head
    assert(SnapshotTable.fastForward(spark, path, "audit") == 2L)
    assert(ids(SnapshotTable.read(spark, path)) == (0L until 200L).toSet)
    assert(SnapshotTable.history(spark, path)
      .filter(col("version") === 2L).select("kind").head.getString(0) ==
      "fast-forward")
    // the change feed sees the publish as delta inserts, never a rewrite
    val feed = SnapshotTable.changes(spark, path, 2L)
    assert(feed.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSet == Set("insert"))
    assert(feed.count() == 100L &&
      feed.select("_commit_version").distinct().head.getLong(0) == 2L)
    // the ref reset for the next WAP cycle: base re-pointed at the publish
    assert(SnapshotTable.branches(spark, path) == Map("audit" -> ((2L, 2L))))
    // a reset branch reads as main (base-manifest path), and an empty
    // branch fast-forward is a no-op at the current head
    assert(ids(SnapshotTable.readBranch(spark, path, "audit")) ==
      (0L until 200L).toSet)
    assert(SnapshotTable.fastForward(spark, path, "audit") == 2L)
    // second cycle on the SAME ref
    SnapshotTable.appendBranch(spark, docs(200 until 220), path, "audit")
    assert(SnapshotTable.currentVersion(spark, path).contains(2L))
    assert(SnapshotTable.fastForward(spark, path, "audit") == 3L)
    assert(ids(SnapshotTable.read(spark, path)) == (0L until 220L).toSet)
  }

  test("a running row stream delivers a fast-forward publish as the branch's appended rows") {
    import scala.jdk.CollectionConverters._
    val path = tmp("graft-branch-stream")
    SnapshotTable.ingest(spark, docs(0 until 40), path, "text",
      expectedItems = 1000L)                                   // main v1
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft").load(path)
      .writeStream.option("checkpointLocation", tmp("graft-branch-stream-ck"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("doc_id").collect().foreach(r => got.add(r.getLong(0))); ()
      }.start()
    try {
      q.processAllAvailable()
      SnapshotTable.createBranch(spark, path, "audit")
      SnapshotTable.appendBranch(spark, docs(40 until 55), path, "audit")
      assert(SnapshotTable.fastForward(spark, path, "audit") == 2L)
      q.processAllAvailable()
      assert(got.asScala.toSeq.sorted == (40L until 55L),
        s"stream must deliver exactly the branch's rows: ${got.asScala.toSeq.sorted}")
    } finally q.stop()
  }

  test("branch divergence: main advancing past the fork refuses fast-forward loudly") {
    val path = tmp("graft-branch-div")
    SnapshotTable.ingest(spark, docs(0 until 50), path, "text",
      expectedItems = 1000L)                                   // v1
    SnapshotTable.createBranch(spark, path, "audit")
    SnapshotTable.appendBranch(spark, docs(50 until 80), path, "audit")
    SnapshotTable.ingest(spark, docs(200 until 210), path, "text",
      expectedItems = 1000L)                                   // main diverges: v2
    val e = intercept[IllegalStateException] {
      SnapshotTable.fastForward(spark, path, "audit")
    }
    assert(e.getMessage.contains("fast-forward") &&
      e.getMessage.contains("fork point"), e.getMessage)
    // the stale branch still reads its own lineage (fork + delta, no v2 rows)
    assert(ids(SnapshotTable.readBranch(spark, path, "audit")) ==
      (0L until 80L).toSet)
    // recovery: drop and re-fork from the current head
    SnapshotTable.dropBranch(spark, path, "audit")
    assert(SnapshotTable.createBranch(spark, path, "audit") == 2L)
    assert(ids(SnapshotTable.readBranch(spark, path, "audit")) ==
      ((0L until 50L) ++ (200L until 210L)).toSet)
    // duplicate create refuses; unknown-branch ops refuse
    intercept[IllegalArgumentException] {
      SnapshotTable.createBranch(spark, path, "audit")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.readBranch(spark, path, "nope")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.dropBranch(spark, path, "nope")
    }
  }

  test("two genuinely concurrent branch appenders both land via the slot-race retry") {
    val path = tmp("graft-branch-race")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text",
      expectedItems = 1000L)
    SnapshotTable.createBranch(spark, path, "audit")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val threads = Seq(docs(20 until 40), docs(40 until 60)).map { batch =>
      new Thread(() => {
        try {
          barrier.await()
          versions.add(SnapshotTable.appendBranch(spark, batch, path, "audit"))
          ()
        } catch { case t: Throwable => errors.add(t); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, errors)
    import scala.jdk.CollectionConverters._
    assert(versions.asScala.map(_.toLong).toSet == Set(2L, 3L), versions)
    assert(ids(SnapshotTable.readBranch(spark, path, "audit")) ==
      (0L until 60L).toSet)
    assert(SnapshotTable.currentVersion(spark, path).contains(1L),
      "branch racers must never touch main")
  }

  test("branch retention: expire pins the fork point; vacuum refcounts branch-only dirs until the ref drops") {
    val path = tmp("graft-branch-ret")
    SnapshotTable.ingest(spark, docs(0 until 30), path, "text",
      expectedItems = 1000L)                                   // v1
    SnapshotTable.createBranch(spark, path, "audit", Some(1L))
    SnapshotTable.appendBranch(spark, docs(100 until 120), path, "audit")
    SnapshotTable.ingest(spark, docs(30 until 60), path, "text",
      expectedItems = 1000L)                                   // v2
    SnapshotTable.ingest(spark, docs(60 until 90), path, "text",
      expectedItems = 1000L)                                   // v3
    // keep=1 would drop v1 and v2 — but v1 is the live fork point
    assert(SnapshotTable.expire(spark, path, keep = 1) == 1)
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 3L))
    assert(ids(SnapshotTable.readBranch(spark, path, "audit")) ==
      ((0L until 30L) ++ (100L until 120L)).toSet)
    // vacuum must treat the branch-only delta dir as live
    Thread.sleep(50)
    SnapshotTable.vacuum(spark, path, graceMs = 0L)
    assert(ids(SnapshotTable.readBranch(spark, path, "audit")) ==
      ((0L until 30L) ++ (100L until 120L)).toSet)
    // dropping the ref releases both pins: the delta dir reclaims and
    // the fork point ages out on the next expire
    SnapshotTable.dropBranch(spark, path, "audit")
    Thread.sleep(50)
    val st = SnapshotTable.vacuum(spark, path, graceMs = 0L)
    assert(st.nDataDirs >= 1, s"expected the branch delta dir to reclaim: $st")
    assert(SnapshotTable.expire(spark, path, keep = 1) == 1)
    assert(SnapshotTable.versions(spark, path) == Seq(3L))
    assert(ids(SnapshotTable.read(spark, path)) == (0L until 90L).toSet)
  }

  test("branch appends inherit the table contract: constraints gate, schema drift refuses") {
    import spark.implicits._
    val path = tmp("graft-branch-contract")
    SnapshotTable.ingest(spark, docs(0 until 10), path, "text",
      expectedItems = 1000L)
    SnapshotTable.addConstraint(spark, path, "pos_id", "doc_id >= 0",
      mode = "fail")
    SnapshotTable.createBranch(spark, path, "audit")
    val bad = Seq((-5L, "negative")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.appendBranch(spark, bad, path, "audit")
    }
    assert(e.getMessage.contains("pos_id"), e.getMessage)
    val drift = Seq((10L, "t-10", "extra")).toDF("doc_id", "text", "surprise")
    val e2 = intercept[Exception] {
      SnapshotTable.appendBranch(spark, drift, path, "audit")
    }
    assert(e2.getMessage.contains("surprise") ||
      e2.getMessage.toLowerCase.contains("schema"), e2.getMessage)
    // the refusals left nothing staged on the ref
    assert(SnapshotTable.branches(spark, path) == Map("audit" -> ((2L, 2L))))
  }

  test("branch SQL faces: option read/write, VERSION AS OF, t$refs, t$branch_, CALL lifecycle") {
    val wh = tmp("graft-r17-branch-sql")
    val cat = s"g17b${Integer.toHexString(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      spark.sql(s"CREATE TABLE $cat.bt (doc_id BIGINT, text STRING)")
      spark.sql(s"INSERT INTO $cat.bt SELECT id, concat('t-', id) FROM range(100)")
      assert(spark.sql(s"CALL $cat.system.create_branch('bt', branch => 'audit')")
        .head.getLong(0) == 2L)
      val path = s"$wh/bt"
      // the DataFrameWriter branch option stages onto the ref
      import spark.implicits._
      (100L until 150L).map(i => (i, s"t-$i")).toDF("doc_id", "text")
        .write.format("graft").option("branch", "audit").mode("append").save(path)
      // reader option and catalog faces agree: main 100, branch 150
      assert(spark.sql(s"SELECT count(*) FROM $cat.bt").head.getLong(0) == 100L)
      assert(spark.read.format("graft").option("branch", "audit").load(path)
        .count() == 150L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.bt VERSION AS OF 'audit'")
        .head.getLong(0) == 150L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.`bt$$branch_audit`")
        .head.getLong(0) == 150L)
      assert(spark.sql(s"SELECT * FROM $cat.`bt$$refs`").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq == Seq(("audit", "branch", 2L, 3L)))
      // branch chains are append-only through every face
      val e = intercept[UnsupportedOperationException] {
        (0L until 5L).map(i => (i, s"x-$i")).toDF("doc_id", "text")
          .write.format("graft").option("branch", "audit").mode("overwrite").save(path)
      }
      assert(e.getMessage.contains("append-only"), e.getMessage)
      // a branch table is batch-read only — no streaming, no V2 writes
      val cap = GraftTable.forBranch(spark, path, "audit").capabilities()
      assert(cap.size() == 1 && cap.contains(
        org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ), cap)
      // publish + drop through CALL; main serves the audited rows
      assert(spark.sql(s"CALL $cat.system.fast_forward('bt', branch => 'audit')")
        .head.getLong(0) == 3L)
      assert(spark.sql(s"SELECT count(*) FROM $cat.bt").head.getLong(0) == 150L)
      spark.sql(s"CALL $cat.system.drop_branch('bt', branch => 'audit')").collect()
      assert(spark.sql(s"SELECT * FROM $cat.`bt$$refs`").count() == 0L)
      intercept[Exception] {
        spark.sql(s"SELECT count(*) FROM $cat.bt VERSION AS OF 'audit'").collect()
      }
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }
}
