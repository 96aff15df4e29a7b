package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The DataSource V2 surface of the snapshot table format
  * ([[graft.sources.v2.GraftDataSource]] / [[graft.sources.v2.GraftCatalog]]):
  * `spark.read.format("graft")` and SQL (incl. `VERSION AS OF`) must
  * see exactly what the SnapshotTable API sees, with the SAME
  * stats/bloom/partition file pruning readWhere plans — pushed filters
  * audited in the executed plan, prune counts cross-checked against
  * readWhereReport.
  */
class GraftV2SourceSpec extends SparkSpec {

  import graft.operators.SnapshotTable

  private def docs(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"text-$i", s"lang${i % 3}")).toDF("doc_id", "text", "lang")
  }

  /** Three-commit chain with doc_id stats — the d25/d38 fixture shape. */
  private def chain(prefix: String): String = {
    val path = tmp(prefix)
    Seq(0 until 200, 200 until 400, 400 until 600).foreach { r =>
      SnapshotTable.ingest(spark, docs(r), path, "text",
        expectedItems = 10000L, statsCols = Seq("doc_id"))
    }
    path
  }

  private def graftScanInfo(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.description()
    }.getOrElse(fail("no BatchScanExec in the executed plan"))

  test("format(\"graft\") reads the current snapshot identically to SnapshotTable.read") {
    val path = chain("graft-v2-read")
    val v2 = spark.read.format("graft").load(path)
    assert(v2.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(v2.count() == 600L)
    assert(v2.except(SnapshotTable.read(spark, path)).isEmpty)
    assert(SnapshotTable.read(spark, path).except(v2).isEmpty)
  }

  test("versionAsOf / timestampAsOf options time-travel like readAt/readAtTimestamp") {
    val path = chain("graft-v2-tt")
    val v1 = spark.read.format("graft").option("versionAsOf", "1").load(path)
    assert(v1.count() == 200L)
    assert(v1.except(SnapshotTable.readAt(spark, path, 1L)).isEmpty)
    // timestamp pin: v2's recorded commit instant resolves to version 2
    val t2 = SnapshotTable.history(spark, path)
      .filter(col("version") === 2L).select("commit_ts")
      .head.getTimestamp(0).getTime
    val v2 = spark.read.format("graft")
      .option("timestampAsOf", t2.toString).load(path)
    assert(v2.count() == 400L)
    intercept[Exception] {
      spark.read.format("graft").option("versionAsOf", "1")
        .option("timestampAsOf", t2.toString).load(path).count()
    }
  }

  test("pushed filters reach the scan and prune the same files as readWhere") {
    val path = chain("graft-v2-prune")
    val pred = col("doc_id") >= 250L && col("doc_id") < 350L
    val (_, rep) = SnapshotTable.readWhereReport(spark, path, pred)
    assert(rep.nFilesKept < rep.nFilesTotal, s"fixture did not prune: $rep")
    val v2 = spark.read.format("graft").load(path).filter(pred)
    val info = graftScanInfo(v2)
    assert(info.contains("PushedFilters: [") && info.contains("doc_id"),
      s"filters not pushed to the graft scan: $info")
    assert(info.contains(s"files=${rep.nFilesKept}/${rep.nFilesTotal}"),
      s"V2 scan pruned differently than readWhere ($rep): $info")
    // pruning must not change the answer
    assert(v2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      (250L until 350L).toSeq)
  }

  test("OR-of-ranges pushdown prunes through SQL-shaped predicates too") {
    val path = chain("graft-v2-or")
    val pred = col("doc_id") < 50L || col("doc_id") >= 550L
    val (_, rep) = SnapshotTable.readWhereReport(spark, path, pred)
    assert(rep.nFilesKept < rep.nFilesTotal)
    val v2 = spark.read.format("graft").load(path).filter(pred)
    assert(graftScanInfo(v2).contains(s"files=${rep.nFilesKept}/${rep.nFilesTotal}"))
    assert(v2.count() == 100L)
  }

  test("runtime In filter (DSv2 dynamic file pruning) shrinks the planned file set after planning") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val path = chain("graft-v2-runtime")
    def buildScan() = graft.sources.v2.GraftTable
      .forVersion(spark, path, 3L)
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    def nFiles(s: org.apache.spark.sql.connector.read.Scan): Int =
      s.toBatch.planInputPartitions()
        .map(_.asInstanceOf[FilePartition].files.length).sum
    val before = nFiles(buildScan())
    // a selective join's build side delivers two doc_id keys at runtime
    // (production order: filter() first, then the single
    // planInputPartitions — mirrored here)
    val filtered = buildScan()
    assert(filtered.asInstanceOf[SupportsRuntimeFiltering]
      .filterAttributes().map(_.describe()).contains("doc_id"))
    filtered.asInstanceOf[SupportsRuntimeFiltering].filter(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("doc_id", Array(50L, 550L))))
    val after = nFiles(filtered)
    assert(after < before,
      s"runtime key set must prune files before any open: $after vs $before")
    // parity with the engine's own planning for the same key set
    val (_, rep) = SnapshotTable.readWhereReport(spark, path,
      col("doc_id").isin(50L, 550L))
    assert(after == rep.nFilesKept, s"V2 runtime pruning ($after files) != readWhere (${rep.nFilesKept})")
  }

  test("column pruning reaches the parquet scan (ReadSchema carries only requested columns)") {
    val path = chain("graft-v2-prunecols")
    val v2 = spark.read.format("graft").load(path).select("doc_id")
    val scan = v2.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }.get
    assert(scan.readSchema().fieldNames.toSeq == Seq("doc_id"),
      s"read schema not pruned: ${scan.readSchema()}")
    assert(v2.count() == 600L)
  }

  test("a partitioned table reads with partition values and hive-pruned listing") {
    val path = tmp("graft-v2-part")
    SnapshotTable.ingest(spark, docs(0 until 300), path, "text",
      expectedItems = 10000L, statsCols = Seq("doc_id"),
      partitionCols = Seq("lang"))
    val v2 = spark.read.format("graft").load(path)
    assert(v2.count() == 300L)
    assert(v2.filter(col("lang").isNull).count() == 0L)
    assert(v2.except(SnapshotTable.read(spark, path)).isEmpty)
    val one = spark.read.format("graft").load(path)
      .filter(col("lang") === "lang1")
    assert(one.count() == 100L)
    assert(one.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0 until 300).filter(_ % 3 == 1).map(_.toLong))
  }

  test("a column-mapped (renamed) table reads under LOGICAL names through V2") {
    val path = tmp("graft-v2-mapped")
    SnapshotTable.ingest(spark, docs(0 until 100), path, "text",
      expectedItems = 10000L)
    SnapshotTable.renameColumn(spark, path, "lang", "language")
    SnapshotTable.ingest(spark,
      docs(100 until 200).withColumnRenamed("lang", "language"), path, "text",
      expectedItems = 10000L)
    val v2 = spark.read.format("graft").load(path)
    assert(v2.columns.toSeq == Seq("doc_id", "text", "language"))
    assert(v2.count() == 200L)
    assert(v2.filter(col("doc_id") === 7L).select("language").head.getString(0) == "lang1")
    assert(v2.filter(col("doc_id") === 150L).select("language").head.getString(0) == "lang0")
    // and time travel reads version 1 under ITS name
    val v1 = spark.read.format("graft").option("versionAsOf", "1").load(path)
    assert(v1.columns.toSeq == Seq("doc_id", "text", "lang"))
  }

  test("a schema-evolved chain reads old directories null-filled through V2") {
    import spark.implicits._
    val path = tmp("graft-v2-evolve")
    SnapshotTable.ingest(spark,
      (0 until 50).map(i => (i.toLong, s"t$i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 10000L)
    SnapshotTable.ingest(spark,
      (50 until 100).map(i => (i.toLong, s"t$i", s"L${i % 2}"))
        .toDF("doc_id", "text", "lang"),
      path, "text", expectedItems = 10000L, evolveSchema = true)
    val v2 = spark.read.format("graft").load(path)
    assert(v2.count() == 100L)
    assert(v2.filter(col("doc_id") < 50 && col("lang").isNotNull).count() == 0L)
    assert(v2.filter(col("doc_id") === 51L).select("lang").head.getString(0) == "L1")
  }

  test("a positional-delete overlay is APPLIED by the V2 scan, identically to the API read") {
    val path = chain("graft-v2-posdel")
    SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id").between(150, 249) && col("lang") === "lang0")
    val api = SnapshotTable.read(spark, path)
    val v2 = spark.read.format("graft").load(path)
    assert(v2.count() == api.count())
    assert(v2.except(api).isEmpty && api.except(v2).isEmpty)
    // column pruning + filter pushdown still compose with the mask
    val pruned = v2.filter(col("doc_id").between(100, 299)).select("doc_id")
    val expect = (100 to 299).filterNot(i => i >= 150 && i <= 249 && i % 3 == 0)
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == expect.map(_.toLong))
    assert(graftScanInfo(pruned).contains("posDeleteSidecars=1"))
    // a second delete stacks; time travel BEFORE the deletes is unmasked
    SnapshotTable.deleteWherePositional(spark, path, col("doc_id") === 0L)
    assert(spark.read.format("graft").load(path).count() ==
      SnapshotTable.read(spark, path).count())
    assert(spark.read.format("graft").option("versionAsOf", "3").load(path)
      .count() == 600L)
    // compaction materializes; the scan returns to the unmasked path
    SnapshotTable.compact(spark, path, textCol = Some("text"),
      expectedItems = 10000L)
    val after = spark.read.format("graft").load(path)
    assert(!graftScanInfo(after.select("doc_id")).contains("posDeleteSidecars"))
    assert(after.count() == SnapshotTable.read(spark, path).count())
  }

  test("a positional-delete overlay on a PARTITIONED table masks through V2") {
    import spark.implicits._
    val path = tmp("graft-v2-posdel-part")
    val rows = (0 until 300).map(i => (i.toLong, s"text-$i", s"lang${i % 3}"))
      .toDF("doc_id", "text", "lang")
    SnapshotTable.ingest(spark, rows, path, "text", expectedItems = 10000L,
      statsCols = Seq("doc_id"), partitionCols = Seq("lang"))
    SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id") < 100 && col("lang") === "lang1")
    val api = SnapshotTable.read(spark, path)
    val v2 = spark.read.format("graft").load(path)
    assert(v2.count() == api.count())
    assert(v2.except(api).isEmpty && api.except(v2).isEmpty)
    // partition pruning composes with the row mask
    assert(v2.filter(col("lang") === "lang1").count() ==
      api.filter(col("lang") === "lang1").count())
  }

  test("a MULTI-COMMIT partitioned chain reads through V2 (per-root partition discovery)") {
    // regression: Spark's partition inference demands one base path, so
    // a multi-root hive-partitioned listing threw
    // CONFLICTING_DIRECTORY_STRUCTURES before the per-root merged spec
    import spark.implicits._
    val path = tmp("graft-v2-multiroot")
    val rows = (0 until 400).map(i => (i.toLong, s"text-$i", s"lang${i % 3}"))
      .toDF("doc_id", "text", "lang")
    SnapshotTable.ingest(spark, rows.filter(col("doc_id") < 200), path, "text",
      expectedItems = 10000L, partitionCols = Seq("lang"))
    SnapshotTable.ingest(spark, rows.filter(col("doc_id") >= 200), path, "text",
      expectedItems = 10000L)
    val api = SnapshotTable.read(spark, path)
    val v2 = spark.read.format("graft").load(path)
    assert(v2.count() == 400L)
    assert(v2.except(api).isEmpty && api.except(v2).isEmpty)
    // partition pruning still fires across both roots
    assert(v2.filter(col("lang") === "lang2").count() ==
      api.filter(col("lang") === "lang2").count())
  }

  test("MIN/MAX/COUNT push down to parquet footers (and refuse under overlay/mapping)") {
    import spark.implicits._
    val path = tmp("graft-v2-aggpd")
    val rows = (0 until 400).map(i => (i.toLong, s"text-$i", s"lang${i % 3}"))
      .toDF("doc_id", "text", "lang")
    SnapshotTable.ingest(spark, rows.filter(col("doc_id") < 200), path, "text",
      expectedItems = 10000L, partitionCols = Seq("lang"))
    SnapshotTable.ingest(spark, rows.filter(col("doc_id") >= 200), path, "text",
      expectedItems = 10000L)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val agg = spark.read.format("graft").load(path)
        .agg(count(lit(1)).as("n"), min("doc_id").as("lo"), max("doc_id").as("hi"))
      assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregation"))
      assert(agg.head == org.apache.spark.sql.Row(400L, 0L, 399L))
      // grouped by the PARTITION column: still footer/metadata-only
      val byLang = spark.read.format("graft").load(path)
        .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")
      assert(byLang.queryExecution.executedPlan.toString.contains("PushedAggregation"))
      assert(byLang.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("lang0", 134L), ("lang1", 133L), ("lang2", 133L)))
      // a residual WHERE blocks the pushdown (Spark-side rule) but the
      // answer stays exact through the ordinary pruned scan
      val filtered = spark.read.format("graft").load(path)
        .filter(col("doc_id") < 100).agg(count(lit(1)).as("n"))
      assert(filtered.head.getLong(0) == 100L)
      // an outstanding positional-delete overlay refuses the pushdown
      // (footers would count masked rows) — the masked scan answers
      SnapshotTable.deleteWherePositional(spark, path, col("doc_id") === 7L)
      val masked = spark.read.format("graft").load(path).agg(count(lit(1)).as("n"))
      assert(!masked.queryExecution.executedPlan.toString.contains("PushedAggregation"))
      assert(masked.head.getLong(0) == 399L)
    } finally spark.conf.unset("spark.sql.parquet.aggregatePushdown")
  }

  test("a streaming backfill over a multi-commit PARTITIONED chain reads (review regression)") {
    import spark.implicits._
    val path = tmp("graft-v2-stream-part")
    val ckpt = tmp("graft-v2-stream-part-ckpt")
    val rows = (0 until 120).map(i => (i.toLong, s"text-$i", s"lang${i % 3}"))
      .toDF("doc_id", "text", "lang")
    SnapshotTable.ingest(spark, rows.filter(col("doc_id") < 60), path, "text",
      expectedItems = 10000L, partitionCols = Seq("lang"))
    SnapshotTable.ingest(spark, rows.filter(col("doc_id") >= 60), path, "text",
      expectedItems = 10000L)
    // one catch-up batch spans BOTH hive-partitioned snapshot roots
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft")
      .option("startVersion", "earliest").load(path)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("doc_id").collect().foreach(r => got.add(r.getLong(0))); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSeq.sorted == (0L until 120L))
  }

  test("aggregate pushdown refuses on a schema-evolved chain instead of crashing (review regression)") {
    import spark.implicits._
    val path = tmp("graft-v2-agg-evolve")
    SnapshotTable.ingest(spark,
      (0 until 50).map(i => (i.toLong, s"t$i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 10000L)
    SnapshotTable.ingest(spark,
      (50 until 100).map(i => (i.toLong, s"t$i", i * 2L))
        .toDF("doc_id", "text", "score"),
      path, "text", expectedItems = 10000L, evolveSchema = true)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      // min/max of the EVOLVED column: old files lack it — pushdown must
      // refuse (footer lookup would fail) and the exact scan answers
      val agg = spark.read.format("graft").load(path)
        .agg(min("score").as("lo"), max("score").as("hi"))
      assert(!agg.queryExecution.executedPlan.toString.contains("PushedAggregation"))
      assert(agg.head == org.apache.spark.sql.Row(100L, 198L))
      // a column present in EVERY dir still pushes down
      val ok = spark.read.format("graft").load(path)
        .agg(min("doc_id").as("lo"))
      assert(ok.queryExecution.executedPlan.toString.contains("PushedAggregation"))
      assert(ok.head.getLong(0) == 0L)
    } finally spark.conf.unset("spark.sql.parquet.aggregatePushdown")
  }

  test("the V2 scan applies an outstanding merge-on-read key overlay in-scan") {
    import spark.implicits._
    val path = tmp("graft-v2-mor")
    SnapshotTable.ingest(spark, docs(0 until 100), path, "text",
      expectedItems = 10000L, statsCols = Seq("doc_id"))
    // delete key 5, update key 7, insert key 200 — then a SECOND MOR
    // commit re-updates key 7 (max-version-per-key must win) and
    // deletes key 200 (a row a PREVIOUS tombstone's commit inserted)
    SnapshotTable.mergeOnRead(spark,
      Seq((5L, "gone", "lang2", true), (7L, "seven-v2", "lang1", false),
          (200L, "two-hundred", "lang0", false))
        .toDF("doc_id", "text", "lang", "__del"),
      path, "doc_id", deleteCol = Some("__del"))
    SnapshotTable.mergeOnRead(spark,
      Seq((7L, "seven-v3", "lang1", false), (200L, "x", "lang0", true))
        .toDF("doc_id", "text", "lang", "__del"),
      path, "doc_id", deleteCol = Some("__del"))
    val api = SnapshotTable.read(spark, path)
    val v2 = spark.read.format("graft").load(path)
    // exact row equality with the API read, BETWEEN compactions
    assert(v2.count() == 99L)
    assert(v2.except(api).isEmpty && api.except(v2).isEmpty)
    assert(v2.filter(col("doc_id") === 5L).count() == 0L)
    assert(v2.filter(col("doc_id") === 200L).count() == 0L)
    assert(v2.filter(col("doc_id") === 7L).select("text").head.getString(0)
      == "seven-v3")
    // projection WITHOUT the key column: the key is injected into the
    // read for the mask and dropped from the output
    val langOnly = spark.read.format("graft").load(path).select("lang")
    assert(langOnly.columns.toSeq == Seq("lang"))
    assert(langOnly.count() == 99L)
    // pushed filter + pruning still composes with the mask
    val pruned = spark.read.format("graft").load(path)
      .filter(col("doc_id").between(0L, 9L))
    assert(pruned.count() == 9L)
    // SQL through a catalog view of the same path works too
    v2.createOrReplaceTempView("v2mor")
    assert(spark.sql("SELECT count(*) FROM v2mor WHERE doc_id = 7").head.getLong(0) == 1L)
    // compaction materializes the overlay; the plain path still reads
    SnapshotTable.compact(spark, path, textCol = Some("text"),
      expectedItems = 10000L)
    val after = spark.read.format("graft").load(path)
    assert(after.count() == 99L)
    assert(after.filter(col("doc_id") === 5L).count() == 0L)
  }

  test("keyed overlay on a PARTITIONED table through V2: key column is a data column") {
    import spark.implicits._
    val path = tmp("graft-v2-mor-part")
    SnapshotTable.ingest(spark, docs(0 until 90), path, "text",
      expectedItems = 10000L, partitionCols = Seq("lang"))
    SnapshotTable.mergeOnRead(spark,
      Seq((3L, "gone", "lang0", true), (4L, "four-v2", "lang1", false))
        .toDF("doc_id", "text", "lang", "__del"),
      path, "doc_id", deleteCol = Some("__del"))
    val api = SnapshotTable.read(spark, path)
    val v2 = spark.read.format("graft").load(path)
    assert(v2.count() == 89L)
    assert(v2.select("doc_id", "text", "lang")
      .except(api.select("doc_id", "text", "lang")).isEmpty)
    assert(v2.filter(col("doc_id") === 4L).select("text").head.getString(0)
      == "four-v2")
    // partition-pruned read under the mask
    assert(v2.filter(col("lang") === "lang0").count() ==
      api.filter(col("lang") === "lang0").count())
  }

  test("readChangeFeed stream: row-mutating commits arrive as delete/insert events") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val path = tmp("graft-v2-cdf")
    val ckpt = tmp("graft-v2-cdf-ckpt")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text",
      expectedItems = 10000L, statsCols = Seq("doc_id"))            // v1
    SnapshotTable.mergeOnRead(spark,
      Seq((3L, "three-v2", "lang0", false), (4L, "x", "lang1", true))
        .toDF("doc_id", "text", "lang", "__del"),
      path, "doc_id", deleteCol = Some("__del"))                    // v2 MOR
    SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id").between(10, 12))                                // v3 posdelete
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    def start() = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startVersion", "earliest").load(path)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("doc_id", "_change_type", "_commit_version").collect()
          .foreach(r => got.add((r.getLong(0), r.getString(1), r.getLong(2))))
        ()
      }.start()
    val q = start()
    q.processAllAvailable()
    val expected =
      (0L until 20L).map(i => (i, "insert", 1L)).toSet ++
        // key 3 existed and is re-added → update pair; key 4 pure delete
        Set((3L, "update_preimage", 2L), (4L, "delete", 2L),
          (3L, "update_postimage", 2L)) ++
        (10L to 12L).map(i => (i, "delete", 3L))
    assert(got.asScala.toSet == expected, s"events: ${got.asScala.toSet}")
    // the stream agrees with the batch feed exactly
    val batch = SnapshotTable.changes(spark, path, 1L)
      .select("doc_id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.asScala.toSet == batch)
    // live row-mutating commit arrives incrementally as events
    SnapshotTable.updateWherePositional(spark, path,
      col("doc_id") === 7L, Map("text" -> lit("seven-up")))         // v4 posupdate
    q.processAllAvailable()
    assert(got.asScala.toSet == expected ++
      Set((7L, "delete", 4L), (7L, "insert", 4L)), s"after posupdate: ${got.asScala.toSet}")
    q.stop()
    // a rewrite still fails the feed loudly (its honest form is a diff)
    SnapshotTable.compact(spark, path, textCol = Some("text"),
      expectedItems = 10000L)                                       // v5 compact: no-op
    SnapshotTable.write(spark, docs(0 until 3), path)               // v6 overwrite
    val q2 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination(30000)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("whole-table diff")), s"wrong failure: ${msgs(e)}")
  }

  test("change feed over a PARTITIONED chain: batch and stream agree, victim scans open only touched files") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val path = tmp("graft-v2-cdf-part")
    val ckpt = tmp("graft-v2-cdf-part-ckpt")
    SnapshotTable.ingest(spark, docs(0 until 60), path, "text",
      expectedItems = 10000L, partitionCols = Seq("lang"),
      statsCols = Seq("doc_id"))                                     // v1
    SnapshotTable.mergeOnRead(spark,
      Seq((9L, "nine-v2", "lang0", false), (10L, "x", "lang1", true))
        .toDF("doc_id", "text", "lang", "__del"),
      path, "doc_id", deleteCol = Some("__del"))                     // v2
    SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id").between(20, 22))                                 // v3
    val batch = SnapshotTable.changes(spark, path, 1L)
      .select("doc_id", "lang", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val expected =
      (0L until 60L).map(i => (i, s"lang${i % 3}", "insert", 1L)).toSet ++
        // key 9 is an update pair; key 10 a pure delete
        Set((9L, "lang0", "update_preimage", 2L), (10L, "lang1", "delete", 2L),
          (9L, "lang0", "update_postimage", 2L)) ++
        (20L to 22L).map(i => (i, s"lang${i % 3}", "delete", 3L))
    assert(batch == expected, s"batch feed: $batch")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Long)]()
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startVersion", "earliest").load(path)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("doc_id", "lang", "_change_type", "_commit_version").collect()
          .foreach(r => got.add((r.getLong(0), r.getString(1),
            r.getString(2), r.getLong(3))))
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(got.asScala.toSet == expected, s"stream feed: ${got.asScala.toSet}")
  }

  test("readStream.format(\"graft\") streams appended rows; compactions roll past; row-mutating commits fail loudly") {
    import scala.jdk.CollectionConverters._
    val path = tmp("graft-v2-stream")
    val ckpt = tmp("graft-v2-stream-ckpt")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text",
      expectedItems = 10000L)
    SnapshotTable.ingest(spark, docs(20 until 35), path, "text",
      expectedItems = 10000L)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = spark.readStream.format("graft")
      .option("startVersion", "earliest").load(path)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("doc_id").collect().foreach(r => got.add(r.getLong(0)))
        ()
      }.start()
    val q = start()
    q.processAllAvailable()
    assert(got.asScala.toSeq.sorted == (0L until 35L), s"backfill wrong: ${got.size}")
    // live append arrives incrementally, no duplicates
    SnapshotTable.ingest(spark, docs(35 until 50), path, "text",
      expectedItems = 10000L)
    q.processAllAvailable()
    assert(got.asScala.toSeq.sorted == (0L until 50L))
    // a compaction is a logical content no-op: the cursor rolls past it
    SnapshotTable.compact(spark, path, textCol = Some("text"),
      expectedItems = 10000L)
    SnapshotTable.ingest(spark, docs(50 until 60), path, "text",
      expectedItems = 10000L)
    q.processAllAvailable()
    assert(got.asScala.toSeq.sorted == (0L until 60L),
      "compaction must neither replay nor drop rows")
    q.stop()
    // a row-mutating commit has no append representation: fail loudly
    SnapshotTable.deleteWherePositional(spark, path, col("doc_id") === 5L)
    val q2 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination(30000)
    }
    assert(e.getMessage.contains("append representation") ||
      Option(e.getCause).exists(_.getMessage.contains("append representation")),
      s"wrong failure: ${e.getMessage}")
  }

  test("GraftCatalog: SQL SELECT, VERSION AS OF, TIMESTAMP AS OF, tags, listTables") {
    val wh = tmp("graft-v2-warehouse")
    val path = new java.io.File(wh, "docs").toString
    Seq(0 until 200, 200 until 400).foreach { r =>
      SnapshotTable.ingest(spark, docs(r), path, "text",
        expectedItems = 10000L, statsCols = Seq("doc_id"))
    }
    SnapshotTable.tag(spark, path, "vintage_one", Some(1L))
    spark.conf.set("spark.sql.catalog.gtest", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtest.warehouse", wh)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.docs").head.getLong(0) == 400L)
    assert(spark.sql("SELECT count(*) AS n FROM gtest.docs VERSION AS OF 1")
      .head.getLong(0) == 200L)
    // tag name through the version channel
    assert(spark.sql("SELECT count(*) AS n FROM gtest.docs VERSION AS OF 'vintage_one'")
      .head.getLong(0) == 200L)
    val t1 = SnapshotTable.history(spark, path)
      .filter(col("version") === 1L).select("commit_ts").head.getTimestamp(0)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM gtest.docs TIMESTAMP AS OF '$t1'")
      .head.getLong(0) == 200L)
    // predicate through SQL prunes like readWhere
    val pred = col("doc_id") >= 50L && col("doc_id") < 150L
    val (_, rep) = SnapshotTable.readWhereReport(spark, path, pred)
    val sqlDf = spark.sql("SELECT doc_id FROM gtest.docs WHERE doc_id >= 50 AND doc_id < 150")
    assert(graftScanInfo(sqlDf).contains(s"files=${rep.nFilesKept}/${rep.nFilesTotal}"))
    assert(sqlDf.count() == 100L)
    assert(spark.sql("SHOW TABLES IN gtest").collect()
      .map(_.getString(1)).contains("docs"))
    // DDL is live (GraftV2WriteSpec covers it in depth); a quick
    // create/drop round trip through THIS catalog instance
    spark.sql("CREATE TABLE gtest.t2 (id BIGINT, s STRING)")
    assert(spark.sql("SHOW TABLES IN gtest").collect()
      .map(_.getString(1)).contains("t2"))
    spark.sql("DROP TABLE gtest.t2")
    assert(!spark.sql("SHOW TABLES IN gtest").collect()
      .map(_.getString(1)).contains("t2"))
    // Iceberg-style metadata tables: history/tags/files from SQL
    val hist = spark.sql(
      "SELECT version, kind FROM gtest.`docs$history` ORDER BY version").collect()
    assert(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "append"), (2L, "append")))
    val tags = spark.sql("SELECT tag, version FROM gtest.`docs$tags`").collect()
    assert(tags.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("vintage_one", 1L)))
    val files = spark.sql(
      "SELECT dir, file, bytes FROM gtest.`docs$files`").collect()
    assert(files.length >= 2 && files.forall(_.getLong(2) > 0L))
    assert(files.map(_.getString(0)).distinct.length == 2, "two snapshot dirs expected")
  }

  test("oversize overlay: V2 reads degrade to the distributed anti-join, not a refusal") {
    import spark.implicits._
    val path = tmp("graft-oversize")
    SnapshotTable.ingest(spark, docs(0 until 300), path, "text",
      expectedItems = 10000L, statsCols = Seq("doc_id"))
    // BOTH overlay classes outstanding: a positional delete and a keyed
    // merge-on-read upsert+delete
    assert(SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id") < 20L).committed)
    SnapshotTable.mergeOnRead(spark,
      Seq((25L, "twentyfive-v2", "lang1", false), (30L, "x", "lang0", true))
        .toDF("doc_id", "text", "lang", "__del"),
      path, "doc_id", deleteCol = Some("__del"))
    val apiRows = SnapshotTable.read(spark, path)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(apiRows.size == 279 && apiRows.contains((25L, "twentyfive-v2")))
    def v2Rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    // under the gate: the masked BatchScan path (columnar machinery)
    val masked = spark.read.format("graft").load(path)
    assert(v2Rows(masked) == apiRows)
    assert(masked.queryExecution.executedPlan.toString.contains("BatchScan"))
    val saved = SnapshotTable.tombstoneBroadcastMaxBytes
    try {
      // force the overlay past the gate: every masked read must now
      // plan the V1-bridge fallback and STILL return the same rows
      SnapshotTable.tombstoneBroadcastMaxBytes = 1L
      val fb = spark.read.format("graft").load(path)
      assert(v2Rows(fb) == apiRows, "fallback rows diverge from the API read")
      val plan = fb.queryExecution.executedPlan.toString
      assert(plan.contains("GraftOverlayFallbackScan") && !plan.contains("BatchScan"),
        s"expected the V1 fallback scan:\n${plan.take(1500)}")
      // pushed filters still shrink the read inside the API plan
      assert(fb.filter(col("doc_id") >= 100L).count() == 200L)
      // SQL works over the fallback too
      fb.createOrReplaceTempView("oversize_t")
      assert(spark.sql(
        "SELECT count(*) FROM oversize_t WHERE doc_id < 50").head.getLong(0) == 29L)
      // time travel pins the pre-overlay content through the same seam
      assert(spark.read.format("graft").option("versionAsOf", 1L).load(path)
        .count() == 300L)
      // metadata-column requests cannot be served without the wrapper:
      // still a loud, actionable refusal
      val e = intercept[Exception] {
        spark.read.format("graft").load(path)
          .select(col("doc_id"), col("_graft_pos")).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("compact")), s"wrong failure: ${msgs(e)}")
    } finally SnapshotTable.tombstoneBroadcastMaxBytes = saved
  }
}
