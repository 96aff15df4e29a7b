package graft

import org.apache.spark.sql.functions._
import graft.operators.SnapshotTable

/** Late-round-15 additions: the keyless positional UPDATE tier
  * ([[SnapshotTable.updateWherePositional]] — Iceberg v2's
  * update-as-delete-plus-insert in ONE commit) and its interactions
  * with constraints, partitioning, races, time travel, and the
  * mask-applying V2 scan.
  */
class Round16Spec extends SparkSpec {

  private def table(prefix: String): String = {
    import spark.implicits._
    val path = tmp(prefix)
    Seq(0 until 200, 200 until 400).foreach { r =>
      SnapshotTable.ingest(spark,
        r.map(i => (i.toLong, s"text-$i", s"lang${i % 3}", i * 10L))
          .toDF("doc_id", "text", "lang", "n_chars"),
        path, "text", expectedItems = 10000L, statsCols = Seq("doc_id"))
    }
    path
  }

  test("updateWherePositional: atomic delete-plus-insert, exact time travel, O(matches) sidecar") {
    val path = table("graft-posupd")
    val st = SnapshotTable.updateWherePositional(spark, path,
      col("doc_id").between(150L, 249L) && col("lang") === "lang1",
      Map("n_chars" -> (col("n_chars") + lit(100000L)),
          "text" -> concat(col("text"), lit("!up"))))
    val hit = (150 to 249).filter(_ % 3 == 1)
    assert(st.committed && st.version == 3L && st.nUpdated == hit.size.toLong)
    val cur = SnapshotTable.read(spark, path)
    assert(cur.count() == 400L) // updates never change cardinality
    // updated rows carry BOTH new values; untouched rows are intact
    assert(cur.filter(col("n_chars") > 90000L).count() == hit.size.toLong)
    assert(cur.filter(col("doc_id") === 151L).select("text").head.getString(0)
      == "text-151!up")
    assert(cur.filter(col("doc_id") === 150L).select("text").head.getString(0)
      == "text-150") // lang0: predicate misses
    // time travel reads the pre-update rows exactly
    assert(SnapshotTable.readAt(spark, path, 2L)
      .filter(col("n_chars") > 90000L).count() == 0L)
    // ONE commit: delete sidecar + new dir arrive atomically
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L))
    // the V2 scan applies the same mask
    val v2 = spark.read.format("graft").load(path)
    assert(v2.count() == 400L)
    assert(v2.except(cur).isEmpty && cur.except(v2).isEmpty)
    // predicate matching nothing commits nothing
    val noop = SnapshotTable.updateWherePositional(spark, path,
      col("doc_id") === -1L, Map("n_chars" -> lit(0L)))
    assert(!noop.committed && SnapshotTable.currentVersion(spark, path).get == 3L)
    // unknown SET column refuses before any I/O
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.updateWherePositional(spark, path,
        col("doc_id") === 1L, Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("updateWherePositional: constraints gate the UPDATED form (drop keeps old, fail refuses)") {
    val path = table("graft-posupd-con")
    SnapshotTable.addConstraint(spark, path, "chars_cap",
      "n_chars < 50000", mode = "drop")
    // doc 10 updates under the cap; doc 11's update violates -> keeps OLD form
    SnapshotTable.updateWherePositional(spark, path,
      col("doc_id").isin(10L, 11L),
      Map("n_chars" -> when(col("doc_id") === 10L, lit(40000L))
        .otherwise(lit(99999L))))
    val cur = SnapshotTable.read(spark, path)
    assert(cur.filter(col("doc_id") === 10L).select("n_chars").head.getLong(0) == 40000L)
    assert(cur.filter(col("doc_id") === 11L).select("n_chars").head.getLong(0) == 110L,
      "a drop-mode-violating update must keep the OLD row, not delete it")
    assert(cur.count() == 400L)
    // fail mode refuses the whole update, nothing committed
    SnapshotTable.dropConstraint(spark, path, "chars_cap")
    SnapshotTable.addConstraint(spark, path, "chars_cap2",
      "n_chars < 50000", mode = "fail")
    val before = SnapshotTable.currentVersion(spark, path).get
    val e = intercept[Exception] {
      SnapshotTable.updateWherePositional(spark, path,
        col("doc_id") === 12L, Map("n_chars" -> lit(99999L)))
    }
    assert(e.getMessage.contains("chars_cap2"))
    assert(SnapshotTable.currentVersion(spark, path).get == before)
  }

  test("updateWherePositional: racing posdelete rebases; racing compact conflicts loudly") {
    val path = table("graft-posupd-race")
    SnapshotTable.commitFault = _ => {
      SnapshotTable.deleteWherePositional(spark, path, col("doc_id") === 5L)
      ()
    }
    val st = SnapshotTable.updateWherePositional(spark, path,
      col("doc_id") === 7L, Map("n_chars" -> lit(777L)))
    assert(st.committed && st.version == 4L, "loser must rebase onto the racer's slot")
    val cur = SnapshotTable.read(spark, path)
    assert(cur.count() == 399L) // the racing delete landed too
    assert(cur.filter(col("doc_id") === 7L).select("n_chars").head.getLong(0) == 777L)
    // a racing full compact moves files -> conflict, loudly
    SnapshotTable.commitFault = _ => {
      SnapshotTable.compact(spark, path, textCol = Some("text"),
        expectedItems = 10000L)
      ()
    }
    val e = intercept[java.io.IOException] {
      SnapshotTable.updateWherePositional(spark, path,
        col("doc_id") === 8L, Map("n_chars" -> lit(888L)))
    }
    assert(e.getMessage.contains("kind 'compact'"))
  }

  test("concurrent positional commands touching the SAME rows refuse as write-write conflicts") {
    val path = table("graft-posupd-ww")
    // racer updates doc 9 first; our update of the SAME row must refuse
    SnapshotTable.commitFault = _ => {
      SnapshotTable.updateWherePositional(spark, path,
        col("doc_id") === 9L, Map("n_chars" -> lit(111L)))
      ()
    }
    val e = intercept[java.io.IOException] {
      SnapshotTable.updateWherePositional(spark, path,
        col("doc_id") === 9L, Map("n_chars" -> lit(222L)))
    }
    assert(e.getMessage.contains("SAME rows"))
    // the racer's value won; no duplicate row appeared
    val cur = SnapshotTable.read(spark, path)
    assert(cur.filter(col("doc_id") === 9L).count() == 1L)
    assert(cur.filter(col("doc_id") === 9L).select("n_chars").head.getLong(0) == 111L)
    // a racer deleting the row our update targets also refuses (the
    // update would resurrect the deleted row)
    SnapshotTable.commitFault = _ => {
      SnapshotTable.deleteWherePositional(spark, path, col("doc_id") === 10L)
      ()
    }
    val e2 = intercept[java.io.IOException] {
      SnapshotTable.updateWherePositional(spark, path,
        col("doc_id") === 10L, Map("n_chars" -> lit(333L)))
    }
    assert(e2.getMessage.contains("SAME rows"))
    assert(SnapshotTable.read(spark, path).filter(col("doc_id") === 10L).count() == 0L)
  }

  test("updateWherePositional relocates rows when SET touches a partition column") {
    import spark.implicits._
    val path = tmp("graft-posupd-part")
    SnapshotTable.ingest(spark,
      (0 until 90).map(i => (i.toLong, s"t-$i", s"lang${i % 3}"))
        .toDF("doc_id", "text", "lang"),
      path, "text", expectedItems = 10000L, partitionCols = Seq("lang"))
    SnapshotTable.updateWherePositional(spark, path,
      col("doc_id") < 30 && col("lang") === "lang0",
      Map("lang" -> lit("langX")))
    val cur = SnapshotTable.read(spark, path)
    assert(cur.count() == 90L)
    val moved = (0 until 30).count(_ % 3 == 0)
    assert(cur.filter(col("lang") === "langX").count() == moved.toLong)
    assert(cur.filter(col("lang") === "lang0").count() == (30 - moved).toLong)
    // the new dir carries the hive layout for the new value
    def dirs(p: String) = Option(new java.io.File(p).listFiles()).toSeq.flatten
    val updDirs = dirs(path).filter(f => f.isDirectory && f.getName.startsWith("snap-000000"))
      .flatMap(d => dirs(d.toString)).map(_.getName)
    assert(updDirs.contains("lang=langX"))
  }

  test("updateWherePositional then ingest: updated content enters the dedup universe via rebuild") {
    import spark.implicits._
    val path = tmp("graft-posupd-dedup")
    def docs(r: Range) = r.map(i => (i.toLong, s"text-$i")).toDF("doc_id", "text")
    SnapshotTable.ingest(spark, docs(0 until 100), path, "text",
      expectedItems = 10000L)
    SnapshotTable.updateWherePositional(spark, path,
      col("doc_id") === 5L, Map("text" -> lit("updated-five")))
    // re-ingesting the UPDATED content must dedup (bloom was dropped,
    // the one-scan rebuild covers the new text)
    val st = SnapshotTable.ingest(spark,
      Seq((500L, "updated-five"), (501L, "brand-new")).toDF("doc_id", "text"),
      path, "text", expectedItems = 10000L)
    assert(st.nNew == 1L)
    val cur = SnapshotTable.read(spark, path)
    assert(cur.filter(col("text") === "updated-five").count() == 1L)
    assert(cur.filter(col("text") === "brand-new").count() == 1L)
  }

  // ---- round-16 concurrency / catalog / sidecar hardening -----------------

  private def onDiskSnapDirs(path: String): Set[String] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
      .map(_.getName).toSet

  test("positional update racing a keyed merge-on-read refuses: no lost update, no orphans") {
    import spark.implicits._
    val path = table("graft-posupd-mor-race")
    SnapshotTable.commitFault = _ => {
      SnapshotTable.mergeOnRead(spark,
        Seq((160L, "merged-160", "lang1", 1L)).toDF("doc_id", "text", "lang", "n_chars"),
        path, "doc_id")
      ()
    }
    val e = intercept[java.io.IOException] {
      SnapshotTable.updateWherePositional(spark, path,
        col("doc_id") === 160L, Map("n_chars" -> lit(9L)))
    }
    assert(e.getMessage.contains("merge-on-read"))
    // the racer's upsert stands alone — a rebased stack would have shown
    // BOTH the upserted and the positionally-updated row 160
    val r160 = SnapshotTable.read(spark, path).filter(col("doc_id") === 160L)
    assert(r160.count() == 1L)
    assert(r160.select("text").head.getString(0) == "merged-160")
    // terminal failure reclaimed the staged dir and delete sidecar: every
    // on-disk snap dir is referenced by some retained manifest, and no
    // posdelete sidecar exists (the racer wrote tombstones, not posdeletes)
    val referenced = SnapshotTable.versions(spark, path)
      .flatMap(v => SnapshotTable.readManifestChecked(spark, path, v).dirs).toSet
    assert(onDiskSnapDirs(path) == referenced,
      s"orphaned staging dirs: ${onDiskSnapDirs(path).diff(referenced)}")
    val posdel = new java.io.File(path, "_posdel")
    assert(!posdel.exists() || posdel.listFiles().isEmpty)
  }

  test("append rebases over posupdate and merge-on-read racers (insert-only is overlay-safe)") {
    import spark.implicits._
    val path = table("graft-append-over-mor")
    SnapshotTable.commitFault = _ => {
      SnapshotTable.updateWherePositional(spark, path,
        col("doc_id") === 1L, Map("n_chars" -> lit(777777L)))
      SnapshotTable.mergeOnRead(spark,
        Seq((2L, "merged-2", "lang2", 1L)).toDF("doc_id", "text", "lang", "n_chars"),
        path, "doc_id")
      ()
    }
    val v = SnapshotTable.append(spark,
      (400 until 410).map(i => (i.toLong, s"text-$i", s"lang${i % 3}", i * 10L))
        .toDF("doc_id", "text", "lang", "n_chars"), path)
    assert(v == 5L, "append must land after the two racers, not refuse")
    val cur = SnapshotTable.read(spark, path)
    assert(cur.count() == 410L)
    // the appended rows are NOT masked by the racer tombstone (strictly-
    // later dir version), and both racer commits apply
    assert(cur.filter(col("doc_id") >= 400L).count() == 10L)
    assert(cur.filter(col("doc_id") === 1L).select("n_chars").head.getLong(0) == 777777L)
    assert(cur.filter(col("doc_id") === 2L).select("text").head.getString(0) == "merged-2")
  }

  test("multi-change ALTER TABLE pre-validates: a bad change applies nothing") {
    val wh = tmp("graft-r16-wh")
    val cat = s"g16${Integer.toHexString(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      spark.sql(s"CREATE TABLE $cat.at (a BIGINT, b STRING, c STRING)")
      spark.sql(s"INSERT INTO $cat.at VALUES (1, 'x', 'y')")
      // DROP COLUMNS (b, nosuch): the second change is semantically bad,
      // so the FIRST must not commit either
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.at DROP COLUMNS (b, nosuch)")
      }
      assert(e.getMessage.contains("nosuch"))
      assert(spark.sql(s"SELECT b FROM $cat.at").head.getString(0) == "x")
      // rename onto a taken name refuses before committing
      val e2 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.at RENAME COLUMN b TO c")
      }
      assert(e2.getMessage.contains("already exists"))
      assert(spark.sql(s"SELECT b, c FROM $cat.at").head.getString(1) == "y")
      // a valid multi-drop still works
      spark.sql(s"ALTER TABLE $cat.at DROP COLUMNS (b, c)")
      assert(spark.table(s"$cat.at").columns.toSeq == Seq("a"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("changes(): CDF events across rename drift, rewrites, and rollbacks") {
    import spark.implicits._
    val path = tmp("graft-cdf")
    def docs(r: Range) = r.map(i => (i.toLong, s"text-$i", i * 10L))
      .toDF("doc_id", "text", "n")
    SnapshotTable.ingest(spark, docs(0 until 10), path, "text",
      expectedItems = 1000L, statsCols = Seq("doc_id"))      // v1 create
    SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id") < 2)                                     // v2 posdelete
    SnapshotTable.renameColumn(spark, path, "n", "nn")       // v3 metadata
    SnapshotTable.append(spark, docs(10 until 12)
      .withColumnRenamed("n", "nn"), path)                   // v4 append
    val ev = SnapshotTable.changes(spark, path, 1L)
      .select("doc_id", "nn", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    val expected =
      (0L until 10L).map(i => (i, i * 10, "insert", 1L)).toSet ++
      (0L until 2L).map(i => (i, i * 10, "delete", 2L)) ++   // full pre-images
      (10L until 12L).map(i => (i, i * 10, "insert", 4L))    // v3 emits nothing
    assert(ev == expected, s"events: $ev")
    // a rewrite (overwrite) is the honest full diff; a rollback too
    SnapshotTable.write(spark, Seq((100L, "fresh", 1L))
      .toDF("doc_id", "text", "nn"), path)                   // v5 overwrite
    val ev5 = SnapshotTable.changes(spark, path, 5L, Some(5L))
      .select("doc_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ev5 == ((2L until 12L).map(i => (i, "delete")).toSet + ((100L, "insert"))))
    // replaying the feed reconstructs the table exactly
    val replayed = SnapshotTable.changes(spark, path, 1L)
      .groupBy("doc_id", "nn")
      .agg(sum(when(col("_change_type") === "insert", 1).otherwise(-1)).as("alive"))
      .filter(col("alive") > 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(replayed ==
      SnapshotTable.read(spark, path).select("doc_id")
        .collect().map(_.getLong(0)).toSet)
  }

  test("t$changes: the change feed from plain SQL, windowed by _commit_version") {
    import spark.implicits._
    val wh = tmp("graft-r16-chwh")
    val cat = s"g16c${Integer.toHexString(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val path = new java.io.File(wh, "t").toString
      SnapshotTable.ingest(spark,
        (0 until 20).map(i => (i.toLong, s"t-$i")).toDF("doc_id", "text"),
        path, "text", expectedItems = 1000L)
      SnapshotTable.mergeOnRead(spark,
        Seq((3L, "three-v2", false), (4L, "x", true))
          .toDF("doc_id", "text", "__del"),
        path, "doc_id", deleteCol = Some("__del"))
      val rows = spark.sql(
        s"SELECT doc_id, _change_type FROM $cat.`t$$changes` " +
          "WHERE _commit_version = 2 ORDER BY _change_type, doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      // key 3 existed and was re-upserted → an update PAIR; key 4 was a
      // pure delete ('update_postimage' < 'update_preimage' lexically)
      assert(rows == Seq((4L, "delete"),
        (3L, "update_postimage"), (3L, "update_preimage")))
      // whole-feed count: 20 creates + 2 deletes + 1 upsert insert
      assert(spark.sql(s"SELECT count(*) FROM $cat.`t$$changes`")
        .head.getLong(0) == 23L)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("masked V2 scans stay COLUMNAR: 1%-deleted file reads near unmasked speed") {
    import spark.implicits._
    val path = tmp("graft-colmask")
    val n = 400000
    SnapshotTable.ingest(spark,
      spark.range(n.toLong).select(col("id").as("doc_id"),
        concat(lit("document-body-"), col("id")).as("text"),
        (col("id") * 7L).as("n_chars")),
      path, "text", expectedItems = 1000000L, statsCols = Seq("doc_id"))
    def timeRead(): (Long, Long) = {
      val t0 = System.nanoTime()
      val s = spark.read.format("graft").load(path)
        .agg(sum(col("n_chars"))).head.getLong(0)
      (s, (System.nanoTime() - t0) / 1000000)
    }
    val (baseSum, _) = timeRead() // warm
    // delete 1% of rows positionally (every 100th doc)
    val st = SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id") % 100 === 0L)
    assert(st.committed && st.nDeleted == (n / 100).toLong)
    val masked = spark.read.format("graft").load(path)
    // correctness: mask applied exactly, V2 == API
    val expectSum = (0L until n.toLong).filter(_ % 100 != 0).map(_ * 7L).sum
    def timeMasked(): (Long, Long) = {
      val t0 = System.nanoTime()
      val s = masked.agg(sum(col("n_chars"))).head.getLong(0)
      (s, (System.nanoTime() - t0) / 1000000)
    }
    // the masked scan still reads COLUMNAR: inspect the FINAL (post-AQE,
    // post-execution) plan of one executed aggregate
    val aggDf = masked.agg(sum(col("n_chars")))
    // collect() (not head(), which runs a separate limit QueryExecution)
    // so THIS DataFrame's adaptive plan finalizes and can be inspected
    val maskedSum = aggDf.collect()(0).getLong(0)
    val plan = aggDf.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"masked scan fell to row-based:\n$plan")
    assert(maskedSum == expectSum)
    assert(maskedSum == SnapshotTable.read(spark, path)
      .agg(sum(col("n_chars"))).head.getLong(0))
    // micro-bench (best of 3, warm): masked within ~1.5x of unmasked
    // columnar — the selection-copy path, not row-based decoding. The
    // assert allows 2.5x for shared-host scheduling noise; typical
    // observed ratio is well under 1.5.
    val tBase = (1 to 3).map(_ => timeRead()._2).min
    val tMasked = (1 to 3).map(_ => timeMasked()._2).min
    info(s"unmasked=${tBase}ms masked=${tMasked}ms ratio=${tMasked.toDouble / tBase}")
    assert(tMasked <= math.max(tBase * 2.5, tBase + 150),
      s"masked columnar scan too slow: ${tMasked}ms vs ${tBase}ms unmasked")
    // metadata-column requests still take the row path (and still mask)
    val withMeta = spark.read.format("graft").load(path)
      .select(col("doc_id"), col("_graft_pos"))
    assert(withMeta.count() == (n - n / 100).toLong)
  }

  test("t$changes pushes _commit_version bounds into the feed window") {
    import spark.implicits._
    val wh = tmp("graft-r16-cpwh")
    val cat = s"g16p${Integer.toHexString(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      val path = new java.io.File(wh, "t").toString
      def docs(r: Range) = r.map(i => (i.toLong, s"t-$i")).toDF("doc_id", "text")
      (0 until 5).foreach(i =>
        SnapshotTable.ingest(spark, docs(i * 10 until (i + 1) * 10), path,
          "text", expectedItems = 1000L))                   // v1..v5
      // expire versions 1-2: a FULL feed can no longer be built (v3's
      // pre-image needs the expired v2 manifest), so a windowed query
      // succeeding is behavioral PROOF the bounds reached the feed
      SnapshotTable.expire(spark, path, keep = 3)           // retain v3..v5
      val windowed = spark.sql(
        s"SELECT doc_id FROM $cat.`t$$changes` WHERE _commit_version >= 4 " +
          "ORDER BY doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(windowed == (30L until 50L), s"windowed: $windowed")
      val e = intercept[Exception] {
        spark.sql(s"SELECT count(*) FROM $cat.`t$$changes`").head
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("expired")), s"wrong failure: ${msgs(e)}")
      // a rename AFTER the windowed range must not shape-shift the
      // relation: the feed serves CURRENT names for old windows
      SnapshotTable.renameColumn(spark, path, "doc_id", "id")  // v6
      val renamed = spark.sql(
        s"SELECT id, _change_type FROM $cat.`t$$changes` " +
          "WHERE _commit_version BETWEEN 4 AND 5 ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(renamed.map(_._1).toSeq == (30L until 50L) &&
        renamed.forall(_._2 == "insert"))
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  test("batch readChangeFeed over a path table: inclusive version bounds") {
    import spark.implicits._
    val path = tmp("graft-cdf-batch")
    SnapshotTable.ingest(spark,
      (0 until 20).map(i => (i.toLong, s"t-$i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)                       // v1
    SnapshotTable.mergeOnRead(spark,
      Seq((3L, "three-v2", false), (4L, "x", true)).toDF("doc_id", "text", "__del"),
      path, "doc_id", deleteCol = Some("__del"))                 // v2
    SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id").between(10, 12))                             // v3
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val full = rows(spark.read.format("graft")
      .option("readChangeFeed", "true").load(path))
    assert(full == rows(SnapshotTable.changes(spark, path, 1L)),
      "batch CDF read must equal the API feed")
    val windowed = rows(spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startVersion", "2").option("endVersion", "2").load(path))
    // key 3's upsert is an update PAIR; key 4's delete stays a delete
    assert(windowed == Set((3L, "update_preimage", 2L), (4L, "delete", 2L),
      (3L, "update_postimage", 2L)))
    // SQL over the batch CDF frame works too (it is an ordinary scan)
    spark.read.format("graft").option("readChangeFeed", "true").load(path)
      .createOrReplaceTempView("cdfb")
    // deletes: key 4 (v2) + the three positional victims (v3); the v2
    // update rides its own pair types
    assert(spark.sql(
      "SELECT count(*) FROM cdfb WHERE _change_type = 'delete'").head.getLong(0) == 4L)
    assert(spark.sql(
      "SELECT count(*) FROM cdfb WHERE _change_type LIKE 'update_%'").head.getLong(0) == 2L)
  }

  test("vacuum reclaims crashed executor-staging areas past the grace window") {
    import spark.implicits._
    val path = tmp("graft-vac-staging")
    SnapshotTable.ingest(spark,
      Seq((1L, "a")).toDF("doc_id", "text"), path, "text", expectedItems = 100L)
    // simulate crashed writers: orphaned per-writer UUID dirs
    val rl = new java.io.File(path, "_staging_rl/dead-rl-uuid/task-00001-7")
    val st = new java.io.File(path, "_staging_stream/dead-st-uuid/task-00002-9")
    Seq(rl, st).foreach { d =>
      d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "part-x.parquet").toPath,
        Array[Byte](1, 2, 3))
    }
    // the staging sweep FLOORS the grace (a grace below the floor must
    // not race a commit seconds from landing) — a fresh orphan survives
    // even graceMs = 0...
    val s0 = SnapshotTable.vacuum(spark, path, graceMs = 0L)
    assert(new java.io.File(path, "_staging_rl/dead-rl-uuid").exists(),
      s"staging sweep ignored its grace floor: $s0")
    // ...and is reclaimed once genuinely older than the floor
    val aged = System.currentTimeMillis() - 2 * 3600 * 1000L
    Seq("_staging_rl/dead-rl-uuid", "_staging_stream/dead-st-uuid").foreach(d =>
      new java.io.File(path, d).setLastModified(aged))
    val stats = SnapshotTable.vacuum(spark, path, graceMs = 0L)
    assert(stats.nDataDirs >= 2, s"staging dirs not reclaimed: $stats")
    assert(!new java.io.File(path, "_staging_rl/dead-rl-uuid").exists())
    assert(!new java.io.File(path, "_staging_stream/dead-st-uuid").exists())
    assert(SnapshotTable.read(spark, path).count() == 1L)
  }

  test("old-vintage bare-name posdelete sidecars on a partitioned table refuse loudly") {
    import spark.implicits._
    val path = tmp("graft-vintage-posdel")
    SnapshotTable.ingest(spark,
      (0 until 90).map(i => (i.toLong, s"t-$i", s"lang${i % 3}"))
        .toDF("doc_id", "text", "lang"),
      path, "text", expectedItems = 10000L,
      partitionCols = Seq("lang"), statsCols = Seq("doc_id"))
    val st = SnapshotTable.deleteWherePositional(spark, path, col("doc_id") < 10)
    assert(st.committed)
    // simulate the pre-subpath revision: strip the partition segments
    // from the committed sidecar's keys, leaving bare file names —
    // BEFORE any read (a clean read would memoize the vintage verdict,
    // which is sound for real sidecars: they are immutable once
    // committed; only this simulation rewrites one in place)
    val sd = new java.io.File(path, "_posdel").listFiles().head.toString
    val bare = spark.read.parquet(sd).collect()
      .map(r => (r.getString(r.fieldIndex("file")).split('/').last,
        r.getLong(r.fieldIndex("ord")))).toSeq
    bare.toDF("file", "ord").write.mode("overwrite").parquet(sd)
    val e = intercept[IllegalStateException] {
      SnapshotTable.read(spark, path).count()
    }
    assert(e.getMessage.contains("bare file names"))
    // the V2 scan refuses identically instead of resurrecting rows
    val e2 = intercept[Exception] {
      spark.read.format("graft").load(path).count()
    }
    assert(e2.getMessage.contains("bare file names") ||
      Option(e2.getCause).exists(_.getMessage.contains("bare file names")))
  }
}
