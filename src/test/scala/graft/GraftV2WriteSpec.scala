package graft

import org.apache.spark.sql.functions._
import graft.operators.SnapshotTable

/** The DataSource V2 WRITE surface of the snapshot table format: SQL
  * CREATE/CTAS/INSERT/DELETE/TRUNCATE/ALTER through
  * [[graft.sources.v2.GraftCatalog]] and `df.write.format("graft")`
  * must land as the SAME committed operators the Scala API runs —
  * append commits with stats sidecars, overwrite commits, positional
  * deletes, column-mapping metadata commits — with every commit-side
  * invariant (constraint gate, schema contract, dedup-universe
  * conservatism, commit races) intact.
  */
class GraftV2WriteSpec extends SparkSpec {

  private def docs(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"text-$i", s"lang${i % 3}")).toDF("doc_id", "text", "lang")
  }

  private def withCatalog(test: String => Unit): Unit = {
    val wh = tmp("graft-v2w-wh")
    val cat = s"gw${Integer.toHexString(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try test(cat)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }

  // ---- SnapshotTable.append (the INSERT kernel) --------------------------

  test("append commits a plain delta: rows verbatim, O(delta) dirs, stats sidecars") {
    val path = tmp("graft-append")
    SnapshotTable.ingest(spark, docs(0 until 100), path, "text",
      expectedItems = 10000L, statsCols = Seq("doc_id"))
    val v = SnapshotTable.append(spark, docs(100 until 150), path)
    assert(v == 2L)
    assert(SnapshotTable.read(spark, path).count() == 150L)
    // within-batch and cross-batch duplicates are ADMITTED (SQL contract)
    val v3 = SnapshotTable.append(spark, docs(0 until 10), path)
    assert(v3 == 3L)
    assert(SnapshotTable.read(spark, path).count() == 160L)
    // the append inherited the stats config: its delta prunes like ingest's
    val (_, rep) = SnapshotTable.readWhereReport(spark, path,
      col("doc_id") === 120L)
    assert(rep.nFilesKept < rep.nFilesTotal,
      s"append delta should carry stats sidecars (kept ${rep.nFilesKept}/${rep.nFilesTotal})")
    // history records append kinds
    val kinds = SnapshotTable.history(spark, path)
      .orderBy("version").select("kind").collect().map(_.getString(0)).toSeq
    assert(kinds == Seq("append", "append", "append"))
  }

  test("append drops the bloom reference; the next ingest still dedups (one-scan rebuild)") {
    val path = tmp("graft-append-bloom")
    SnapshotTable.ingest(spark, docs(0 until 100), path, "text",
      expectedItems = 10000L)
    // plain append introduces content the bloom has never seen
    SnapshotTable.append(spark, docs(100 until 200), path)
    // a later ingest of a batch overlapping the APPENDED content must
    // still drop the duplicates — the cleared bloom forces the rebuild
    val st = SnapshotTable.ingest(spark, docs(150 until 250), path, "text",
      expectedItems = 10000L)
    assert(st.nNew == 50L, s"expected 50 new rows, got ${st.nNew}")
    assert(SnapshotTable.read(spark, path).count() == 250L)
    // and the ingest re-established a bloom for the next round
    val st2 = SnapshotTable.ingest(spark, docs(0 until 260), path, "text",
      expectedItems = 10000L)
    assert(st2.nNew == 10L)
  }

  test("append enforces the schema contract and CHECK constraints") {
    val path = tmp("graft-append-contract")
    SnapshotTable.ingest(spark, docs(0 until 50), path, "text",
      expectedItems = 10000L)
    SnapshotTable.addConstraint(spark, path, "id_nonneg", "doc_id >= 0")
    // violating batch refused (fail mode)
    val bad = intercept[Exception] {
      import spark.implicits._
      SnapshotTable.append(spark,
        Seq((-1L, "x", "lang0")).toDF("doc_id", "text", "lang"), path)
    }
    assert(bad.getMessage.contains("id_nonneg"))
    // non-additive drift refused before staging
    val drift = intercept[IllegalArgumentException] {
      import spark.implicits._
      SnapshotTable.append(spark, Seq((1L, "x")).toDF("doc_id", "text"), path)
    }
    assert(drift.getMessage.contains("non-additive"))
    assert(SnapshotTable.read(spark, path).count() == 50L)
  }

  test("racing append x append: the loser rebases by pure rename, both deltas land") {
    val path = tmp("graft-append-race")
    SnapshotTable.ingest(spark, docs(0 until 100), path, "text",
      expectedItems = 10000L, statsCols = Seq("doc_id"))
    SnapshotTable.commitFault = _ => {
      SnapshotTable.append(spark, docs(100 until 130), path)
      ()
    }
    val v = SnapshotTable.append(spark, docs(130 until 160), path)
    assert(v == 3L, "loser must land at the slot after the racer's")
    assert(SnapshotTable.read(spark, path).count() == 160L)
    assert(SnapshotTable.read(spark, path).select("doc_id").distinct().count() == 160L)
    // delta dirs carry their COMMIT versions (overlay ordering invariant)
    val m = SnapshotTable.history(spark, path).count()
    assert(m == 3L)
  }

  test("append losing to a rewrite (overwrite) conflicts loudly") {
    val path = tmp("graft-append-race-rw")
    SnapshotTable.ingest(spark, docs(0 until 100), path, "text",
      expectedItems = 10000L)
    SnapshotTable.commitFault = _ => {
      SnapshotTable.write(spark, docs(0 until 10), path)
      ()
    }
    val e = intercept[java.io.IOException] {
      SnapshotTable.append(spark, docs(100 until 120), path)
    }
    assert(e.getMessage.contains("kind 'overwrite'"))
  }

  // ---- SQL DDL + DML through the catalog ----------------------------------

  test("CREATE TABLE / INSERT INTO / INSERT OVERWRITE / TRUNCATE from SQL") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, text STRING, lang STRING) " +
        "TBLPROPERTIES ('stats' = 'doc_id')")
      // v1 is the empty create commit
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.docs").head.getLong(0) == 0L)
      spark.sql(s"INSERT INTO $cat.docs VALUES (1, 'alpha', 'en'), (2, 'beta', 'fr')")
      docs(10 until 60).createOrReplaceTempView("gw_src")
      spark.sql(s"INSERT INTO $cat.docs SELECT doc_id, text, lang FROM gw_src")
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.docs").head.getLong(0) == 52L)
      // history: create overwrite + two appends; stats config inherited
      val hist = spark.sql(
        s"SELECT version, kind FROM $cat.`docs$$history` ORDER BY version").collect()
      assert(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "overwrite"), (2L, "append"), (3L, "append")))
      // the insert landed with the table's stats config: point lookup prunes
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val (_, rep) = SnapshotTable.readWhereReport(spark, s"$wh/docs",
        col("doc_id") === 30L)
      assert(rep.nFilesKept < rep.nFilesTotal)
      // time travel across SQL commits
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.docs VERSION AS OF 2")
        .head.getLong(0) == 2L)
      spark.sql(s"INSERT OVERWRITE $cat.docs VALUES (99, 'omega', 'de')")
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.docs").head.getLong(0) == 1L)
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.docs VERSION AS OF 3")
        .head.getLong(0) == 52L)
      spark.sql(s"TRUNCATE TABLE $cat.docs")
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.docs").head.getLong(0) == 0L)
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.docs VERSION AS OF 4")
        .head.getLong(0) == 1L)
    }
  }

  test("CTAS creates then appends; DROP TABLE removes; partitioned create lays out hive dirs") {
    withCatalog { cat =>
      docs(0 until 30).createOrReplaceTempView("gw_ctas_src")
      spark.sql(s"CREATE TABLE $cat.ctas AS SELECT doc_id, text, lang FROM gw_ctas_src")
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ctas").head.getLong(0) == 30L)
      val kinds = spark.sql(
        s"SELECT kind FROM $cat.`ctas$$history` ORDER BY version").collect()
        .map(_.getString(0)).toSeq
      assert(kinds == Seq("overwrite", "append"))
      // partitioned create: identity transform -> hive layout
      spark.sql(s"CREATE TABLE $cat.part (doc_id BIGINT, text STRING, lang STRING) " +
        "PARTITIONED BY (lang)")
      spark.sql(s"INSERT INTO $cat.part SELECT doc_id, text, lang FROM gw_ctas_src")
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val partDirs = new java.io.File(s"$wh/part").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
        .flatMap(_.listFiles()).map(_.getName).filter(_.startsWith("lang="))
      assert(partDirs.toSet == Set("lang=lang0", "lang=lang1", "lang=lang2"))
      // partition pruning reaches SQL reads
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.part WHERE lang = 'lang0'")
        .head.getLong(0) == 10L)
      spark.sql(s"DROP TABLE $cat.ctas")
      assert(!spark.sql(s"SHOW TABLES IN $cat").collect()
        .map(_.getString(1)).contains("ctas"))
      // non-identity partition transform refused loudly
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.bad (ts TIMESTAMP, x BIGINT) " +
          "PARTITIONED BY (days(ts))")
      }
      assert(e.getMessage.contains("identity"))
      // a divergent LOCATION refuses instead of being silently ignored
      val e2 = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.bad2 (x BIGINT, y BIGINT) " +
          "LOCATION '/tmp/somewhere-else'")
      }
      assert(e2.getMessage.contains("LOCATION"))
    }
  }

  test("DELETE FROM lands as a positional-delete commit; untranslatable predicates refuse") {
    withCatalog { cat =>
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      docs(0 until 200).createOrReplaceTempView("gw_del_src")
      spark.sql(s"CREATE TABLE $cat.deltab TBLPROPERTIES ('stats' = 'doc_id') " +
        "AS SELECT doc_id, text, lang FROM gw_del_src")
      spark.sql(s"DELETE FROM $cat.deltab WHERE doc_id >= 50 AND doc_id < 80 AND lang = 'lang0'")
      val expect = (0 until 200).count(i => !(i >= 50 && i < 80 && i % 3 == 0))
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.deltab").head.getLong(0) == expect.toLong)
      val kinds = spark.sql(
        s"SELECT kind FROM $cat.`deltab$$history` ORDER BY version").collect()
        .map(_.getString(0)).toSeq
      assert(kinds == Seq("overwrite", "append", "posdelete"))
      // the pre-delete version still reads exactly (posdelete touches no data file)
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.deltab VERSION AS OF 2")
        .head.getLong(0) == 200L)
      // IS NULL / NOT translate exactly too
      spark.sql(s"DELETE FROM $cat.deltab WHERE NOT (lang = 'lang1') AND doc_id < 10")
      val expect2 = (0 until 200).count(i =>
        !(i >= 50 && i < 80 && i % 3 == 0) && !(i % 3 != 1 && i < 10))
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.deltab").head.getLong(0) == expect2.toLong)
      // a predicate the metadata path can't translate routes through the
      // ROW-LEVEL delta path (SupportsDelta) instead of failing — the
      // earlier loud-refusal pin is obsolete since the row-level arc
      spark.sql(s"DELETE FROM $cat.deltab WHERE length(text) > 3 AND doc_id >= 190")
      val expect3 = expect2 - 10 // doc_id 190..199 all survive expect2's deletes
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.deltab").head.getLong(0) == expect3.toLong)
      // compact materializes the overlay; SQL keeps reading the same rows
      SnapshotTable.compact(spark, s"$wh/deltab", targetFileBytes = 1L << 20)
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.deltab").head.getLong(0) == expect3.toLong)
    }
  }

  test("ALTER TABLE RENAME/DROP COLUMN are metadata-only column-mapping commits") {
    withCatalog { cat =>
      docs(0 until 40).createOrReplaceTempView("gw_alter_src")
      spark.sql(s"CREATE TABLE $cat.alt AS SELECT doc_id, text, lang FROM gw_alter_src")
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val dataBytes = { // fingerprint data files to prove zero rewrites
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isFile) Seq(f) else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        walk(new java.io.File(s"$wh/alt")).filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }
      spark.sql(s"ALTER TABLE $cat.alt RENAME COLUMN lang TO language")
      assert(spark.table(s"$cat.alt").columns.toSeq ==
        Seq("doc_id", "text", "language"))
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.alt WHERE language = 'lang1'")
        .head.getLong(0) > 0L)
      // insert under the NEW logical name; physical mapping rides underneath
      spark.sql(s"INSERT INTO $cat.alt VALUES (1000, 'new-row', 'lang9')")
      assert(spark.sql(s"SELECT count(*) AS n FROM $cat.alt WHERE language = 'lang9'")
        .head.getLong(0) == 1L)
      spark.sql(s"ALTER TABLE $cat.alt DROP COLUMN text")
      assert(spark.table(s"$cat.alt").columns.toSeq == Seq("doc_id", "language"))
      // zero data files rewritten by either metadata commit
      def walk2(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f) else Option(f.listFiles()).toSeq.flatten.flatMap(walk2)
      val after = walk2(new java.io.File(s"$wh/alt"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
      assert(dataBytes.forall { case (n, ts) => after.get(n).contains(ts) },
        "rename/drop must not rewrite pre-existing data files")
      // unsupported change class refuses loudly
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.alt ALTER COLUMN doc_id TYPE INT")
      }
      assert(e.getMessage.contains("supported changes") ||
        e.getMessage.toLowerCase.contains("not supported"))
    }
  }

  test("df.write.format(\"graft\") append and overwrite modes") {
    val path = tmp("graft-dfw")
    SnapshotTable.ingest(spark, docs(0 until 50), path, "text",
      expectedItems = 10000L, statsCols = Seq("doc_id"))
    docs(50 until 80).write.format("graft").mode("append").save(path)
    assert(SnapshotTable.read(spark, path).count() == 80L)
    // constraint survives and gates the V2 write path too
    SnapshotTable.addConstraint(spark, path, "id_cap", "doc_id < 1000")
    import spark.implicits._
    val bad = intercept[Exception] {
      Seq((5000L, "over", "lang0")).toDF("doc_id", "text", "lang")
        .write.format("graft").mode("append").save(path)
    }
    assert(bad.getMessage.contains("id_cap"))
    docs(0 until 5).write.format("graft").mode("overwrite").save(path)
    assert(SnapshotTable.read(spark, path).count() == 5L)
    val kinds = SnapshotTable.history(spark, path)
      .orderBy("version").select("kind").collect().map(_.getString(0)).toSeq
    assert(kinds == Seq("append", "append", "constraint", "overwrite"))
  }

  test("path saves honor the committed format and .partitionBy (review regressions)") {
    import spark.implicits._
    // format: an orc table must stay orc through df.write append
    val orcPath = tmp("graft-dfw-orc")
    SnapshotTable.write(spark, docs(0 until 20), orcPath, format = "orc")
    docs(20 until 30).write.format("graft").mode("append").save(orcPath)
    assert(SnapshotTable.read(spark, orcPath).count() == 30L)
    val m = SnapshotTable.history(spark, orcPath).count()
    assert(m == 2L)
    // the delta dir really is orc (no parquet files anywhere)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f) else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    assert(!walk(new java.io.File(orcPath))
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .exists(_.getName.endsWith(".parquet")))
    // partitionBy: a fresh save must create the hive layout
    val pPath = tmp("graft-dfw-part")
    docs(0 until 30).write.format("graft").partitionBy("lang").save(pPath)
    val langDirs = new java.io.File(pPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
      .flatMap(_.listFiles()).map(_.getName).filter(_.startsWith("lang="))
    assert(langDirs.toSet == Set("lang=lang0", "lang=lang1", "lang=lang2"))
    // an append restating DIFFERENT partitioning refuses loudly
    val e = intercept[Exception] {
      docs(30 until 40).write.format("graft").partitionBy("doc_id").mode("append").save(pPath)
    }
    assert(e.getMessage.contains("partition"))
    // matching partitionBy (or none) appends fine
    docs(30 until 60).write.format("graft").partitionBy("lang").mode("append").save(pPath)
    assert(SnapshotTable.read(spark, pPath).count() == 60L)
    // the V2 READ of a non-parquet chain refuses loudly (the scan
    // delegates to the vectorized parquet reader; API reads any format)
    val orcRead = intercept[Exception] {
      spark.read.format("graft").load(orcPath).count()
    }
    assert(orcRead.getMessage.contains("parquet"))
  }

  test("TBLPROPERTIES keys are case-insensitive; multi-change ALTER validates upfront") {
    withCatalog { cat =>
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      spark.sql(s"CREATE TABLE $cat.ci (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('Stats' = 'doc_id')")
      spark.sql(s"INSERT INTO $cat.ci VALUES (1, 'a'), (2, 'b')")
      // the mixed-case stats property was HONORED (sidecar config set)
      val (_, rep) = SnapshotTable.readWhereReport(spark, s"$wh/ci",
        col("doc_id") === 1L)
      assert(rep.nFilesTotal > 0)
      val mf = scala.io.Source.fromFile(
        new java.io.File(s"$wh/ci/_versions/v00000002.txt")).mkString
      assert(mf.contains("stats:doc_id"), s"stats config not persisted: $mf")
      // unknown keys still refuse, case-insensitively
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.ci2 (x BIGINT, y BIGINT) TBLPROPERTIES ('Bogus' = '1')")
      }
      assert(e.getMessage.toLowerCase.contains("bogus"))
      // a multi-change ALTER with one unsupported change applies NOTHING
      import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
      val catalog = spark.sessionState.catalogManager.catalog(cat)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val before = SnapshotTable.currentVersion(spark, s"$wh/ci").get
      intercept[Exception] {
        catalog.alterTable(Identifier.of(Array.empty, "ci"),
          TableChange.renameColumn(Array("text"), "body"),
          TableChange.setProperty("k", "v"))
      }
      assert(SnapshotTable.currentVersion(spark, s"$wh/ci").get == before,
        "a failed multi-change ALTER must not half-apply")
      assert(spark.table(s"$cat.ci").columns.toSeq == Seq("doc_id", "text"))
    }
  }

  test("writes through a time-travel-pinned load refuse loudly") {
    val path = tmp("graft-pinned")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text",
      expectedItems = 10000L)
    SnapshotTable.ingest(spark, docs(20 until 40), path, "text",
      expectedItems = 10000L)
    withCatalog { cat =>
      // a pinned SQL read works; INSERT targets are never pinned in SQL,
      // so drive the refusal through the reader-option path
      val e = intercept[Exception] {
        docs(100 until 110).write.format("graft")
          .option("versionAsOf", "1").mode("append").save(path)
      }
      assert(e.getMessage.contains("time-travel-pinned") ||
        e.getCause != null && e.getCause.getMessage.contains("time-travel-pinned"))
    }
  }

  test("streaming data read tails SQL INSERTs (one surface, both engines)") {
    withCatalog { cat =>
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      spark.sql(s"CREATE TABLE $cat.stream_t (doc_id BIGINT, text STRING, lang STRING)")
      spark.sql(s"INSERT INTO $cat.stream_t VALUES (1, 'a', 'en'), (2, 'b', 'fr')")
      val out = tmp("graft-stream-out")
      val ckpt = tmp("graft-stream-ckpt")
      val q = spark.readStream.format("graft")
        .option("startVersion", "earliest").load(s"$wh/stream_t")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val got = spark.read.schema("doc_id BIGINT, text STRING, lang STRING")
        .parquet(out)
      assert(got.count() == 2L)
    }
  }

  test("CALL procedures: a SQL-only session runs the full maintenance lifecycle") {
    withCatalog { cat =>
      spark.sql(s"CREATE TABLE $cat.mt (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('stats' = 'doc_id')")
      // a long small-dir chain: the binpack target
      (0 until 4).foreach { i =>
        spark.sql(s"INSERT INTO $cat.mt SELECT id + ${i * 10}, " +
          s"concat('t-', id + ${i * 10}) FROM range(10)")
      }
      spark.sql(s"DELETE FROM $cat.mt WHERE doc_id = 5")
      spark.sql(s"DELETE FROM $cat.mt WHERE doc_id = 6")
      val path = s"${spark.conf.get(s"spark.sql.catalog.$cat.warehouse")}/mt"
      assert(SnapshotTable.versions(spark, path) == (1L to 7L))
      // fold the two delete sidecars into one
      val folded = spark.sql(s"CALL $cat.system.compact_pos_deletes('mt')").collect()
      assert(folded.head.getLong(0) == 8L)
      // compact materializes the overlay (CALL returns its stats row)
      val cst = spark.sql(s"CALL $cat.system.compact('mt', text_col => 'text')")
      assert(cst.columns.toSeq == Seq("files_before", "files_after", "bytes"))
      assert(cst.head.getInt(1) <= cst.head.getInt(0))
      assert(spark.sql(s"SELECT count(*) FROM $cat.mt").head.getLong(0) == 38L)
      // binpack (named argument) then expire + vacuum
      spark.sql(s"INSERT INTO $cat.mt VALUES (100, 'x'), (101, 'y')")
      spark.sql(s"INSERT INTO $cat.mt VALUES (102, 'z')")
      val bst = spark.sql(s"CALL $cat.system.binpack('mt', target_file_mb => 64)")
        .collect().head
      assert(bst.getInt(1) >= 2, s"binpack merged ${bst.getInt(1)} dirs")
      // history records the maintenance kinds, SQL-visible (checked
      // BEFORE expire trims the older rows away)
      val kinds = spark.sql(
        s"SELECT kind FROM $cat.`mt$$history` ORDER BY version")
        .collect().map(_.getString(0)).toSeq
      assert(kinds.contains("binpack") && kinds.contains("compact") &&
        kinds.contains("posdelete-compact"), s"kinds: $kinds")
      val nExpired = spark.sql(s"CALL $cat.system.expire('mt', keep => 2)")
        .collect().head.getInt(0)
      assert(nExpired > 0)
      val vac = spark.sql(s"CALL $cat.system.vacuum('mt', grace_ms => 0)").collect().head
      assert(vac.getInt(0) >= 0)
      assert(spark.sql(s"SELECT count(*) FROM $cat.mt").head.getLong(0) == 41L)
      // rollback restores a retained version as a new commit
      val cur = SnapshotTable.currentVersion(spark, path).get
      spark.sql(s"INSERT INTO $cat.mt VALUES (999, 'oops')")
      val rb = spark.sql(s"CALL $cat.system.rollback('mt', version => $cur)")
        .collect().head
      assert(rb.getLong(1) == cur)
      assert(spark.sql(s"SELECT count(*) FROM $cat.mt WHERE doc_id = 999")
        .head.getLong(0) == 0L)
      // unknown procedure refuses as an ANALYSIS error (ROUTINE_NOT_FOUND,
      // sqlstate 42883 — what CALL resolution renders for Spark's own
      // catalogs) and still names the available procedures
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"CALL $cat.system.nope('mt')")
      }
      assert(e.getCondition == "ROUTINE_NOT_FOUND" &&
        e.getMessage.contains("compact"), s"unexpected: ${e.getMessage}")
    }
  }
}
