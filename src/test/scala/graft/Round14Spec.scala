package graft

import org.apache.spark.sql.functions._

/** Round-14 pins: column mapping — rename/drop as metadata-only commits
  * (the Delta column-mapping "name mode" / Iceberg RENAME-DROP COLUMN
  * contract) — physical-name immutability, time travel under old names,
  * fresh-physical re-adds, the refusal battery, and the mapped table
  * surviving every write-path operator (ingest/merge/compact/binpack/
  * merge-on-read/readWhere).
  */
class Round14Spec extends SparkSpec {

  import graft.operators.SnapshotTable

  private def docs(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"text-$i", s"lang${i % 3}", i * 10L))
      .toDF("doc_id", "text", "lang", "n_chars")
  }

  /** Physical parquet column names of one snapshot dir, read WITHOUT
    * the manifest's mapping — what is actually on disk.
    */
  private def physicalCols(path: String, dir: String): Seq[String] =
    spark.read.parquet(new java.io.File(path, dir).toString).columns.toSeq

  private def dataDirs(path: String): Seq[String] =
    new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("snap-")).sorted.toSeq

  test("renameColumn is metadata-only: no data file changes, values survive, time travel keeps old names") {
    val path = tmp("graft-rename")
    SnapshotTable.ingest(spark, docs(100), path, "text", expectedItems = 1000L)
    val filesBefore = new java.io.File(path, dataDirs(path).head)
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    val v2 = SnapshotTable.renameColumn(spark, path, "lang", "language")
    assert(v2 == 2L)
    // metadata-only: the snapshot dir is byte-identical
    val filesAfter = new java.io.File(path, dataDirs(path).head)
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(filesAfter == filesBefore, "rename touched data files")
    // current read: new logical name, same values
    val cur = SnapshotTable.read(spark, path)
    assert(cur.columns.toSeq == Seq("doc_id", "text", "language", "n_chars"))
    assert(cur.filter(col("doc_id") === 7L).select("language").head.getString(0) == "lang1")
    assert(cur.count() == 100L)
    // time travel: v1 reads under ITS schema (old name)
    val v1 = SnapshotTable.readAt(spark, path, 1L)
    assert(v1.columns.contains("lang") && !v1.columns.contains("language"))
    // the physical file name never changed
    assert(physicalCols(path, dataDirs(path).head).contains("lang"))
  }

  test("ingest after rename writes the delta under the PHYSICAL name; dedup universe survives the rename") {
    val path = tmp("graft-rename-ingest")
    SnapshotTable.ingest(spark, docs(100), path, "text", expectedItems = 1000L)
    SnapshotTable.renameColumn(spark, path, "lang", "language")
    // incoming batches speak the NEW logical schema; 50 rows overlap v1
    val more = docs(150).withColumnRenamed("lang", "language")
      .filter(col("doc_id") >= 50L)
    val st = SnapshotTable.ingest(spark, more, path, "text", expectedItems = 1000L)
    assert(st.nIncoming == 100L)
    assert(st.nNew == 50L, s"content dedup must survive the rename: ${st.nNew}")
    // every data dir carries ONE on-disk schema: the physical names
    dataDirs(path).foreach { d =>
      val cols = physicalCols(path, d)
      assert(cols.contains("lang") && !cols.contains("language"),
        s"dir $d physical columns: $cols")
    }
    val cur = SnapshotTable.read(spark, path)
    assert(cur.count() == 150L)
    assert(cur.filter(col("doc_id") === 120L).select("language").head.getString(0) == "lang0")
  }

  test("readWhere prunes on a renamed stats column (ranges translate to physical sidecar names)") {
    import spark.implicits._
    val path = tmp("graft-rename-prune")
    def batch(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"t-$i" * 40)).toDF("doc_id", "text")
    SnapshotTable.ingest(spark, batch(0, 500), path, "text",
      expectedItems = 10000L, statsCols = Seq("doc_id"))
    SnapshotTable.ingest(spark, batch(500, 1000), path, "text", expectedItems = 10000L)
    SnapshotTable.renameColumn(spark, path, "doc_id", "document_id")
    SnapshotTable.ingest(spark, batch(1000, 1500)
      .withColumnRenamed("doc_id", "document_id"), path, "text", expectedItems = 10000L)
    // predicate on the NEW name; sidecars (old and new dirs) key on the
    // PHYSICAL name doc_id — pruning must still drop non-matching files
    val (df, report) = SnapshotTable.readWhereReport(spark, path,
      col("document_id").between(1100L, 1199L))
    assert(df.count() == 100L)
    assert(report.nFilesKept < report.nFilesTotal, s"no pruning: $report")
    // and a range entirely in a PRE-rename dir prunes too
    val (df2, report2) = SnapshotTable.readWhereReport(spark, path,
      col("document_id") < 100L)
    assert(df2.count() == 100L)
    assert(report2.nFilesKept < report2.nFilesTotal, s"no pruning: $report2")
  }

  test("dropColumn retires the physical name: re-added column is fresh, old bytes never resurrect") {
    val path = tmp("graft-drop")
    SnapshotTable.ingest(spark, docs(60), path, "text", expectedItems = 1000L)
    val v2 = SnapshotTable.dropColumn(spark, path, "n_chars")
    assert(v2 == 2L)
    val cur = SnapshotTable.read(spark, path)
    assert(!cur.columns.contains("n_chars"))
    assert(cur.count() == 60L)
    // time travel still sees the dropped column's values
    val v1 = SnapshotTable.readAt(spark, path, 1L)
    assert(v1.filter(col("doc_id") === 3L).select("n_chars").head.getLong(0) == 30L)
    // re-add the same logical name via additive evolution: fresh column
    val more = docs(80).filter(col("doc_id") >= 60L)
      .select(col("doc_id"), col("text"), col("lang"),
        (col("n_chars") + 100000L).as("n_chars"))
    SnapshotTable.ingest(spark, more, path, "text",
      expectedItems = 1000L, evolveSchema = true)
    val after = SnapshotTable.read(spark, path)
    // old rows: NULL (the retired bytes must NOT resurrect); new rows: new values
    assert(after.filter(col("doc_id") < 60L && col("n_chars").isNotNull).count() == 0L,
      "dropped column's bytes resurrected into the re-added column")
    assert(after.filter(col("doc_id") === 70L).select("n_chars").head.getLong(0) == 100700L)
    // the fresh physical name is distinct from the retired one
    val newDir = dataDirs(path).last
    val cols = physicalCols(path, newDir)
    assert(!cols.contains("n_chars") && cols.exists(_.startsWith("n_chars__p")),
      s"re-added column should write under a minted physical name: $cols")
  }

  test("rename/drop refusal battery: partition column, MOR key with outstanding overlay, constraint-referenced, last data column, name collisions") {
    val path = tmp("graft-refuse")
    SnapshotTable.ingest(spark, docs(40), path, "text",
      expectedItems = 1000L, partitionCols = Seq("lang"))
    // partition column
    val e1 = intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, path, "lang", "language"))
    assert(e1.getMessage.contains("partition column"))
    val e2 = intercept[IllegalArgumentException](
      SnapshotTable.dropColumn(spark, path, "lang"))
    assert(e2.getMessage.contains("partition column"))
    // constraint-referenced
    SnapshotTable.addConstraint(spark, path, "chars_pos", "n_chars >= 0", "fail")
    val e3 = intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, path, "n_chars", "chars"))
    assert(e3.getMessage.contains("chars_pos"))
    SnapshotTable.dropConstraint(spark, path, "chars_pos")
    // case-insensitive collision (Spark's default resolver)
    val e4 = intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, path, "n_chars", "TEXT"))
    assert(e4.getMessage.contains("already exists"))
    // unknown column fails loudly
    intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, path, "nope", "x"))
    // MOR key while tombstones outstanding
    val path2 = tmp("graft-refuse-mor")
    SnapshotTable.ingest(spark, docs(40), path2, "text", expectedItems = 1000L)
    val ch = docs(40).filter(col("doc_id") < 5L)
      .withColumn("is_deleted", lit(true))
    SnapshotTable.mergeOnRead(spark, ch, path2, "doc_id",
      deleteCol = Some("is_deleted"))
    val e5 = intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, path2, "doc_id", "id"))
    assert(e5.getMessage.contains("tombstone"))
    val e6 = intercept[IllegalArgumentException](
      SnapshotTable.dropColumn(spark, path2, "doc_id"))
    assert(e6.getMessage.contains("tombstone"))
    // a NON-key column may rename while the overlay is outstanding, and
    // the masked read stays correct under the new name
    SnapshotTable.renameColumn(spark, path2, "lang", "language")
    val masked = SnapshotTable.read(spark, path2)
    assert(masked.count() == 35L)
    assert(masked.columns.contains("language"))
    // last-data-column guard
    val path3 = tmp("graft-refuse-last")
    SnapshotTable.ingest(spark, docs(5).select(col("text")), path3, "text",
      expectedItems = 100L)
    val e7 = intercept[IllegalArgumentException](
      SnapshotTable.dropColumn(spark, path3, "text"))
    assert(e7.getMessage.contains("no data column"))
  }

  test("compact, binpack, and COW merge preserve the mapping; changelog reads deltas under the renamed schema") {
    val path = tmp("graft-map-rewrite")
    SnapshotTable.ingest(spark, docs(100), path, "text",
      expectedItems = 1000L, statsCols = Seq("doc_id"))
    SnapshotTable.renameColumn(spark, path, "lang", "language")
    val more = docs(200).withColumnRenamed("lang", "language")
      .filter(col("doc_id") >= 100L)
    SnapshotTable.ingest(spark, more, path, "text", expectedItems = 1000L)
    // changelog across the rename: v2→v3 adds exactly the delta, under
    // the NEW logical name; v1→v2 (the rename itself) adds nothing
    val delta = SnapshotTable.addedBetween(spark, path, 2L, Some(3L))
    assert(delta.count() == 100L && delta.columns.contains("language"))
    assert(SnapshotTable.addedBetween(spark, path, 1L, Some(2L)).count() == 0L)
    // binpack the small tail: mapped dirs merge, read stays logical
    SnapshotTable.compactSmall(spark, path, smallDirBytes = 1L << 40)
    val afterBinpack = SnapshotTable.read(spark, path)
    assert(afterBinpack.count() == 200L)
    assert(afterBinpack.filter(col("doc_id") === 150L)
      .select("language").head.getString(0) == "lang0")
    // COW merge on the mapped table (update 10 rows through the new name)
    val upd = docs(10).withColumnRenamed("lang", "language")
      .select(col("doc_id"), concat(col("text"), lit("!")).as("text"),
        col("language"), col("n_chars"))
    SnapshotTable.merge(spark, upd, path, "doc_id")
    val merged = SnapshotTable.read(spark, path)
    assert(merged.filter(col("doc_id") === 5L).select("text").head.getString(0) == "text-5!")
    assert(merged.count() == 200L)
    // full compact: one dir, mapping preserved, pruning still works
    SnapshotTable.compact(spark, path, sortCols = Seq("doc_id"),
      textCol = Some("text"), expectedItems = 1000L)
    val compacted = SnapshotTable.read(spark, path)
    assert(compacted.count() == 200L)
    assert(compacted.columns.toSeq == Seq("doc_id", "text", "language", "n_chars"))
    assert(compacted.filter(col("doc_id") === 150L)
      .select("language").head.getString(0) == "lang0")
    val (pruned, report) = SnapshotTable.readWhereReport(spark, path,
      col("doc_id") < 10L)
    assert(pruned.count() == 10L)
    assert(report.nFilesTotal >= 1)
    // post-compact ingest still dedups against the carried universe
    val replay = docs(200).withColumnRenamed("lang", "language")
      .filter(col("doc_id").between(180L, 199L))
    val st = SnapshotTable.ingest(spark, replay, path, "text", expectedItems = 1000L)
    assert(st.nNew == 0L, s"post-compact dedup broke under mapping: ${st.nNew}")
  }

  test("merge-on-read on a mapped table: overlay masks across renamed dirs; rewrite clears and allows the key rename") {
    val path = tmp("graft-map-mor")
    SnapshotTable.ingest(spark, docs(50), path, "text", expectedItems = 1000L)
    SnapshotTable.renameColumn(spark, path, "n_chars", "size_chars")
    val ch = docs(50).filter(col("doc_id") < 10L)
      .select(col("doc_id"), concat(col("text"), lit("v2")).as("text"),
        col("lang"), (col("n_chars") + 1L).as("size_chars"),
        lit(false).as("is_deleted"))
    SnapshotTable.mergeOnRead(spark, ch, path, "doc_id",
      deleteCol = Some("is_deleted"), textCol = Some("text"),
      expectedItems = 1000L)
    val cur = SnapshotTable.read(spark, path)
    assert(cur.count() == 50L)
    assert(cur.filter(col("doc_id") === 3L).select("size_chars").head.getLong(0) == 31L)
    assert(cur.filter(col("doc_id") === 3L).select("text").head.getString(0) == "text-3v2")
    // the MOR delta dir carries the PHYSICAL name on disk
    val morDir = dataDirs(path).last
    assert(physicalCols(path, morDir).contains("n_chars"),
      s"MOR delta should write physical names: ${physicalCols(path, morDir)}")
    // materialize the overlay, then the key may rename
    SnapshotTable.compact(spark, path, textCol = Some("text"), expectedItems = 1000L)
    val v = SnapshotTable.renameColumn(spark, path, "doc_id", "document_id")
    assert(SnapshotTable.readAt(spark, path, v).columns.contains("document_id"))
  }

  test("per-file blooms skip files on string point lookups where min/max intervals cannot") {
    import spark.implicits._
    val path = tmp("graft-bloom-prune")
    def key(i: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // hash-distributed keys: EVERY file's [min,max] spans ~the whole
    // keyspace, so interval stats alone can never skip a file here
    def batch(lo: Long, hi: Long) = (lo until hi).map(i => (i, key(i))).toDF("doc_id", "k")
    SnapshotTable.ingest(spark, batch(0, 400), path, "k",
      expectedItems = 10000L, statsCols = Seq("k"))
    SnapshotTable.ingest(spark, batch(400, 800), path, "k", expectedItems = 10000L)
    SnapshotTable.ingest(spark, batch(800, 1200), path, "k", expectedItems = 10000L)
    val (df, report) = SnapshotTable.readWhereReport(spark, path, col("k") === key(567L))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(567L))
    assert(report.nFilesTotal >= 3)
    assert(report.nFilesKept < report.nFilesTotal,
      s"bloom point-skipping pruned nothing on hash-distributed keys: $report")
    // an absent key prunes (near-)everything — fpp keeps this a bound,
    // not an exact zero; the RESULT must be exactly empty either way
    val (df2, report2) = SnapshotTable.readWhereReport(spark, path,
      col("k") === "0000000000000000000000000000000000000000")
    assert(df2.count() == 0L)
    assert(report2.nFilesKept < report2.nFilesTotal, s"absent key kept everything: $report2")
    // a RANGE predicate ignores blooms and stays correct
    assert(SnapshotTable.readWhere(spark, path, col("doc_id") < 100L).count() == 100L)
  }

  test("legacy (pre-bloom) stats sidecars read back null-filled: equality stays correct, range pruning still works") {
    import spark.implicits._
    val path = tmp("graft-bloom-legacy")
    def batch(lo: Long, hi: Long) = (lo until hi).map(i => (i, s"key-$i" * 10)).toDF("doc_id", "k")
    SnapshotTable.ingest(spark, batch(0, 300), path, "k",
      expectedItems = 10000L, statsCols = Seq("doc_id", "k"))
    SnapshotTable.ingest(spark, batch(300, 600), path, "k", expectedItems = 10000L)
    // rewrite every sidecar WITHOUT the bloom column (the pre-r14 shape)
    new java.io.File(path, "_stats").listFiles().foreach { d =>
      val legacy = spark.read.parquet(d.toString)
        .filter(col("bloom").isNull).drop("bloom")
      val tmpOut = d.toString + ".legacy"
      legacy.coalesce(1).write.mode("overwrite").parquet(tmpOut)
      val f = new org.apache.hadoop.fs.Path(d.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(d.toString), true)
      f.rename(new org.apache.hadoop.fs.Path(tmpOut), new org.apache.hadoop.fs.Path(d.toString))
    }
    // equality: no bloom → conservative keep, result exact
    val (df, _) = SnapshotTable.readWhereReport(spark, path, col("k") === ("key-42" * 10))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(42L))
    // range pruning on the numeric column still prunes from legacy rows
    val (df2, report2) = SnapshotTable.readWhereReport(spark, path, col("doc_id") < 100L)
    assert(df2.count() == 100L)
    assert(report2.nFilesKept < report2.nFilesTotal, s"legacy range pruning lost: $report2")
  }

  test("t36 bucket-decomposed mixture sampling equals the plain one-window prefix rule") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Text
    // the operator under test (bucketed: whole buckets keep/drop map-side,
    // only the boundary bucket pays the exact ordering window)
    val got = SparkEntry.queries("t36_mixture_budget")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the naive single-window form it must be indistinguishable from
    val base = graft.Tables.load(spark, sfDir, "documents")
      .filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"),
        Text.bpeTokenCount(col("text")).cast("long").as("toks"))
      .filter(col("toks") > 0)
      .withColumn("pri", md5(concat_ws(":", col("lang"), col("doc_id"))))
    val perLang = base.groupBy(col("lang")).agg(sum("toks").as("lang_toks"))
    val quota = perLang.crossJoin(
        broadcast(perLang.agg(sum("lang_toks").as("tot"), count(lit(1)).as("nl"))))
      .select(col("lang").as("qlang"), expr("tot * 3 div 10 div nl").as("quota"))
    val w = Window.partitionBy(col("lang")).orderBy(col("pri"), col("doc_id"))
    val expect = base.join(broadcast(quota), col("lang") === col("qlang"))
      .withColumn("cumb", sum(col("toks")).over(w) - col("toks"))
      .filter(col("cumb") < col("quota"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"))).toSet
    assert(got == expect,
      s"bucket decomposition diverged: +${(got -- expect).take(5)} -${(expect -- got).take(5)}")
    // non-vacuous: at least one language hit its quota (docs dropped)
    assert(got.size < base.count(), "budget selected everything — quota never binds")
    assert(got.nonEmpty)
  }

  test("changelog stream delivers deltas under the LOGICAL schema on a mapped table") {
    import graft.streaming.SnapshotChangelog
    import spark.implicits._
    val path = tmp("graft-cdc-mapped")
    val ckpt = tmp("graft-cdc-mapped-ckpt")
    SnapshotTable.ingest(spark, Seq((1L, "alpha", "en"), (2L, "beta", "de"))
      .toDF("doc_id", "text", "lang"), path, "text", 100L)
    SnapshotTable.renameColumn(spark, path, "lang", "language")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[String], Set[(Long, String)])]()
    val q = SnapshotChangelog.changelogSink(spark, path,
      (delta, c) => { got.add((c.version, delta.columns.toSeq,
        delta.collect().map(r => (r.getLong(0), r.getAs[String]("language"))).toSet)); () },
      checkpoint = Some(ckpt))
    q.processAllAvailable()
    // a post-rename ingest: the delta dir's FILES carry the physical
    // name `lang`, but the stream consumer must see `language`
    SnapshotTable.ingest(spark, Seq((3L, "gamma", "fr"))
      .toDF("doc_id", "text", "language"), path, "text", 100L)
    q.processAllAvailable()
    q.stop()
    val rows = got.toArray.toSeq.asInstanceOf[Seq[(Long, Seq[String], Set[(Long, String)])]]
    assert(rows.size == 1, s"expected one live commit, got $rows")
    assert(rows.head._2 == Seq("doc_id", "text", "language"),
      s"delta columns must be LOGICAL: ${rows.head._2}")
    assert(rows.head._3 == Set((3L, "fr")), s"delta content wrong: ${rows.head._3}")
  }

  test("newDocumentsFuzzy admits a batch minus near-dups of history; short and within-batch dups pass") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val existing = Seq(
      (1L, base),
      (2L, "completely different text about oceanography and temperature profiles at depth levels")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base + " extra"),                                   // near-dup of doc 1 → dropped
      (11L, "an entirely novel document with its own words nobody has written before here"),
      (12L, "an entirely novel document with its own words nobody has written before here"),
      (13L, "xy zz")                                            // < shingle length: no signature → admitted
    ).toDF("doc_id", "text")
    val admitted = Dedup.newDocumentsFuzzy(existing, incoming, "doc_id", "text",
      tau = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    // 10 is history-near-dup (dropped); 11/12 are WITHIN-batch dups of
    // each other but novel vs history (both admitted — the operator
    // gates on history only); 13 has no shingles (admitted)
    assert(admitted == Set(11L, 12L, 13L), s"admitted: $admitted")
    // and on the corpus: the gate is non-vacuous at sf0.001
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val nIncoming = docs.filter(col("doc_id") >= 300).count()
    val nAdmitted = SparkEntry.queries("d39_neardup_incremental")(spark, sfDir).count()
    assert(nAdmitted > 0 && nAdmitted < nIncoming,
      s"near-dup admission vacuous at sf0.001: $nAdmitted of $nIncoming")
  }

  test("ingestFuzzy gates on persisted signatures: no payload read, self-healing sidecars") {
    import spark.implicits._
    val path = tmp("graft-fuzzy-ingest")
    // word-shaped ~1.6 KB docs so signatures exist and payload dwarfs
    // the ~260 B/doc signature sidecar
    def words(i: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 200).map { j =>
        md.digest(s"$i:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      }.mkString(" ")
    }
    val base = (0L until 1500L).map(i => (i, words(i))).toDF("doc_id", "text")
    val s1 = SnapshotTable.ingestFuzzy(spark, base, path, "doc_id", "text",
      expectedItems = 10000L)
    assert(s1.nNew == 1500L && s1.nFuzzyDropped == 0L)
    // sidecar persisted for the delta dir
    val mhRoot = new java.io.File(path, "_minhash/k32s3p")
    assert(mhRoot.isDirectory && mhRoot.listFiles().nonEmpty, "signature sidecar missing")
    val payloadBytes = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("snap-")).flatMap(_.listFiles())
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.length()).sum
    assert(payloadBytes > 1000000L, s"fixture too small: $payloadBytes")
    // batch 2: one near-dup of doc 7 (first 190 words shared), one new
    val nearDup = (9001L, words(7L).split(" ").take(190).mkString(" ") + " tail drift here")
    val fresh = (9002L, words(424242L))
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) bytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val s2 =
      try {
        val s = SnapshotTable.ingestFuzzy(spark,
          Seq(nearDup, fresh).toDF("doc_id", "text"), path, "doc_id", "text",
          expectedItems = 10000L)
        var last = -1L
        var spins = 0
        while (bytes.get() != last && spins < 50) {
          last = bytes.get(); Thread.sleep(100); spins += 1
        }
        s
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(s2.nFuzzyDropped == 1L, s"near-dup not dropped: $s2")
    assert(s2.nNew == 1L, s"fresh doc not admitted: $s2")
    assert(bytes.get() < payloadBytes / 2,
      s"fuzzy ingest read ${bytes.get()} B against a $payloadBytes B payload — " +
        "the gate is scanning payload text instead of signature sidecars")
    // self-healing: delete a sidecar; the next ingest recomputes it from
    // that one dir's payload, persists it back, and still gates right
    val victim = mhRoot.listFiles().head
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf)
      f.delete(); ()
    }
    rmRf(victim)
    val s3 = SnapshotTable.ingestFuzzy(spark,
      Seq((9003L, words(11L).split(" ").take(190).mkString(" ") + " other end")).toDF("doc_id", "text"),
      path, "doc_id", "text", expectedItems = 10000L)
    assert(s3.nFuzzyDropped == 1L, s"gate lost coverage after sidecar loss: $s3")
    assert(new java.io.File(mhRoot, victim.getName).exists(),
      "recomputed sidecar must be persisted back")
    // expire sweeps minhash sidecars of deleted dirs
    SnapshotTable.expire(spark, path, keep = 1)
    val liveDirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("snap-")).toSet
    assert(mhRoot.listFiles().map(_.getName).toSet.subsetOf(liveDirs),
      "expire left minhash sidecars of deleted dirs behind")
  }

  test("ingestFuzzy never reads unsuffixed (xxhash64-era) signature sidecars") {
    import spark.implicits._
    val path = tmp("graft-fuzzy-legacy")
    def words(i: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 100).map { j =>
        md.digest(s"$i:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      }.mkString(" ")
    }
    SnapshotTable.ingestFuzzy(spark, (0L until 20L).map(i => (i, words(i))).toDF("doc_id", "text"),
      path, "doc_id", "text", expectedItems = 1000L)
    // earlier versions wrote xxhash64 signatures under `_minhash/k32s3`;
    // plant complete sidecars there whose all -1 signatures match nothing
    val poison = Seq(Seq.fill(32)(-1L)).toDF("sig")
    dataDirs(path).foreach { d =>
      poison.write.mode("overwrite").parquet(new java.io.File(path, s"_minhash/k32s3/$d").toString)
    }
    val nearDup = (900L, words(7L).split(" ").take(95).mkString(" ") + " tail drift here")
    val s2 = SnapshotTable.ingestFuzzy(spark, Seq(nearDup).toDF("doc_id", "text"),
      path, "doc_id", "text", expectedItems = 1000L)
    assert(s2.nFuzzyDropped == 1L, s"near-dup admitted through an unsuffixed sidecar: $s2")
  }

  test("manifest round-trip: physmap and physretired survive commit/parse; pre-r14 readers would fail loudly (unknown tag)") {
    val path = tmp("graft-map-manifest")
    SnapshotTable.ingest(spark, docs(10), path, "text", expectedItems = 100L)
    SnapshotTable.renameColumn(spark, path, "lang", "language")
    SnapshotTable.dropColumn(spark, path, "n_chars")
    val manifest = new java.io.File(path, "_versions/v00000003.txt")
    val body = new String(java.nio.file.Files.readAllBytes(manifest.toPath), "UTF-8")
    assert(body.contains("physmap:language=lang"), body)
    assert(body.contains("physretired:n_chars"), body)
    // round-trip through a fresh read: rename back reclaims the identity
    // mapping (language→lang entry drops when new name == physical)
    SnapshotTable.renameColumn(spark, path, "language", "lang")
    val m4 = new java.io.File(path, "_versions/v00000004.txt")
    val body4 = new String(java.nio.file.Files.readAllBytes(m4.toPath), "UTF-8")
    assert(!body4.contains("physmap:"), body4)
    assert(body4.contains("physretired:n_chars"), body4)
    assert(SnapshotTable.read(spark, path).columns.toSeq == Seq("doc_id", "text", "lang"))
  }
}
