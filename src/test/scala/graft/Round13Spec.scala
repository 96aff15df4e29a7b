package graft

import org.apache.spark.sql.functions._

/** Round-13 pins: per-file column stats + predicate-pruned scan
  * planning, SnapshotTable.merge as a committed copy-on-write operator,
  * the ingest schema-drift contract, the race-free manifest read path,
  * and the refuse-existing FileContext publish.
  */
class Round13Spec extends SparkSpec {

  import graft.operators.SnapshotTable

  /** ~1 KB of low-compressibility text per row so payload bytes dwarf
    * metadata and the bytes-read audit has an unmistakable gap.
    */
  private def blob(i: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 32).map { j =>
      md.digest(s"$i:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.mkString
  }

  /** Bytes the plan's scans were BUILT over: the sum of leaf-relation
    * sizes in the optimized plan, i.e. the file set the scan will read.
    * (Task-level inputMetrics undercount local parquet reads, so the
    * audit pins the planning decision — which is what file pruning
    * changes — rather than an IO counter that can't see the files.)
    */
  private def scanBytes(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes.toLong).sum

  // ---- stats-pruned scan planning ---------------------------------------

  test("readWhere prunes to the files a range predicate can touch (bytes-read audited)") {
    import spark.implicits._
    val path = tmp("graft-prune")
    // three append commits over DISJOINT doc_id ranges; the stats config
    // is stated once at table creation and inherited by later ingests
    SnapshotTable.ingest(spark, (0L until 600L).map(i => (i, blob(i))).toDF("doc_id", "text"),
      path, "text", expectedItems = 10000L, statsCols = Seq("doc_id"))
    SnapshotTable.ingest(spark, (600L until 1200L).map(i => (i, blob(i))).toDF("doc_id", "text"),
      path, "text", expectedItems = 10000L)
    SnapshotTable.ingest(spark, (1200L until 1800L).map(i => (i, blob(i))).toDF("doc_id", "text"),
      path, "text", expectedItems = 10000L)
    val allBytes = scanBytes(SnapshotTable.read(spark, path))
    assert(allBytes > 500000L, s"fixture too small for a meaningful audit: $allBytes")
    // predicate inside commit 2's range only
    val pred = col("doc_id") >= 700L && col("doc_id") < 800L
    val (prunedDf, report) = SnapshotTable.readWhereReport(spark, path, pred)
    val rows = prunedDf.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (700L until 800L).toSeq)
    assert(report.nFilesKept < report.nFilesTotal,
      s"stats present but nothing pruned: $report")
    val prunedBytes = scanBytes(prunedDf)
    assert(prunedBytes < allBytes / 2,
      s"pruned read still plans ${prunedBytes}B of ${allBytes}B")
    // result set identical to the unpruned filter
    val expect = SnapshotTable.read(spark, path).filter(pred).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(SnapshotTable.readWhere(spark, path, pred).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == expect)
    // a predicate matching NOTHING prunes every file and still has the
    // right schema (note: `< 0` would conservatively keep the file
    // holding 0 — exclusive bounds widen to inclusive by design)
    val (none, noneRep) = SnapshotTable.readWhereReport(spark, path, col("doc_id") === -1L)
    assert(noneRep.nFilesKept == 0 && none.count() == 0L)
    assert(none.schema.fieldNames.toSeq == Seq("doc_id", "text"))
  }

  test("readWhere without stats reads everything but stays correct; unsupported predicates never prune") {
    import spark.implicits._
    val path = tmp("graft-prune-nostats")
    // no statsCols anywhere: the fallback path
    SnapshotTable.ingest(spark, (0L until 300L).map(i => (i, blob(i))).toDF("doc_id", "text"),
      path, "text", expectedItems = 10000L)
    SnapshotTable.ingest(spark, (300L until 600L).map(i => (i, blob(i))).toDF("doc_id", "text"),
      path, "text", expectedItems = 10000L)
    val pred = col("doc_id") === 450L
    val (df, rep) = SnapshotTable.readWhereReport(spark, path, pred)
    assert(rep.nFilesKept == rep.nFilesTotal, s"pruned without stats: $rep")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(450L))
    // stats table, but a predicate shape extraction can't see through:
    // must keep all files and stay exact
    val p2 = tmp("graft-prune-opaque")
    SnapshotTable.ingest(spark, (0L until 200L).map(i => (i, blob(i))).toDF("doc_id", "text"),
      p2, "text", expectedItems = 10000L, statsCols = Seq("doc_id"))
    val opaque = (col("doc_id") % 97L) === 0L
    val (df2, rep2) = SnapshotTable.readWhereReport(spark, p2, opaque)
    assert(rep2.nFilesKept == rep2.nFilesTotal,
      s"an arithmetic predicate must not prune (no literal-vs-column range): $rep2")
    assert(df2.count() == (0L until 200L).count(_ % 97L == 0L))
    // an OR over same-column ranges extracts as a union of intervals
    // (r15) — pruning may fire, but the answer must stay exact
    // (Round15Spec pins that it DOES prune on a clustered layout)
    val orPred = col("doc_id") < 10L || col("doc_id") > 190L
    val (df3, rep3) = SnapshotTable.readWhereReport(spark, p2, orPred)
    assert(df3.count() == 19L)
    assert(rep3.nFilesKept <= rep3.nFilesTotal)
  }

  test("string stats prune with UTF-8 collation; IN lists prune by min/max envelope") {
    import spark.implicits._
    val path = tmp("graft-prune-str")
    // two commits with disjoint lang alphabets
    SnapshotTable.ingest(spark,
      (0L until 100L).map(i => (i, s"doc a $i", if (i % 2 == 0) "aa" else "bb"))
        .toDF("doc_id", "text", "lang"),
      path, "text", expectedItems = 10000L, statsCols = Seq("lang", "doc_id"))
    SnapshotTable.ingest(spark,
      (100L until 200L).map(i => (i, s"doc b $i", if (i % 2 == 0) "yy" else "zz"))
        .toDF("doc_id", "text", "lang"),
      path, "text", expectedItems = 10000L)
    val (df, rep) = SnapshotTable.readWhereReport(spark, path, col("lang") === "zz")
    assert(rep.nFilesKept < rep.nFilesTotal, s"string stats did not prune: $rep")
    assert(df.count() == 50L)
    val (df2, rep2) = SnapshotTable.readWhereReport(
      spark, path, col("lang").isin("aa", "bb") && col("doc_id") < 10L)
    assert(rep2.nFilesKept < rep2.nFilesTotal, s"IN + range did not prune: $rep2")
    assert(df2.count() == 10L)
  }

  test("compact with sortCols rebuilds stats whose intervals keep pruning sharp") {
    import spark.implicits._
    val path = tmp("graft-prune-compact")
    // interleaved commits: pre-compaction, every dir spans the full id
    // range, so a range predicate can prune nothing
    SnapshotTable.ingest(spark,
      (0L until 1000L).filter(_ % 2 == 0).map(i => (i, blob(i))).toDF("doc_id", "text"),
      path, "text", expectedItems = 10000L, statsCols = Seq("doc_id"))
    SnapshotTable.ingest(spark,
      (0L until 1000L).filter(_ % 2 == 1).map(i => (i, blob(i))).toDF("doc_id", "text"),
      path, "text", expectedItems = 10000L)
    val pred = col("doc_id") < 100L
    // compaction sorted by the stats column: few small files, disjoint
    // intervals, stats config inherited from the manifest — pruning now
    // drops the non-matching files
    SnapshotTable.compact(spark, path, targetFileBytes = 64L * 1024,
      sortCols = Seq("doc_id"), textCol = Some("text"), expectedItems = 10000L)
    val (df, rep) = SnapshotTable.readWhereReport(spark, path, pred)
    assert(rep.nFilesTotal >= 4, s"compaction made too few files to audit pruning: $rep")
    assert(rep.nFilesKept < rep.nFilesTotal, s"post-compaction stats did not prune: $rep")
    assert(df.count() == 100L)
    assert(df.collect().map(_.getLong(0)).toSet == (0L until 100L).toSet)
  }

  test("NaN doubles canonicalize to +inf in stats: Spark ordering semantics survive pruning") {
    import spark.implicits._
    val path = tmp("graft-prune-nan")
    SnapshotTable.ingest(spark,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("doc_id", "text", "score"),
      path, "text", expectedItems = 100L, statsCols = Seq("score"))
    SnapshotTable.ingest(spark,
      Seq((3L, "c", Double.NaN), (4L, "d", 5.0)).toDF("doc_id", "text", "score"),
      path, "text", expectedItems = 100L)
    // Spark ORDERS NaN above every double: `score >= 100` matches only
    // the NaN row, so the file holding it must survive pruning (an IEEE
    // NaN max bound would compare false and wrongly drop it)
    val (df, rep) = SnapshotTable.readWhereReport(spark, path, col("score") >= 100.0)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(3L),
      "NaN row must match >= 100 under Spark ordering")
    assert(rep.nFilesKept < rep.nFilesTotal, s"clean files should prune: $rep")
    // and the NaN file still prunes for predicates NaN cannot match
    val (df2, rep2) = SnapshotTable.readWhereReport(spark, path, col("score") <= 2.0)
    assert(df2.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(rep2.nFilesKept < rep2.nFilesTotal, s"NaN file should prune for <=2: $rep2")
  }

  test("timestamp stats prune time-slice reads in epoch-micros space") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val path = tmp("graft-prune-ts")
    SnapshotTable.ingest(spark,
      Seq((1L, "a", t("2024-01-01 00:00:00")), (2L, "b", t("2024-01-01 12:00:00")))
        .toDF("doc_id", "text", "ts"),
      path, "text", expectedItems = 100L, statsCols = Seq("ts"))
    SnapshotTable.ingest(spark,
      Seq((3L, "c", t("2024-02-01 00:00:00")), (4L, "d", t("2024-02-01 12:00:00")))
        .toDF("doc_id", "text", "ts"),
      path, "text", expectedItems = 100L)
    // a string bound coerces to a timestamp literal in the analyzer and
    // compares in the same epoch-micros space the stats were written in
    val (df, rep) = SnapshotTable.readWhereReport(spark, path, col("ts") >= "2024-01-20 00:00:00")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    assert(rep.nFilesKept < rep.nFilesTotal, s"January files should prune: $rep")
    val (df2, rep2) = SnapshotTable.readWhereReport(spark, path,
      col("ts") < lit(t("2024-01-15 00:00:00")))
    assert(df2.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(rep2.nFilesKept < rep2.nFilesTotal, s"February files should prune: $rep2")
  }

  test("z-order compaction makes BOTH interleaved dimensions prunable") {
    import spark.implicits._
    val path = tmp("graft-prune-z")
    // a 64x64 grid: row i lives at (x, y) = (i % 64, i / 64), with a
    // short payload so the compaction fans out over many files
    val rows = (0L until 4096L).map(i => (i, i % 64, i / 64, blob(i).take(128)))
    SnapshotTable.ingest(spark, rows.toDF("doc_id", "x", "y", "text"),
      path, "text", expectedItems = 10000L, statsCols = Seq("x", "y"))
    SnapshotTable.compact(spark, path, targetFileBytes = 24L * 1024,
      textCol = Some("text"), expectedItems = 10000L,
      zorderCols = Seq("x", "y"), zorderBits = 6)
    // a plain x-sort would leave y uniform in every file (y never
    // prunes); the Morton interleave keeps each file compact in BOTH
    // dimensions, so slices on either axis drop files
    val (dfX, repX) = SnapshotTable.readWhereReport(spark, path, col("x") < 8L)
    assert(repX.nFilesTotal >= 8, s"too few files to audit z-pruning: $repX")
    assert(repX.nFilesKept < repX.nFilesTotal, s"x-slice did not prune: $repX")
    assert(dfX.count() == 8L * 64)
    val (dfY, repY) = SnapshotTable.readWhereReport(spark, path, col("y") < 8L)
    assert(repY.nFilesKept < repY.nFilesTotal, s"y-slice did not prune: $repY")
    assert(dfY.count() == 8L * 64)
    // and a 2-D corner slice intersects both constraints
    val (dfC, repC) = SnapshotTable.readWhereReport(spark, path,
      col("x") < 8L && col("y") < 8L)
    assert(repC.nFilesKept <= math.min(repX.nFilesKept, repY.nFilesKept),
      s"corner slice must prune at least as hard as either axis: $repC vs $repX / $repY")
    assert(dfC.count() == 64L)
  }

  // ---- merge: committed copy-on-write upsert/delete ---------------------

  test("merge applies upserts and deletes as one committed snapshot") {
    import spark.implicits._
    val path = tmp("graft-merge")
    SnapshotTable.ingest(spark,
      (0L until 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    val changes = Seq(
      (3L, "doc 3 v2", false), // update
      (5L, "whatever", true),  // delete
      (42L, "doc 42", false))  // insert
      .toDF("doc_id", "text", "is_deleted")
    val st = SnapshotTable.merge(spark, changes, path, "doc_id",
      deleteCol = Some("is_deleted"), textCol = Some("text"))
    assert(st.version == 2L && st.nChanges == 3L && st.nUpserts == 2L && st.nDeletes == 1L)
    assert(st.rowsAfter == 10L) // 10 - 1 delete + 1 insert
    val got = SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(!got.contains(5L), "deleted key survived the merge")
    assert(got(3L) == "doc 3 v2", "update did not apply")
    assert(got(42L) == "doc 42", "insert did not apply")
    assert(got(7L) == "doc 7", "untouched row disturbed")
    // time travel still reads the pre-merge snapshot
    assert(SnapshotTable.readAt(spark, path, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap.get(3L).contains("doc 3"))
    // the rebuilt bloom/hash sidecars reflect the MERGED universe:
    // replaced content ("doc 3") is re-admittable, kept content is not
    val s2 = SnapshotTable.ingest(spark,
      Seq((200L, "doc 3"), (201L, "doc 7")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    assert(s2.nNew == 1L, "merge sidecars stale: dedup universe must be the merged output")
    // and addedBetween refuses to cross the rewrite boundary
    val e = intercept[IllegalArgumentException](
      SnapshotTable.addedBetween(spark, path, 1L, Some(3L)))
    assert(e.getMessage.contains("not an append-only chain"), e.getMessage)
  }

  test("merge latest-wins needs orderCol; without it duplicate keys fail loudly") {
    import spark.implicits._
    val path = tmp("graft-merge-dup")
    SnapshotTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"), path)
    val dup = Seq((1L, "first", 10L), (1L, "last", 20L), (2L, "only", 5L))
      .toDF("doc_id", "text", "seq")
    val e = intercept[IllegalArgumentException](
      SnapshotTable.merge(spark, dup.drop("seq"), path, "doc_id"))
    assert(e.getMessage.contains("duplicate key"), e.getMessage)
    // with orderCol: the greatest seq wins per key
    val st = SnapshotTable.merge(spark, dup, path, "doc_id", orderCol = Some("seq"))
    assert(st.nChanges == 2L)
    val got = SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "last", 2L -> "only"))
  }

  test("merge rejects change batches that do not match the table schema") {
    import spark.implicits._
    val path = tmp("graft-merge-schema")
    SnapshotTable.write(spark, Seq((1L, "a")).toDF("doc_id", "text"), path)
    val eMissing = intercept[IllegalArgumentException](
      SnapshotTable.merge(spark, Seq(Tuple1(1L)).toDF("doc_id"), path, "doc_id"))
    assert(eMissing.getMessage.contains("does not match the table schema"))
    val eTyped = intercept[IllegalArgumentException](
      SnapshotTable.merge(spark, Seq((1, "x")).toDF("doc_id", "text"), path, "doc_id"))
    assert(eTyped.getMessage.contains("does not match the table schema"))
    val eEmpty = intercept[IllegalArgumentException](
      SnapshotTable.merge(spark,
        Seq((1L, "x")).toDF("doc_id", "text"),
        tmp("graft-merge-none"), "doc_id"))
    assert(eEmpty.getMessage.contains("no committed snapshot"))
  }

  // ---- ingest schema-drift contract -------------------------------------

  test("non-additive schema drift fails loudly BEFORE staging; versions unchanged") {
    import spark.implicits._
    val path = tmp("graft-drift")
    SnapshotTable.ingest(spark, Seq((1L, "a", "en")).toDF("doc_id", "text", "lang"),
      path, "text", expectedItems = 100L)
    // missing column
    val eMissing = intercept[IllegalArgumentException](
      SnapshotTable.ingest(spark, Seq((2L, "b")).toDF("doc_id", "text"),
        path, "text", expectedItems = 100L))
    assert(eMissing.getMessage.contains("missing column lang"), eMissing.getMessage)
    // retyped column
    val eTyped = intercept[IllegalArgumentException](
      SnapshotTable.ingest(spark, Seq((2, "b", "en")).toDF("doc_id", "text", "lang"),
        path, "text", expectedItems = 100L))
    assert(eTyped.getMessage.contains("retyped"), eTyped.getMessage)
    // additive without the opt-in
    val eAdd = intercept[IllegalArgumentException](
      SnapshotTable.ingest(spark, Seq((2L, "b", "en", 0.5)).toDF("doc_id", "text", "lang", "quality"),
        path, "text", expectedItems = 100L))
    assert(eAdd.getMessage.contains("evolveSchema"), eAdd.getMessage)
    // nothing committed by any of the failures
    assert(SnapshotTable.versions(spark, path) == Seq(1L),
      "a rejected batch must not advance the version log")
    val dirs = Option(new java.io.File(path).listFiles()).get
      .map(_.getName).count(_.startsWith("snap-"))
    assert(dirs == 1, "a rejected batch must not leave staged data dirs")
  }

  test("additive evolution widens the schema; old snapshots read back null-filled") {
    import spark.implicits._
    val path = tmp("graft-evolve")
    SnapshotTable.ingest(spark, Seq((1L, "a")).toDF("doc_id", "text"),
      path, "text", expectedItems = 100L)
    SnapshotTable.ingest(spark, Seq((2L, "b", "en")).toDF("doc_id", "text", "lang"),
      path, "text", expectedItems = 100L, evolveSchema = true)
    val cur = SnapshotTable.read(spark, path)
    assert(cur.schema.fieldNames.toSeq == Seq("doc_id", "text", "lang"))
    val rows = cur.collect().map(r => (r.getLong(0), Option(r.getString(2)))).toMap
    assert(rows == Map(1L -> None, 2L -> Some("en")),
      "pre-evolution rows must read back null-filled in the new column")
    // the PINNED old version still reads with its own committed schema
    assert(SnapshotTable.readAt(spark, path, 1L).schema.fieldNames.toSeq ==
      Seq("doc_id", "text"))
    // and dedup still covers pre-evolution content
    val st = SnapshotTable.ingest(spark, Seq((3L, "a", "xx")).toDF("doc_id", "text", "lang"),
      path, "text", expectedItems = 100L)
    assert(st.nNew == 0L, "evolution broke the content-dedup universe")
  }

  // ---- race-free manifest reads + refuse-existing publish ---------------

  test("a manifest vanishing at open time surfaces the retained-range error, not FNFE") {
    import spark.implicits._
    val path = tmp("graft-race")
    SnapshotTable.write(spark, Seq((1L, "a")).toDF("doc_id", "text"), path)
    SnapshotTable.write(spark, Seq((2L, "b")).toDF("doc_id", "text"), path)
    // simulate the concurrent-expire race: the manifest disappears after
    // any caller-side existence reasoning and before the open — the read
    // path has no exists pre-check left, so this IS the race path
    assert(new java.io.File(s"$path/_versions/v00000001.txt").delete())
    val e = intercept[IllegalArgumentException](SnapshotTable.readAt(spark, path, 1L))
    assert(e.getMessage.contains("retained versions: 2..2"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      SnapshotTable.addedBetween(spark, path, 1L))
    assert(e2.getMessage.contains("not committed"), e2.getMessage)
  }

  test("fcPublish refuses an existing target and consumes tmp on success") {
    val dir = new java.io.File(tmp("graft-fc"))
    val fsDir = new org.apache.hadoop.fs.Path(dir.toString)
    def mk(name: String, content: String): org.apache.hadoop.fs.Path = {
      val p = new java.io.File(dir, name)
      java.nio.file.Files.write(p.toPath, content.getBytes("UTF-8"))
      new org.apache.hadoop.fs.Path(p.toString)
    }
    val tmp1 = mk(".tmp-1", "one")
    val target = new org.apache.hadoop.fs.Path(new java.io.File(dir, "v1.txt").toString)
    assert(SnapshotTable.fcPublish(spark, tmp1, target), "first publish must win")
    assert(!new java.io.File(dir, ".tmp-1").exists(), "success must consume tmp")
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "v1.txt").toPath), "UTF-8") == "one")
    // the slot is taken: a second publish must refuse, not replace
    val tmp2 = mk(".tmp-2", "two")
    assert(!SnapshotTable.fcPublish(spark, tmp2, target), "occupied slot must refuse")
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "v1.txt").toPath), "UTF-8") == "one",
      "loser must not replace the winner's manifest")
    assert(fsDir != null)
  }

  // ---- merge-on-read: O(delta) committed upserts/deletes ----------------

  /** Data bytes in the named snapshot dirs (files only, sidecars and
    * markers excluded) — the physical cost a commit wrote.
    */
  private def dirBytes(path: String, dirs: Seq[String]): Long = {
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dirs.map { d =>
      f.listStatus(new org.apache.hadoop.fs.Path(path, d))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(_.getLen).sum
    }.sum
  }

  test("mergeOnRead commits O(delta): base files untouched, masked read exact") {
    import spark.implicits._
    val path = tmp("graft-mor")
    SnapshotTable.ingest(spark,
      (0L until 600L).map(i => (i, blob(i))).toDF("doc_id", "text"),
      path, "text", expectedItems = 10000L, statsCols = Seq("doc_id"))
    val m1 = SnapshotTable.readManifestChecked(spark, path, 1L)
    val baseBytes = dirBytes(path, m1.dirs)
    val changes =
      (100L until 150L).map(k => (k, s"upd-$k", false)) ++
        (200L until 260L).map(k => (k, "ignored", true)) ++
        (600L until 620L).map(k => (k, blob(k), false))
    val st = SnapshotTable.mergeOnRead(spark,
      changes.toDF("doc_id", "text", "is_deleted"), path, "doc_id",
      deleteCol = Some("is_deleted"), textCol = Some("text"),
      expectedItems = 10000L)
    assert(st == SnapshotTable.MergeOnReadStats(2L, 130L, 70L, 60L, 1), st.toString)
    // physically O(delta): every base dir still listed, one small delta
    val m2 = SnapshotTable.readManifestChecked(spark, path, 2L)
    assert(m1.dirs.forall(m2.dirs.contains), "merge-on-read rewrote the base dir list")
    val delta = m2.dirs.filterNot(m1.dirs.toSet)
    assert(delta.size == 1 && m2.tombstones.size == 1 && m2.morKey.contains("doc_id"))
    assert(dirBytes(path, delta) < baseBytes / 4,
      s"delta dir is not delta-sized: ${dirBytes(path, delta)} of $baseBytes")
    // logical result identical to the copy-on-write semantics
    val expect = ((0L until 600L).filterNot(k => k >= 200L && k < 260L).map { k =>
      if (k >= 100L && k < 150L) (k, s"upd-$k") else (k, blob(k))
    } ++ (600L until 620L).map(k => (k, blob(k)))).toSet
    val got = SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expect, "masked read diverged from merge semantics")
    // time travel: v1 replays the pre-merge table (tombstones are v2's)
    assert(SnapshotTable.readAt(spark, path, 1L).count() == 600L)
    // stats-pruned read applies the same mask: deletions inside the
    // range are gone, updates show the new payload
    val pruned = SnapshotTable.readWhere(spark, path,
        col("doc_id").between(140L, 210L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pruned == expect.filter(p => p._1 >= 140L && p._1 <= 210L),
      "pruned read over the tombstone overlay diverged")
    // the overlay pins the key until a rewrite clears it
    val e = intercept[IllegalArgumentException](
      SnapshotTable.mergeOnRead(spark,
        Seq((9999L, "k", false)).toDF("doc_id", "text", "is_deleted"),
        path, "text", deleteCol = Some("is_deleted")))
    assert(e.getMessage.contains("keyed on 'doc_id'"), e.getMessage)
    // the changelog cannot represent logical deletes as appended rows
    val e2 = intercept[IllegalArgumentException](
      SnapshotTable.addedBetween(spark, path, 1L))
    assert(e2.getMessage.contains("tombstones"), e2.getMessage)
  }

  test("compact materializes the MOR overlay, resets it, and frees the dedup universe") {
    import spark.implicits._
    val path = tmp("graft-mor-compact")
    SnapshotTable.ingest(spark,
      (0L until 100L).map(i => (i, s"doc-$i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    SnapshotTable.mergeOnRead(spark,
      ((10L until 20L).map(k => (k, "ignored", true)) ++
        (20L until 30L).map(k => (k, s"rev-$k", false)) ++
        (100L until 105L).map(k => (k, s"doc-$k", false)))
        .toDF("doc_id", "text", "is_deleted"),
      path, "doc_id", deleteCol = Some("is_deleted"), textCol = Some("text"),
      expectedItems = 1000L)
    // a pure-delete batch stages NO delta dir — only a tombstone
    val st2 = SnapshotTable.mergeOnRead(spark,
      (0L until 5L).map(k => (k, "ignored", true)).toDF("doc_id", "text", "is_deleted"),
      path, "doc_id", deleteCol = Some("is_deleted"), textCol = Some("text"),
      expectedItems = 1000L)
    assert(st2.nUpserts == 0L && st2.nOutstandingTombstones == 2)
    assert(SnapshotTable.readManifestChecked(spark, path, 3L).dirs ==
      SnapshotTable.readManifestChecked(spark, path, 2L).dirs,
      "a pure-delete merge must not stage a data dir")
    val expect = ((5L until 100L).filterNot(k => k >= 10L && k < 20L).map { k =>
      if (k >= 20L && k < 30L) (k, s"rev-$k") else (k, s"doc-$k")
    } ++ (100L until 105L).map(k => (k, s"doc-$k"))).toSet
    def current() = SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(current() == expect)
    // compaction folds the overlay into files and resets it
    SnapshotTable.compact(spark, path, textCol = Some("text"), expectedItems = 1000L)
    val mC = SnapshotTable.readManifestChecked(spark, path, 4L)
    assert(mC.tombstones.isEmpty && mC.morKey.isEmpty && mC.dirs.size == 1)
    assert(current() == expect, "compaction changed the logical table")
    // pre-compact versions still replay through their overlay
    assert(SnapshotTable.readAt(spark, path, 3L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == expect)
    // the rebuilt dedup universe dropped the deleted content: a
    // re-crawl of doc 12's text is admitted again (pre-compact it was
    // conservatively blocked by the merged bloom + old sidecars)
    val re = SnapshotTable.ingest(spark,
      Seq((500L, "doc-12")).toDF("doc_id", "text"), path, "text", 1000L)
    assert(re.nNew == 1L, "compaction must evict deleted content from the dedup universe")
    // key can be re-chosen once the overlay is cleared
    SnapshotTable.mergeOnRead(spark,
      Seq(("doc-50", 51L)).toDF("text", "doc_id").select(col("doc_id"), col("text"),
        lit(true).as("del")),
      path, "text", deleteCol = Some("del"), expectedItems = 1000L)
    // retention: expire + vacuum reclaim tombstones no retained
    // manifest references
    val tsRoot = new java.io.File(path, "_tombstones")
    assert(tsRoot.listFiles().nonEmpty)
    SnapshotTable.expire(spark, path, keep = 2)
    SnapshotTable.vacuum(spark, path, graceMs = 0L)
    val left = Option(tsRoot.listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty)
    val stillRef = SnapshotTable.versions(spark, path)
      .flatMap(v => SnapshotTable.readManifestChecked(spark, path, v).tombstones).toSet
    assert(left == stillRef,
      s"vacuum left unreferenced tombstones: kept=$left referenced=$stillRef")
  }

  test("updateWhere SETs against the OLD row; deleteWhere commits tombstone-only") {
    import spark.implicits._
    val path = tmp("graft-upd-del")
    SnapshotTable.write(spark,
      (0L until 10L).map(i => (i, i * 10L, i * 100L)).toDF("id", "a", "b"),
      path, statsCols = Seq("id"))
    // a/b SWAP: both SETs must evaluate against the old row (a chained
    // withColumn would make b see the already-updated a)
    val st = SnapshotTable.updateWhere(spark, path, "id",
      col("id").between(2L, 4L), Map("a" -> col("b"), "b" -> col("a")))
    assert(st.nUpserts == 3L && st.nDeletes == 0L)
    val got = SnapshotTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = (0L until 10L).map { i =>
      if (i >= 2L && i <= 4L) (i, i * 100L, i * 10L) else (i, i * 10L, i * 100L)
    }.toSet
    assert(got == expect, s"SET must see the OLD row: $got")
    // DELETE WHERE: a pure-delete merge — tombstone sidecar, NO data dir
    val st2 = SnapshotTable.deleteWhere(spark, path, "id", col("id") >= 8L)
    assert(st2.nUpserts == 0L && st2.nDeletes == 2L)
    assert(SnapshotTable.readManifestChecked(spark, path, 3L).dirs ==
      SnapshotTable.readManifestChecked(spark, path, 2L).dirs,
      "deleteWhere must not stage a data dir")
    assert(SnapshotTable.read(spark, path).collect().map(_.getLong(0)).toSet ==
      (0L until 8L).toSet)
    // guards: SET on the key, unknown columns, and type drift all loud
    assert(intercept[IllegalArgumentException](
      SnapshotTable.updateWhere(spark, path, "id", col("id") < 2L,
        Map("id" -> lit(99L)))).getMessage.contains("key"))
    assert(intercept[IllegalArgumentException](
      SnapshotTable.updateWhere(spark, path, "id", col("id") < 2L,
        Map("nope" -> lit(1L)))).getMessage.contains("non-table"))
    assert(intercept[IllegalArgumentException](
      SnapshotTable.updateWhere(spark, path, "id", col("id") < 2L,
        Map("a" -> lit("wrong-type")))).getMessage.contains("schema"))
  }

  test("a narrowing cast blocks pruning: cast(score AS int) === 5 must keep the file holding 5.2") {
    import spark.implicits._
    val path = tmp("graft-castprune")
    // one commit per disjoint range so stats COULD prune if (mis)used
    SnapshotTable.ingest(spark, (0 until 50).map(i => (5.2 + i * 0.01, s"a$i"))
      .toDF("score", "text"), path, "text", 1000L, statsCols = Seq("score"))
    SnapshotTable.ingest(spark, (0 until 50).map(i => (9.0 + i * 0.01, s"b$i"))
      .toDF("score", "text"), path, "text", 1000L)
    // non-ANSI cast truncates 5.2..5.69 to 5: stripping the cast would
    // build Range[5,5], see file-min 5.2 > 5, and prune ALL matches
    val (df, rep) = SnapshotTable.readWhereReport(spark, path,
      col("score").cast("int") === 5)
    assert(df.count() == 50L, "narrowing cast must not lose matching rows")
    assert(rep.nFilesKept == rep.nFilesTotal,
      s"a truncating cast cannot justify pruning: $rep")
    // the WIDENING promotion cast still prunes (long literal vs double
    // column goes through the same double space as the stats)
    val (df2, rep2) = SnapshotTable.readWhereReport(spark, path,
      col("score") >= 9.0)
    assert(df2.count() == 50L && rep2.nFilesKept < rep2.nFilesTotal,
      s"widening path must still prune: $rep2")
  }

  test("NULL-key changes all insert; an empty change batch pins nothing") {
    import spark.implicits._
    val path = tmp("graft-nullkey")
    SnapshotTable.write(spark,
      Seq((Some(1L), "a"), (Some(2L), "b")).toDF("doc_id", "text"), path)
    // two NULL-key inserts in ONE batch: neither duplicates of each
    // other (NULL = NULL is not true) nor collapsed latest-wins — both
    // land, alongside a keyed update resolved by orderCol
    val st = SnapshotTable.mergeOnRead(spark,
      Seq((Option.empty[Long], "n1", false, 1L), (Option.empty[Long], "n2", false, 2L),
        (Some(2L), "b0", false, 1L), (Some(2L), "b2", false, 2L))
        .toDF("doc_id", "text", "del", "seq"),
      path, "doc_id", deleteCol = Some("del"), orderCol = Some("seq"))
    assert(st.nUpserts == 3L, st.toString)
    val got = SnapshotTable.read(spark, path).collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(got == Set((Some(1L), "a"), (Some(2L), "b2"),
      (None, "n1"), (None, "n2")), s"NULL-key inserts lost: $got")
    // and without orderCol, two NULL keys are NOT a duplicate-key error
    val st2 = SnapshotTable.mergeOnRead(spark,
      Seq((Option.empty[Long], "n3", false), (Option.empty[Long], "n4", false))
        .toDF("doc_id", "text", "del"),
      path, "doc_id", deleteCol = Some("del"))
    assert(st2.nUpserts == 2L)
    // an empty victim set is a true no-op: the commit advances (audit
    // trail) but pins no key, writes no tombstone, grows no overlay —
    // a later merge on a DIFFERENT key must not be blocked by it
    SnapshotTable.compact(spark, path, textCol = Some("text"), expectedItems = 1000L)
    val vBefore = SnapshotTable.currentVersion(spark, path).get
    val st3 = SnapshotTable.deleteWhere(spark, path, "doc_id", col("doc_id") === -999L)
    assert(st3 == SnapshotTable.MergeOnReadStats(vBefore + 1, 0L, 0L, 0L, 0))
    val mNoop = SnapshotTable.readManifestChecked(spark, path, vBefore + 1)
    assert(mNoop.tombstones.isEmpty && mNoop.morKey.isEmpty,
      "an empty batch must not pin morKey or write a tombstone")
    SnapshotTable.mergeOnRead(spark,
      Seq(("b2", 77L, true)).toDF("text", "doc_id", "del")
        .select(col("doc_id"), col("text"), col("del")),
      path, "text", deleteCol = Some("del"))
    assert(SnapshotTable.read(spark, path).filter(col("text") === "b2").count() == 0L)
  }

  test("history derives every commit kind; filesMeta lists the pinned snapshot's files") {
    import spark.implicits._
    val path = tmp("graft-history")
    SnapshotTable.write(spark, Seq((1L, "a")).toDF("doc_id", "text"), path)
    SnapshotTable.ingest(spark, Seq((2L, "b")).toDF("doc_id", "text"), path, "text", 100L)
    SnapshotTable.mergeOnRead(spark, Seq((2L, "b2", false)).toDF("doc_id", "text", "del"),
      path, "doc_id", deleteCol = Some("del"), expectedItems = 100L)
    SnapshotTable.compact(spark, path, textCol = Some("text"), expectedItems = 100L)
    SnapshotTable.ingest(spark, Seq((3L, "c")).toDF("doc_id", "text"), path, "text", 100L)
    def kinds() = SnapshotTable.history(spark, path)
      .select("version", "kind", "n_tombstones").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(kinds() == Seq((1L, "overwrite", 0L), (2L, "append", 0L),
      (3L, "merge-on-read", 1L), (4L, "compact", 0L), (5L, "append", 0L)),
      s"history kinds wrong: ${kinds()}")
    // kinds are RECORDED in the manifest, so expire trimming v4's
    // parent does not degrade it to an unprovable baseline — a consumer
    // can still tell the compaction (content no-op) from a COW merge
    SnapshotTable.expire(spark, path, keep = 2)
    assert(kinds() == Seq((4L, "compact", 0L), (5L, "append", 0L)),
      s"post-expire history wrong: ${kinds()}")
    // filesMeta: current snapshot = compacted base + the v5 delta, each
    // file tagged with its dir's commit version; a pinned version lists
    // ITS files
    val fm = SnapshotTable.filesMeta(spark, path).collect()
    assert(fm.map(_.getLong(1)).toSet == Set(4L, 5L), "commit_version parse wrong")
    assert(fm.forall(_.getLong(3) > 0L), "file bytes must be positive")
    assert(SnapshotTable.filesMeta(spark, path, version = Some(4L)).collect()
      .map(_.getLong(1)).toSet == Set(4L))
    // metadata reads are listing-only: both work on a table whose data
    // would be expensive to scan, and an expired version fails loudly
    val e = intercept[IllegalArgumentException](
      SnapshotTable.filesMeta(spark, path, version = Some(1L)))
    assert(e.getMessage.contains("retained versions"), e.getMessage)
  }

  test("history reports the kind every operator records") {
    import spark.implicits._
    val path = tmp("graft-kinds")
    def rows(ids: Seq[Long]) = ids.map(i => (i, s"doc $i", if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "text", "language")
    SnapshotTable.write(spark, (0L until 10L).map(i =>
      (i, s"doc $i", if (i % 2 == 0) "en" else "fr", s"x$i"))
      .toDF("doc_id", "text", "lang", "extra"), path)
    SnapshotTable.ingest(spark, (10L until 20L).map(i =>
      (i, s"doc $i", if (i % 2 == 0) "en" else "fr", s"x$i"))
      .toDF("doc_id", "text", "lang", "extra"), path, "text", 1000L)
    SnapshotTable.addConstraint(spark, path, "pos", "doc_id >= 0")
    SnapshotTable.dropConstraint(spark, path, "pos")
    SnapshotTable.renameColumn(spark, path, "lang", "language")
    SnapshotTable.dropColumn(spark, path, "extra")
    SnapshotTable.repartitionTable(spark, path, Seq("language"))
    SnapshotTable.compact(spark, path, textCol = Some("text"), expectedItems = 1000L)
    // a second small dir, so the binpack has two to merge
    SnapshotTable.ingest(spark, rows(20L until 30L), path, "text", 1000L)
    assert(SnapshotTable.compactSmall(spark, path).committed)
    SnapshotTable.merge(spark, rows(Seq(3L, 40L)), path, "doc_id",
      textCol = Some("text"), expectedItems = 1000L)
    SnapshotTable.mergeOnRead(spark, Seq((5L, "mor 5", "fr", false), (6L, "x", "en", true))
      .toDF("doc_id", "text", "language", "del"), path, "doc_id",
      deleteCol = Some("del"), textCol = Some("text"), expectedItems = 1000L)
    SnapshotTable.deleteWherePositional(spark, path, col("doc_id") === 7L)
    SnapshotTable.updateWherePositional(spark, path, col("doc_id") === 8L,
      Map("text" -> lit("updated 8")))
    SnapshotTable.compactPosDeletes(spark, path)
    SnapshotTable.rollback(spark, path, SnapshotTable.currentVersion(spark, path).get - 1)
    SnapshotTable.createBranch(spark, path, "audit")
    SnapshotTable.appendBranch(spark, rows(50L until 55L), path, "audit")
    SnapshotTable.fastForward(spark, path, "audit")
    val kinds = SnapshotTable.history(spark, path).orderBy("version")
      .select("kind").as[String].collect().toSeq
    assert(kinds == Seq("overwrite", "append", "constraint", "drop-constraint",
      "renamecol", "dropcol", "repartition", "compact", "append", "binpack", "merge",
      "merge-on-read", "posdelete", "posupdate", "posdelete-compact", "rollback",
      "fast-forward"), kinds)
  }

  test("the version log emits a merge-on-read commit as an applyable upsert+delete event") {
    import spark.implicits._
    import graft.streaming.SnapshotChangelog
    val path = tmp("graft-mor-log")
    SnapshotTable.ingest(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text"),
      path, "text", 100L)
    SnapshotTable.mergeOnRead(spark,
      Seq((2L, "b2", false), (3L, "x", true)).toDF("doc_id", "text", "is_deleted"),
      path, "doc_id", deleteCol = Some("is_deleted"), textCol = Some("text"),
      expectedItems = 100L)
    // the default sink refuses the MOR commit: its delta deletes keys a
    // pure-append consumer would double-count
    val qRefuse = SnapshotChangelog.changelogSink(spark, path, (_, _) => (),
      startVersion = Some("earliest"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      qRefuse.processAllAvailable())
    qRefuse.stop()
    assert(e.getMessage.contains("merge-on-read commit"), e.getMessage)
    // an opted-in consumer can APPLY it exactly: delta = the upserts
    // (not flagged rewrite, not the full table), tombstoneKeys = the
    // deleted/updated keys
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean, String, Set[Long], Set[Long])]()
    val q = SnapshotChangelog.changelogSink(spark, path,
      (delta, c) => {
        val keys = SnapshotChangelog.tombstoneKeys(delta.sparkSession, c)
          .map(_.collect().map(_.getLong(0)).toSet).getOrElse(Set.empty[Long])
        got.add((c.version, c.rewrite, c.kind,
          delta.collect().map(_.getLong(0)).toSet, keys))
        ()
      },
      startVersion = Some("earliest"), allowRewrites = true)
    q.processAllAvailable()
    q.stop()
    assert(got.toArray.toSeq == Seq(
      (1L, false, "append", Set(1L, 2L, 3L), Set.empty[Long]),
      (2L, false, "merge-on-read", Set(2L), Set(2L, 3L))),
      s"MOR commit must arrive as upserts + delete keys: ${got.toArray.toSeq}")
    // the recorded kind is what makes "skip compactions, re-sync on
    // merges" implementable — both arrive as rewrite rows
    SnapshotTable.compact(spark, path, textCol = Some("text"), expectedItems = 100L)
    got.clear()
    val q2 = SnapshotChangelog.changelogSink(spark, path,
      (_, c) => { got.add((c.version, c.rewrite, c.kind, Set.empty, Set.empty)); () },
      startVersion = Some("2"), allowRewrites = true)
    q2.processAllAvailable()
    q2.stop()
    assert(got.toArray.toSeq == Seq((3L, true, "compact", Set.empty[Long], Set.empty[Long])),
      s"compaction must arrive flagged WITH its recorded kind: ${got.toArray.toSeq}")
  }

  // ---- rollback: the RESTORE contract -----------------------------------

  test("rollback re-references a retained version as a new commit; pure metadata") {
    import spark.implicits._
    val path = tmp("graft-rollback")
    SnapshotTable.ingest(spark,
      (0L until 50L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    SnapshotTable.ingest(spark,
      (50L until 90L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    val st = SnapshotTable.rollback(spark, path, 1L)
    assert(st == SnapshotTable.RollbackStats(3L, 1L), st)
    // current content is v1's; the rolled-over v2 stays time-travelable
    assert(SnapshotTable.read(spark, path).count() == 50L)
    assert(SnapshotTable.readAt(spark, path, 2L).count() == 90L)
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L))
    val kinds = SnapshotTable.history(spark, path).orderBy("version")
      .select("kind").collect().map(_.getString(0)).toSeq
    assert(kinds.last == "rollback", kinds)
    // pure metadata: v3 lists exactly v1's dirs and bloom — nothing
    // was staged, copied, or rewritten
    val m1 = SnapshotTable.readManifestChecked(spark, path, 1L)
    val m3 = SnapshotTable.readManifestChecked(spark, path, 3L)
    assert(m3.dirs == m1.dirs && m3.bloom == m1.bloom, (m1, m3))
    // no-op: rolling back to the current state commits nothing
    assert(SnapshotTable.rollback(spark, path, 3L) ==
      SnapshotTable.RollbackStats(3L, 3L))
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L))
    // loud error on a future target
    assertThrows[IllegalArgumentException](SnapshotTable.rollback(spark, path, 9L))
    // dedup follows content: v2's rows left the universe with the
    // rollback, so a re-crawl re-admits all of them
    val re = SnapshotTable.ingest(spark,
      (50L until 90L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    assert(re.nNew == 40L, re)
    assert(SnapshotTable.read(spark, path).count() == 90L)
  }

  test("expire after rollback keeps the re-referenced artifacts alive") {
    import spark.implicits._
    val path = tmp("graft-rollback-exp")
    SnapshotTable.ingest(spark,
      (0L until 50L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    SnapshotTable.ingest(spark,
      (50L until 90L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    SnapshotTable.rollback(spark, path, 1L)
    SnapshotTable.ingest(spark,
      (90L until 120L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    // keep=2 retains v3 (the rollback) and v4; v1's dir must survive
    // because the retained v3/v4 manifests re-reference it
    SnapshotTable.expire(spark, path, keep = 2)
    assert(SnapshotTable.versions(spark, path) == Seq(3L, 4L))
    assert(SnapshotTable.readAt(spark, path, 3L).count() == 50L)
    assert(SnapshotTable.read(spark, path).count() == 80L)
    // and an expired rollback target now fails loudly with the range
    val e = intercept[IllegalArgumentException](
      SnapshotTable.rollback(spark, path, 2L))
    assert(e.getMessage.contains("retained versions"), e.getMessage)
  }

  test("a rollback across a pure-delete MOR commit is a flagged rewrite, not a silent no-op") {
    import spark.implicits._
    import graft.streaming.SnapshotChangelog
    val path = tmp("graft-rollback-mor")
    SnapshotTable.ingest(spark,
      (0L until 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    SnapshotTable.mergeOnRead(spark,
      (5L until 10L).map(k => (k, "ignored", true)).toDF("doc_id", "text", "is_deleted"),
      path, "doc_id", deleteCol = Some("is_deleted"), textCol = Some("text"),
      expectedItems = 1000L)
    assert(SnapshotTable.read(spark, path).count() == 25L)
    // the rollback drops ONLY tombstones — the dir list is unchanged,
    // which is exactly the shape a dir-diff-only changelog would
    // misread as an empty append
    SnapshotTable.rollback(spark, path, 1L)
    assert(SnapshotTable.read(spark, path).count() == 30L)
    val e = intercept[IllegalArgumentException](
      SnapshotTable.addedBetween(spark, path, 2L, Some(3L)))
    assert(e.getMessage.contains("dropped"), e.getMessage)
    // the version-log stream emits the rollback as a REWRITE row with
    // its recorded kind (delta = the version's full correct row set)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean, String, Long)]()
    val q = SnapshotChangelog.changelogSink(spark, path,
      (delta, c) => { got.add((c.version, c.rewrite, c.kind, delta.count())); () },
      startVersion = Some("2"), allowRewrites = true)
    q.processAllAvailable()
    q.stop()
    assert(got.toArray.toSeq == Seq((3L, true, "rollback", 30L)),
      s"rollback must arrive flagged with its kind: ${got.toArray.toSeq}")
  }

  test("the version log flags positional-delete commits as rewrites, never as appends") {
    import spark.implicits._
    import graft.streaming.SnapshotChangelog
    val path = tmp("graft-posdel-log")
    SnapshotTable.ingest(spark,
      (0L until 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)                          // v1
    SnapshotTable.deleteWherePositional(spark, path, col("doc_id") < 5L)  // v2
    SnapshotTable.updateWherePositional(spark, path, col("doc_id") === 7L,
      Map("text" -> lit("seven")))                                  // v3
    // the victims are file ordinals, not dirs: read as a by-directory
    // delta, v2 is an empty append (the delete is lost) and v3 an
    // append of the updated row (a duplicate) — the default sink refuses
    val qRefuse = SnapshotChangelog.changelogSink(spark, path, (_, _) => (),
      startVersion = Some("1"))
    val e = try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      qRefuse.processAllAvailable()) finally qRefuse.stop()
    assert(e.getMessage.contains("rewrite commit"), e.getMessage)
    // an opted-in consumer gets each as a flagged rewrite whose delta is
    // the version's correct row set
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean, String, Long)]()
    val q = SnapshotChangelog.changelogSink(spark, path,
      (delta, c) => { got.add((c.version, c.rewrite, c.kind, delta.count())); () },
      startVersion = Some("1"), allowRewrites = true)
    try q.processAllAvailable() finally q.stop()
    assert(got.toArray.toSeq == Seq((2L, true, "posdelete", 25L), (3L, true, "posupdate", 25L)),
      s"positional commits must arrive flagged: ${got.toArray.toSeq}")
  }

  // ---- maxVersionsPerBatch: admission-controlled backfill ---------------

  private def ingestN(path: String, fromV: Int, n: Int): Unit = {
    import spark.implicits._
    (0 until n).foreach { k =>
      val base = (fromV + k) * 100L
      SnapshotTable.ingest(spark,
        (base until base + 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
        path, "text", expectedItems = 1000L)
    }
  }

  test("maxVersionsPerBatch slices an earliest backfill into bounded, ordered batches") {
    import graft.streaming.SnapshotChangelog
    val path = tmp("graft-throttle")
    ingestN(path, 0, 5)
    def run(cap: Option[Long]): Seq[Seq[Long]] = {
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
      val q = SnapshotChangelog.readLog(spark, path, Some("earliest"), cap)
        .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val vs = b.select("version").collect().map(_.getLong(0)).toSeq.sorted
          if (vs.nonEmpty) batches.add(vs)
          ()
        }.start()
      q.processAllAvailable(); q.stop()
      import scala.jdk.CollectionConverters._
      batches.asScala.toSeq
    }
    // throttled: three slices of <=2 commits, in order, exactly once
    val sliced = run(Some(2L))
    assert(sliced.flatten == (1L to 5L), sliced)
    assert(sliced.forall(_.size <= 2), sliced)
    assert(sliced.size == 3, s"cap=2 over 5 commits must yield 3 slices: $sliced")
    // unthrottled control: the whole history arrives as ONE batch —
    // pinning that the cap (not micro-batch accident) made the slices
    val whole = run(None)
    assert(whole == Seq(1L to 5L), whole)
  }

  test("a throttled checkpointed consumer resumes without replay and keeps the cap") {
    import graft.streaming.SnapshotChangelog
    val path = tmp("graft-throttle-ckpt")
    val ckpt = tmp("graft-throttle-ckpt-c")
    ingestN(path, 0, 5)
    def run(): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = SnapshotChangelog.changelogSink(spark, path,
        (_, c) => { got.add(c.version); () },
        checkpoint = Some(ckpt), startVersion = Some("earliest"),
        maxVersionsPerBatch = Some(2L))
      q.processAllAvailable(); q.stop()
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq
    }
    assert(run() == (1L to 5L))
    ingestN(path, 5, 3)
    // restart: only the three new commits arrive — the backfill's slice
    // cursors were checkpointed, nothing replays
    assert(run() == (6L to 8L))
  }

  // ---- compactSmall: incremental bin-pack compaction --------------------

  test("compactSmall merges only the small-dir tail; the big dir is kept by name and never read") {
    import spark.implicits._
    val path = tmp("graft-binpack")
    SnapshotTable.ingest(spark,
      (0L until 2000L).map(i => (i, blob(i))).toDF("doc_id", "text"),
      path, "text", expectedItems = 5000L)
    (0 until 3).foreach { k =>
      val base = 9000L + k * 10
      SnapshotTable.ingest(spark,
        (base until base + 3L).map(i => (i, s"tiny $i")).toDF("doc_id", "text"),
        path, "text", expectedItems = 5000L)
    }
    val m4 = SnapshotTable.readManifestChecked(spark, path, 4L)
    val bigDir = m4.dirs.head
    assert(bigDir.startsWith("snap-00000001"), m4.dirs)
    val bigFiles = Option(new java.io.File(path, bigDir).listFiles()).get
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.length()).sortBy(_._1).toSeq
    val bigBytes = bigFiles.map(_._2).sum
    // bytes audit: the binpack scan must read only the small tail
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) bytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val st =
      try {
        val st0 = SnapshotTable.compactSmall(spark, path, smallDirBytes = bigBytes)
        var last = -1L; var spins = 0
        while (bytes.get() != last && spins < 50) { last = bytes.get(); Thread.sleep(100); spins += 1 }
        st0
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(st == SnapshotTable.BinpackStats(5L, 3, 1, st.bytesMerged, committed = true) &&
      st.bytesMerged > 0, st)
    assert(bytes.get() < bigBytes / 4,
      s"binpack read ${bytes.get()} B against a $bigBytes B big dir — it is scanning " +
        "the dirs it promised to keep")
    // manifest: the big dir survives BY NAME (same files), plus ONE merged dir
    val m5 = SnapshotTable.readManifestChecked(spark, path, 5L)
    assert(m5.dirs.size == 2 && m5.dirs.head == bigDir, m5.dirs)
    assert(m5.kind == "binpack", m5.kind)
    val bigFilesAfter = Option(new java.io.File(path, bigDir).listFiles()).get
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.length()).sortBy(_._1).toSeq
    assert(bigFilesAfter == bigFiles, "big dir files must be untouched")
    // content no-op
    assert(SnapshotTable.read(spark, path).count() == 2009L)
    // idempotent maintenance: one small dir left below the threshold —
    // nothing to merge, nothing commits, the version log does not grow
    val st2 = SnapshotTable.compactSmall(spark, path, smallDirBytes = bigBytes)
    assert(st2 == SnapshotTable.BinpackStats(5L, 0, 2, 0L, committed = false), st2)
    assert(SnapshotTable.versions(spark, path).last == 5L)
    // dedup carried: the merged sidecar is the union of the tails' — a
    // re-crawl of merged content admits nothing
    val re = SnapshotTable.ingest(spark,
      Seq((9100L, "tiny 9000"), (9101L, "tiny 9021")).toDF("doc_id", "text"),
      path, "text", expectedItems = 5000L)
    assert(re.nNew == 0L, re)
    // rewrite-class downstream: a changelog range crossing it refuses
    val e = intercept[IllegalArgumentException](
      SnapshotTable.addedBetween(spark, path, 3L))
    assert(e.getMessage.contains("append-only"), e.getMessage)
  }

  test("compactSmall keeps the Hive partition layout and partition pruning") {
    import spark.implicits._
    val path = tmp("graft-binpack-part")
    (0 until 3).foreach { k =>
      val rows = (0 until 10).map { j =>
        val i = k * 10 + j
        (i.toLong, s"doc $i", if (i % 2 == 0) "en" else "fr")
      }
      SnapshotTable.ingest(spark, rows.toDF("doc_id", "text", "lang"),
        path, "text", expectedItems = 1000L,
        statsCols = if (k == 0) Seq("doc_id") else Nil,
        partitionCols = if (k == 0) Seq("lang") else Nil)
    }
    val st = SnapshotTable.compactSmall(spark, path, smallDirBytes = Long.MaxValue)
    assert(st.committed && st.nDirsMerged == 3 && st.nDirsKept == 0, st)
    val m = SnapshotTable.readManifestChecked(spark, path, 4L)
    assert(m.dirs.size == 1 && m.partitionCols == Seq("lang"), m)
    // the merged dir is a Hive layout: lang=en / lang=fr subdirs
    val subdirs = Option(new java.io.File(path, m.dirs.head).listFiles()).get
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(subdirs == Seq("lang=en", "lang=fr"), subdirs)
    // content identical, partition values restored in their column
    val got = SnapshotTable.read(spark, path)
    assert(got.count() == 30L)
    assert(got.filter(col("lang") === "en").count() == 15L)
    // readWhere still prunes: a lang IN (...) predicate plus the stats
    // column both survive the rewrite
    val pruned = SnapshotTable.readWhere(spark, path,
      col("lang") === "fr" && col("doc_id") < 10)
    assert(pruned.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 5L, 7L, 9L))
  }

  test("compactSmall refuses an outstanding merge-on-read overlay loudly") {
    import spark.implicits._
    val path = tmp("graft-binpack-mor")
    SnapshotTable.ingest(spark,
      (0L until 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    SnapshotTable.ingest(spark,
      (30L until 35L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    SnapshotTable.mergeOnRead(spark,
      Seq((3L, "ignored", true)).toDF("doc_id", "text", "is_deleted"),
      path, "doc_id", deleteCol = Some("is_deleted"), textCol = Some("text"),
      expectedItems = 1000L)
    val e = intercept[IllegalStateException](
      SnapshotTable.compactSmall(spark, path, smallDirBytes = Long.MaxValue))
    assert(e.getMessage.contains("binpack") && e.getMessage.contains("compact()"),
      e.getMessage)
  }

  test("Trigger.AvailableNow drains the backlog in capped slices, then stops") {
    import graft.streaming.SnapshotChangelog
    val path = tmp("graft-availnow")
    val ckpt = tmp("graft-availnow-c")
    ingestN(path, 0, 5)
    def drain(): Seq[Seq[Long]] = {
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
      val q = SnapshotChangelog.readLog(spark, path, Some("earliest"), Some(2L))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val vs = b.select("version").collect().map(_.getLong(0)).toSeq.sorted
          if (vs.nonEmpty) batches.add(vs)
          ()
        }.start()
      // AvailableNow self-terminates once the cursor reaches the fence
      assert(q.awaitTermination(120000), "AvailableNow query did not stop at the fence")
      import scala.jdk.CollectionConverters._
      batches.asScala.toSeq
    }
    val first = drain()
    assert(first.flatten == (1L to 5L), first)
    assert(first.forall(_.size <= 2) && first.size == 3, first)
    // next scheduled run: only the commits since the last fence arrive
    ingestN(path, 5, 3)
    val second = drain()
    assert(second.flatten == (6L to 8L), second)
    assert(second.size == 2, second)
  }

  test("startTimestamp starts the changelog at the first commit at-or-after the instant") {
    import graft.streaming.SnapshotChangelog
    val path = tmp("graft-startts")
    ingestN(path, 0, 2)
    Thread.sleep(30); val mid = System.currentTimeMillis(); Thread.sleep(30)
    ingestN(path, 2, 3)
    def drain(startTs: Long): Seq[Long] = {
      val ckpt = tmp("graft-startts-c")
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = SnapshotChangelog.readLog(spark, path, startTimestamp = Some(startTs))
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("version").collect().foreach(r => got.add(r.getLong(0))); ()
        }.start()
      assert(q.awaitTermination(120000), "query did not stop at the fence")
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq.sorted
    }
    // an instant between v2 and v3 delivers exactly v3..v5
    assert(drain(mid) == Seq(3L, 4L, 5L), drain(mid))
    // an instant past the head delivers nothing (future commits only)
    assert(drain(System.currentTimeMillis() + 3600000L).isEmpty)
    // both start options set → loud
    val e = intercept[Exception] {
      SnapshotChangelog.readLog(spark, path, startVersion = Some("earliest"),
        startTimestamp = Some(mid)).writeStream
        .option("checkpointLocation",
          tmp("graft-startts-x"))
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ()).start()
        .awaitTermination(60000)
    }
    assert(e.getMessage != null && e.getMessage.contains("mutually exclusive") ||
      Option(e.getCause).exists(_.getMessage.contains("mutually exclusive")), e)
    // a trimmed log refuses an instant at/below its retained left edge:
    // completeness cannot be proven once earlier commits expired
    SnapshotTable.expire(spark, path, keep = 2)
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = SnapshotChangelog.readLog(spark, path, startTimestamp = Some(mid))
        .writeStream.option("checkpointLocation",
          tmp("graft-startts-y"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ()).start()
      q.awaitTermination(120000); ()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .flatMap(x => Option(x.getMessage)).toSeq
    assert(chain(e2).exists(m => m.contains("retained left edge")), chain(e2))
  }

  test("a manifest written by a newer writer fails loudly instead of misreading") {
    import spark.implicits._
    val path = tmp("graft-fwdcompat")
    SnapshotTable.ingest(spark,
      Seq((1L, "alpha")).toDF("doc_id", "text"), path, "text", 100L)
    val mf = java.nio.file.Paths.get(path, "_versions", "v00000001.txt")
    val committed = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
    def readAs(body: String): IllegalStateException = {
      java.nio.file.Files.write(mf, body.getBytes("UTF-8"))
      val e = intercept[IllegalStateException](SnapshotTable.read(spark, path))
      assert(e.getMessage.contains("v00000001.txt"), e.getMessage)
      e
    }
    // simulate a future writer: an unknown tagged line in the manifest
    // must be loud, not adopted as some other field
    val e = readAs(committed + "future-feature:some-payload\n")
    assert(e.getMessage.contains("unknown tag 'future-feature:'"), e.getMessage)
    // a bare untagged line is not a bloom name: it fails the same way
    val eBare = readAs(committed + "b00000001-deadbeef.bin\n")
    assert(eBare.getMessage.contains("unknown tag 'b00000001-deadbeef.bin:'"),
      eBare.getMessage)
    // every manifest graft writes carries schema:, kind: and ts:; one
    // without them is refused, naming the missing tag
    Seq("schema", "kind", "ts").foreach { tag =>
      val body = committed.split("\n").filterNot(_.startsWith(tag + ":"))
        .mkString("", "\n", "\n")
      assert(body != committed, s"no $tag: line in $committed")
      val eMissing = readAs(body)
      assert(eMissing.getMessage.contains(s"no '$tag:' line"), eMissing.getMessage)
    }
    java.nio.file.Files.write(mf, committed.getBytes("UTF-8"))
    assert(SnapshotTable.read(spark, path).count() == 1L)
  }

  test("snapshot tags pin versions through expire; gapped instants refuse loudly") {
    import spark.implicits._
    val path = tmp("graft-tags")
    (1L to 4L).foreach(i => SnapshotTable.ingest(spark,
      ((i - 1) * 10 until i * 10).map(k => (k, s"doc $k")).toDF("doc_id", "text"),
      path, "text", expectedItems = 100L))
    // validation: name grammar, retained range, duplicate
    intercept[IllegalArgumentException](SnapshotTable.tag(spark, path, "bad name"))
    intercept[IllegalArgumentException](SnapshotTable.tag(spark, path, "x", Some(9L)))
    assert(SnapshotTable.tag(spark, path, "baseline", Some(1L)) == 1L)
    intercept[IllegalArgumentException](
      SnapshotTable.tag(spark, path, "baseline", Some(2L)))
    assert(SnapshotTable.tags(spark, path) == Map("baseline" -> 1L))
    val instants = SnapshotTable.history(spark, path)
      .select("version", "commit_ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    // expire keeps the tagged island alive forever; v2/v3 age out
    SnapshotTable.expire(spark, path, keep = 1)
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 4L))
    assert(SnapshotTable.readTag(spark, path, "baseline").count() == 10L)
    assert(SnapshotTable.readAt(spark, path, 1L).count() == 10L)
    intercept[IllegalArgumentException](SnapshotTable.readAt(spark, path, 2L))
    // exact retained instants still resolve; an instant in the EXPIRED
    // GAP refuses — the state then was some expired version, and the
    // tagged island must not masquerade as it
    assert(SnapshotTable.versionAtTimestamp(spark, path, instants(1L)) == 1L)
    assert(SnapshotTable.versionAtTimestamp(spark, path, instants(4L)) == 4L)
    val mid = instants(2L)
    val eGap = intercept[IllegalArgumentException](
      SnapshotTable.versionAtTimestamp(spark, path, mid))
    assert(eGap.getMessage.contains("expired gap"), eGap.getMessage)
    // the changelog refuses the same gap as incomplete
    import graft.streaming.SnapshotChangelog
    val eLog = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = SnapshotChangelog.readLog(spark, path, startTimestamp = Some(mid))
        .writeStream.option("checkpointLocation",
          tmp("graft-tags-c"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ()).start()
      q.awaitTermination(120000); ()
    }
    val msgs = Iterator.iterate(eLog: Throwable)(_.getCause).takeWhile(_ != null)
      .take(8).flatMap(x => Option(x.getMessage)).toSeq
    assert(msgs.exists(_.contains("expired")), msgs)
    // vacuum never reaps the tags directory; dedup coverage intact
    SnapshotTable.vacuum(spark, path, graceMs = 0L)
    assert(SnapshotTable.tags(spark, path) == Map("baseline" -> 1L))
    assert(SnapshotTable.ingest(spark,
      Seq((100L, "doc 5")).toDF("doc_id", "text"), path, "text", 100L).nNew == 0L)
    // dropping the tag releases the pin: the island ages out
    intercept[IllegalArgumentException](SnapshotTable.dropTag(spark, path, "nope"))
    SnapshotTable.dropTag(spark, path, "baseline")
    SnapshotTable.expire(spark, path, keep = 1)
    assert(SnapshotTable.versions(spark, path).size == 1)
    assert(SnapshotTable.read(spark, path).count() == 40L)
  }

  // ---- CHECK constraints -------------------------------------------------

  test("fail-mode CHECK constraints gate every write path; NULL passes; deletes exempt") {
    import spark.implicits._
    val path = tmp("graft-constraint")
    SnapshotTable.ingest(spark,
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      path, "text", expectedItems = 100L)
    // add validates: name grammar, mode, single-line, resolution
    intercept[IllegalArgumentException](
      SnapshotTable.addConstraint(spark, path, "bad name", "doc_id >= 0"))
    intercept[IllegalArgumentException](
      SnapshotTable.addConstraint(spark, path, "x", "doc_id >= 0", mode = "warn"))
    intercept[IllegalArgumentException](
      SnapshotTable.addConstraint(spark, path, "x", "doc_id\n >= 0"))
    intercept[Exception]( // analyzer: unknown column fails at ADD time
      SnapshotTable.addConstraint(spark, path, "x", "no_such_col >= 0"))
    val v = SnapshotTable.addConstraint(spark, path, "pos_id", "doc_id >= 0")
    assert(v == 2L)
    assert(SnapshotTable.history(spark, path).orderBy("version")
      .select("kind").collect().last.getString(0) == "constraint")
    // duplicate name refuses
    val eDup = intercept[IllegalArgumentException](
      SnapshotTable.addConstraint(spark, path, "pos_id", "doc_id >= 10"))
    assert(eDup.getMessage.contains("already exists"), eDup.getMessage)
    // a fail-mode add over violating EXISTING data refuses with samples
    val eExist = intercept[IllegalArgumentException](
      SnapshotTable.addConstraint(spark, path, "impossible", "doc_id > 100"))
    assert(eExist.getMessage.contains("existing data"), eExist.getMessage)
    // ingest: violating batch refused whole, version log unchanged
    val before = SnapshotTable.versions(spark, path)
    val eIng = intercept[IllegalArgumentException](SnapshotTable.ingest(spark,
      Seq((-1L, "gamma")).toDF("doc_id", "text"), path, "text", 100L))
    assert(eIng.getMessage.contains("pos_id"), eIng.getMessage)
    assert(SnapshotTable.versions(spark, path) == before)
    // clean batch admits; NULL expression result passes (SQL CHECK)
    SnapshotTable.addConstraint(spark, path, "len", "length(text) > 0")
    assert(SnapshotTable.ingest(spark,
      Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      path, "text", 100L).nNew == 1L)
    // merge: violating upsert refuses; a DELETE row's payload is exempt
    val eMerge = intercept[IllegalArgumentException](SnapshotTable.merge(spark,
      Seq((-5L, "x", false)).toDF("doc_id", "text", "del"),
      path, "doc_id", deleteCol = Some("del")))
    assert(eMerge.getMessage.contains("pos_id"), eMerge.getMessage)
    SnapshotTable.merge(spark,
      Seq((2L, "", true)).toDF("doc_id", "text", "del"),
      path, "doc_id", deleteCol = Some("del")) // empty-text payload, but a delete
    assert(SnapshotTable.read(spark, path).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 3L))
    // drop restores admission; unknown drop refuses
    intercept[IllegalArgumentException](
      SnapshotTable.dropConstraint(spark, path, "nope"))
    SnapshotTable.dropConstraint(spark, path, "pos_id")
    assert(SnapshotTable.ingest(spark,
      Seq((-2L, "delta")).toDF("doc_id", "text"), path, "text", 100L).nNew == 1L)
  }

  test("drop-mode constraints exclude violating rows; config survives compact and rebase") {
    import spark.implicits._
    val path = tmp("graft-constraint-drop")
    SnapshotTable.ingest(spark,
      (0L until 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 100L)
    SnapshotTable.addConstraint(spark, path, "clean",
      "text NOT LIKE '%bad%'", mode = "drop")
    // the violating rows leave the batch; survivors admit (and the
    // drop filter rides the one batch pass — nIncoming is the gated count)
    val st = SnapshotTable.ingest(spark,
      Seq((10L, "doc 10"), (11L, "bad 11"), (12L, "doc 12"), (13L, "bad 13"))
        .toDF("doc_id", "text"), path, "text", 100L)
    assert(st.nIncoming == 2L && st.nNew == 2L, st)
    assert(SnapshotTable.read(spark, path).select("doc_id").as[Long]
      .collect().toSet == Set(0L, 1L, 2L, 3L, 4L, 10L, 12L))
    // merge-on-read: a violating upsert is dropped pre-resolution — the
    // old row survives untouched; the clean upsert applies
    SnapshotTable.mergeOnRead(spark,
      Seq((3L, "bad update", false), (4L, "fresh 4", false))
        .toDF("doc_id", "text", "del"),
      path, "doc_id", deleteCol = Some("del"), textCol = Some("text"),
      expectedItems = 100L)
    val texts = SnapshotTable.read(spark, path)
      .filter(col("doc_id").isin(3L, 4L))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(texts == Map(3L -> "doc 3", 4L -> "fresh 4"), texts)
    // config survives the O(table) rewrite and keeps gating after it
    SnapshotTable.compact(spark, path, textCol = Some("text"), expectedItems = 100L)
    val mC = SnapshotTable.readManifestChecked(spark, path,
      SnapshotTable.currentVersion(spark, path).get)
    assert(mC.constraints.map(_.name) == Seq("clean"), mC.constraints)
    assert(SnapshotTable.ingest(spark,
      Seq((20L, "bad 20")).toDF("doc_id", "text"), path, "text", 100L).nNew == 0L)
    // ...and survives a lost-commit-race rebase
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.ingest(spark,
          Seq((30L, "doc 30")).toDF("doc_id", "text"), path, "text", 100L); () }
    SnapshotTable.ingest(spark,
      Seq((31L, "doc 31")).toDF("doc_id", "text"), path, "text", 100L)
    val mR = SnapshotTable.readManifestChecked(spark, path,
      SnapshotTable.currentVersion(spark, path).get)
    assert(mR.constraints.map(_.name) == Seq("clean"), mR.constraints)
    assert(SnapshotTable.ingest(spark,
      Seq((32L, "bad 32")).toDF("doc_id", "text"), path, "text", 100L).nNew == 0L)
  }

  test("commit instants are strictly increasing; the effective clock survives expire") {
    import spark.implicits._
    def editTs(path: String, v: Long, ts: Long): Unit = {
      val mf = java.nio.file.Paths.get(path, "_versions", f"v$v%08d.txt")
      val txt = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
        .replaceAll("(?m)^ts:\\d+$", s"ts:$ts")
      java.nio.file.Files.write(mf, txt.getBytes("UTF-8"))
    }
    // (a) strict increase even against a skewed-AHEAD parent: the next
    // commit clamps to parent + 1 instead of stamping a smaller wall
    // clock — the tie/backward case that would break the history-row ↔
    // versionAtTimestamp round trip
    val p1 = tmp("graft-clock1")
    SnapshotTable.ingest(spark, Seq((1L, "a")).toDF("doc_id", "text"), p1, "text", 100L)
    val ahead = System.currentTimeMillis() + 60000L
    editTs(p1, 1L, ahead)
    SnapshotTable.ingest(spark, Seq((2L, "b")).toDF("doc_id", "text"), p1, "text", 100L)
    assert(SnapshotTable.readManifestChecked(spark, p1, 2L).ts == ahead + 1L)
    // rapid same-tick commits: instants stay strictly increasing, and
    // every history row round-trips to exactly its own version
    (3L to 6L).foreach(i => SnapshotTable.ingest(spark,
      Seq((i, s"doc $i")).toDF("doc_id", "text"), p1, "text", 100L))
    val hist = SnapshotTable.history(spark, p1)
      .select("version", "commit_ts").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime)
    assert(hist.sliding(2).forall(w => w(1)._2 > w(0)._2), hist.toSeq)
    hist.foreach { case (v, t) =>
      assert(SnapshotTable.versionAtTimestamp(spark, p1, t) == v, (v, t)) }
    // (b) the expire clock floor: a LEGACY chain whose skewed-ahead v1
    // flattened its successors must not have its effective instants
    // move BACKWARD when v1 expires — versionAtTimestamp would silently
    // hand an instant a state that did not exist at it
    val p2 = tmp("graft-clock2")
    (1L to 3L).foreach(i => SnapshotTable.ingest(spark,
      Seq((i, s"doc $i")).toDF("doc_id", "text"), p2, "text", 100L))
    val far = System.currentTimeMillis() + 1000L * 3600
    editTs(p2, 1L, far); editTs(p2, 2L, 1000L); editTs(p2, 3L, 1001L)
    val now = System.currentTimeMillis()
    // pre-expire: eff = (far, far, far) — `now` predates every commit
    intercept[IllegalArgumentException](
      SnapshotTable.versionAtTimestamp(spark, p2, now))
    SnapshotTable.expire(spark, p2, keep = 2)
    // post-expire the answer must NOT change to v2/v3 (their raw ts are
    // tiny): the persisted floor keeps the effective clock at `far`
    intercept[IllegalArgumentException](
      SnapshotTable.versionAtTimestamp(spark, p2, now))
    // the changelog completeness guard holds for the same reason
    import graft.streaming.SnapshotChangelog
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = SnapshotChangelog.readLog(spark, p2, startTimestamp = Some(now))
        .writeStream.option("checkpointLocation",
          tmp("graft-clock2-c"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ()).start()
      q.awaitTermination(120000); ()
    }
    def chain2(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .flatMap(x => Option(x.getMessage)).toSeq
    assert(chain2(e).exists(_.contains("retained left edge")), chain2(e))
    // vacuum never reaps the floor file
    SnapshotTable.vacuum(spark, p2, graceMs = 0L)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(p2, "_versions", "tsfloor")))
    intercept[IllegalArgumentException](
      SnapshotTable.versionAtTimestamp(spark, p2, now))
  }

  // ---- timestamp time travel + age-based retention -----------------------

  test("readAtTimestamp resolves wall-clock instants; expireOlderThan trims by age") {
    import spark.implicits._
    val path = tmp("graft-ts-travel")
    SnapshotTable.ingest(spark,
      (0L until 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    Thread.sleep(30); val afterV1 = System.currentTimeMillis(); Thread.sleep(30)
    SnapshotTable.ingest(spark,
      (10L until 25L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    Thread.sleep(30); val afterV2 = System.currentTimeMillis(); Thread.sleep(30)
    SnapshotTable.ingest(spark,
      (25L until 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text"),
      path, "text", expectedItems = 1000L)
    // instants between commits resolve to the newest commit at-or-before
    assert(SnapshotTable.versionAtTimestamp(spark, path, afterV1) == 1L)
    assert(SnapshotTable.readAtTimestamp(spark, path, afterV1).count() == 10L)
    assert(SnapshotTable.versionAtTimestamp(spark, path, afterV2) == 2L)
    assert(SnapshotTable.readAtTimestamp(spark, path, afterV2).count() == 25L)
    // "now" resolves to the current snapshot
    assert(SnapshotTable.readAtTimestamp(spark, path,
      System.currentTimeMillis()).count() == 30L)
    // history's commit_ts IS the time-travel clock: resolving each
    // history row's instant returns that row's version
    SnapshotTable.history(spark, path)
      .select("version", "commit_ts").collect().foreach { r =>
        assert(SnapshotTable.versionAtTimestamp(spark, path,
          r.getTimestamp(1).getTime) == r.getLong(0), r)
      }
    // an instant before the table existed fails loudly with the edge
    val e = intercept[IllegalArgumentException](
      SnapshotTable.versionAtTimestamp(spark, path, 1000L))
    assert(e.getMessage.contains("predates"), e.getMessage)
    // age-based retention: cutoff between v2 and v3 keeps only v3...
    SnapshotTable.expireOlderThan(spark, path, afterV2)
    assert(SnapshotTable.versions(spark, path) == Seq(3L))
    // ...and the v1 instant now fails as expired instead of resolving
    val e2 = intercept[IllegalArgumentException](
      SnapshotTable.readAtTimestamp(spark, path, afterV1))
    assert(e2.getMessage.contains("predates"), e2.getMessage)
    // a cutoff in the future always retains the current snapshot
    SnapshotTable.expireOlderThan(spark, path,
      System.currentTimeMillis() + 3600000L)
    assert(SnapshotTable.versions(spark, path) == Seq(3L))
    assert(SnapshotTable.read(spark, path).count() == 30L)
  }

  test("maxVersionsPerBatch rejects non-positive and non-numeric values loudly") {
    import graft.streaming.SnapshotChangelog
    val path = tmp("graft-throttle-bad")
    ingestN(path, 0, 1)
    val e = intercept[IllegalArgumentException](
      SnapshotChangelog.readLog(spark, path, None, Some(0L)))
    assert(e.getMessage.contains("maxVersionsPerBatch"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      spark.readStream.format(classOf[graft.sources.v2.SnapshotLogSource].getName)
        .option("maxVersionsPerBatch", "two").load(path))
    assert(e2.getMessage.contains("maxVersionsPerBatch"), e2.getMessage)
    // the row stream and the change-feed stream read the same option:
    // 0 would stall the cursor, "two" is not a number
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    for (cdf <- Seq(false, true); bad <- Seq("0", "two")) {
      val e3 = intercept[Exception] {
        val q = spark.readStream.format("graft")
          .option("readChangeFeed", cdf.toString)
          .option("maxVersionsPerBatch", bad).load(path)
          .writeStream.option("checkpointLocation", tmp("graft-throttle-bad-ck"))
          .format("noop").start()
        try q.processAllAvailable() finally q.stop()
      }
      assert(msgs(e3).exists(_.contains("maxVersionsPerBatch must be a positive integer")),
        s"readChangeFeed=$cdf maxVersionsPerBatch=$bad: ${msgs(e3)}")
    }
  }
}
