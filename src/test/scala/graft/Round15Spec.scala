package graft

import org.apache.spark.sql.functions._

/** Round-15 pins: the dedup-universe integrity holes around
  * [[graft.operators.SnapshotTable.dropColumn]] — stale `_hashes`
  * sidecars must stop being trusted after a drop (the `nohashes`
  * manifest poison), case-insensitive physical-name resurrection, and
  * manifest-delimiter-unsafe physical names — plus the OR-of-ranges
  * scan pruning and the DSv2 / catalog surface added this round.
  */
class Round15Spec extends SparkSpec {

  import graft.operators.SnapshotTable

  /** Rows with TWO content-ish columns so a table can switch its dedup
    * column across a drop: `a` values "X<i>", `b` values "Y<i>".
    */
  private def dualDocs(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"X$i", s"Y$i")).toDF("id", "a", "b")
  }

  test("dropColumn poisons the hash sidecars: post-drop ingest on a different content column re-dedups on LIVE content") {
    val path = tmp("graft-drophash")
    // v1: dedup keyed on `a` — the _hashes sidecar holds md5("X<i>")
    SnapshotTable.ingest(spark, dualDocs(0 until 50), path, "a",
      expectedItems = 1000L)
    // v2: drop the content column; sidecars now describe dropped bytes
    SnapshotTable.dropColumn(spark, path, "a")
    val m2 = SnapshotTable.readManifestChecked(spark, path, 2L)
    assert(!m2.hashesValid, "dropColumn must mark hash sidecars untrusted")
    val manifestText = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(path, "_versions").listFiles()
        .filter(_.getName == "v00000002.txt").head.toPath), "UTF-8")
    assert(manifestText.contains("nohashes:1"),
      s"drop commit must serialize the poison marker; got:\n$manifestText")
    // v3: ingest keyed on `b`, batch duplicating EXISTING b-content —
    // pre-fix, the probe-positives verified against md5("X<i>") sidecar
    // rows, matched nothing, and every duplicate was re-admitted
    val dupBatch = dualDocs(0 until 50).select(
      (col("id") + 100L).as("id"), col("b"))
    val st3 = SnapshotTable.ingest(spark, dupBatch, path, "b",
      expectedItems = 1000L)
    assert(st3.nNew == 0L,
      s"duplicates of live b-content were re-admitted (nNew=${st3.nNew}): " +
        "stale a-keyed sidecars were trusted after dropColumn")
    assert(SnapshotTable.read(spark, path).count() == 50L)
  }

  test("the nohashes poison persists across appends (later dirs' fresh sidecars must not re-enable trust)") {
    val path = tmp("graft-drophash2")
    SnapshotTable.ingest(spark, dualDocs(0 until 40), path, "a",
      expectedItems = 1000L)
    SnapshotTable.dropColumn(spark, path, "a")
    // v3: a genuinely-new batch keyed on b — admits fully and writes a
    // FRESH b-keyed sidecar for its own dir; every dir now HAS a
    // sidecar file, which is exactly the state that pre-fix would have
    // re-enabled the (still half-stale) union
    val st3 = SnapshotTable.ingest(spark,
      dualDocs(100 until 120).select(col("id"), col("b")), path, "b",
      expectedItems = 1000L)
    assert(st3.nNew == 20L)
    assert(!SnapshotTable.readManifestChecked(spark, path, 3L).hashesValid,
      "append must carry the poison forward")
    // v4: duplicates of v1's b-content — the v1 dir's sidecar is still
    // a-keyed, so trusting the union would re-admit all 10
    val st4 = SnapshotTable.ingest(spark,
      dualDocs(0 until 10).select((col("id") + 200L).as("id"), col("b")),
      path, "b", expectedItems = 1000L)
    assert(st4.nNew == 0L,
      s"v1 b-duplicates re-admitted through the stale sidecar union (nNew=${st4.nNew})")
  }

  test("compact with textCol heals the poison: sidecars regenerate from live content and trust returns") {
    val path = tmp("graft-drophash3")
    SnapshotTable.ingest(spark, dualDocs(0 until 30), path, "a",
      expectedItems = 1000L)
    SnapshotTable.dropColumn(spark, path, "a")
    SnapshotTable.compact(spark, path, textCol = Some("b"),
      expectedItems = 1000L)
    val m3 = SnapshotTable.readManifestChecked(spark, path, 3L)
    assert(m3.hashesValid, "compact(textCol) must clear the poison")
    // the compacted dir's sidecar is b-keyed now: duplicates drop, and
    // they drop through the sidecar path (bloom present + trusted)
    val st = SnapshotTable.ingest(spark,
      dualDocs(0 until 30).select((col("id") + 500L).as("id"), col("b")),
      path, "b", expectedItems = 1000L)
    assert(st.nNew == 0L)
    // fresh content still admits
    val st2 = SnapshotTable.ingest(spark,
      dualDocs(700 until 710).select(col("id"), col("b")), path, "b",
      expectedItems = 1000L)
    assert(st2.nNew == 10L)
  }

  test("compact without textCol must not launder a poisoned chain's sidecars by union") {
    val path = tmp("graft-drophash4")
    SnapshotTable.ingest(spark, dualDocs(0 until 25), path, "a",
      expectedItems = 1000L)
    SnapshotTable.dropColumn(spark, path, "a")
    SnapshotTable.compact(spark, path) // no textCol: nothing to rebuild from
    // the compacted dir must NOT carry a unioned (stale) sidecar; the
    // next ingest pays the payload fallback and still dedups correctly
    val st = SnapshotTable.ingest(spark,
      dualDocs(0 until 25).select((col("id") + 300L).as("id"), col("b")),
      path, "b", expectedItems = 1000L)
    assert(st.nNew == 0L,
      "compact unioned stale sidecars into the rewritten dir")
  }

  test("re-adding a dropped column under a different CASE mints a fresh physical name (no byte resurrection)") {
    val path = tmp("graft-caseadd")
    import spark.implicits._
    val v1 = (0 until 20).map(i => (i.toLong, s"t$i", i * 10L))
      .toDF("doc_id", "text", "n_chars")
    SnapshotTable.ingest(spark, v1, path, "text", expectedItems = 1000L)
    SnapshotTable.dropColumn(spark, path, "n_chars")
    // re-add under a different case: Spark's default resolver is
    // case-insensitive, so an identity physical name would resolve to
    // the RETIRED column's bytes in v1's files
    val v3 = (20 until 30).map(i => (i.toLong, s"t$i", i * 1000L))
      .toDF("doc_id", "text", "N_CHARS")
    SnapshotTable.ingest(spark, v3, path, "text", expectedItems = 1000L,
      evolveSchema = true)
    val m = SnapshotTable.readManifestChecked(
      spark, path, SnapshotTable.versions(spark, path).last)
    assert(m.physOf("N_CHARS") != "N_CHARS",
      s"re-added N_CHARS got identity physical '${m.physOf("N_CHARS")}' — " +
        "case-insensitive readers will resurrect the dropped n_chars bytes")
    val cur = SnapshotTable.read(spark, path)
    // old rows: NULL (never the retired bytes); new rows: the new values
    assert(cur.filter(col("doc_id") < 20 && col("N_CHARS").isNotNull).count() == 0L,
      "v1 rows leaked the dropped n_chars bytes into the re-added column")
    assert(cur.filter(col("doc_id") === 25L).select("N_CHARS").head.getLong(0) == 25000L)
  }

  test("renameColumn/dropColumn refuse manifest-delimiter-unsafe physical names loudly") {
    val path = tmp("graft-unsafename")
    import spark.implicits._
    val df = (0 until 10).map(i => (i.toLong, s"v$i", s"w$i"))
      .toDF("id", "a,b", "c")
    SnapshotTable.write(spark, df, path)
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, path, "a,b", "ab")
    }
    assert(e1.getMessage.contains("manifest delimiter"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, path, "a,b")
    }
    assert(e2.getMessage.contains("manifest delimiter"))
    // the refusals left the table fully readable and unchanged
    assert(SnapshotTable.versions(spark, path) == Seq(1L))
    assert(SnapshotTable.read(spark, path).count() == 10L)
    // a safe column on the same table still renames fine
    SnapshotTable.renameColumn(spark, path, "c", "d")
    assert(SnapshotTable.read(spark, path).columns.toSeq == Seq("id", "a,b", "d"))
  }

  // ---- OR-of-ranges scan pruning ---------------------------------------

  private def blob(i: Long): String = s"doc-$i-" + ("x" * 64)

  private def rangedTable(prefix: String): String = {
    import spark.implicits._
    val path = tmp(prefix)
    Seq(0L until 500L, 500L until 1000L, 1000L until 1500L).foreach { r =>
      SnapshotTable.ingest(spark,
        r.map(i => (i, blob(i))).toDF("doc_id", "text"), path, "text",
        expectedItems = 10000L, statsCols = Seq("doc_id"))
    }
    path
  }

  test("OR of same-column ranges prunes as a union of intervals (backfill time-slice shape)") {
    val path = rangedTable("graft-orprune")
    // two slices, both OUTSIDE the middle commit's [500,1000) interval —
    // pre-r15 this OR degraded to read-everything
    val pred = (col("doc_id").between(50L, 80L)) ||
      (col("doc_id").between(1200L, 1260L))
    val (df, rep) = SnapshotTable.readWhereReport(spark, path, pred)
    assert(rep.nFilesKept < rep.nFilesTotal,
      s"OR of ranges did not prune: $rep")
    val got = df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((50L to 80L) ++ (1200L to 1260L)).toSeq)
    // cross-check vs the unpruned filter — pruning must never change
    // the answer
    assert(df.except(SnapshotTable.read(spark, path).filter(pred)).isEmpty)
    // a disjunction with one unextractable branch must contribute no
    // term: keeps everything, stays exact
    val opaque = (col("doc_id").between(50L, 80L)) ||
      ((col("doc_id") % 97L) === 0L)
    val (df2, rep2) = SnapshotTable.readWhereReport(spark, path, opaque)
    assert(rep2.nFilesKept == rep2.nFilesTotal,
      s"an opaque OR branch must void the term, not over-prune: $rep2")
    assert(df2.count() ==
      (0L until 1500L).count(i => (i >= 50 && i <= 80) || i % 97 == 0))
  }

  test("OR term composes with AND conjuncts: both prune together") {
    val path = rangedTable("graft-orprune2")
    // conjunct 1 (plain range) excludes the third commit; conjunct 2
    // (OR term) excludes the middle of the survivors
    val pred = col("doc_id") < 900L &&
      ((col("doc_id") < 30L) || (col("doc_id").between(700L, 730L)))
    val (df, rep) = SnapshotTable.readWhereReport(spark, path, pred)
    assert(rep.nFilesKept < rep.nFilesTotal, s"no pruning: $rep")
    val got = df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L until 30L) ++ (700L to 730L)).toSeq)
  }

  test("IN expands to point branches: string blooms veto each value independently") {
    import spark.implicits._
    val path = tmp("graft-inprune")
    // hash-keyed string column: every file's [min,max] spans ~the whole
    // keyspace, so interval stats alone keep everything — only the
    // per-file blooms can prune, and only if each IN value gets its own
    // verdict
    def k(i: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Seq(0L until 400L, 400L until 800L, 800L until 1200L).foreach { r =>
      SnapshotTable.ingest(spark,
        r.map(i => (i, k(i))).toDF("doc_id", "key"), path, "key",
        expectedItems = 10000L, statsCols = Seq("key"))
    }
    // two keys from the FIRST commit only
    val pred = col("key").isin(k(7L), k(123L))
    val (df, rep) = SnapshotTable.readWhereReport(spark, path, pred)
    assert(rep.nFilesKept < rep.nFilesTotal,
      s"IN point lookup did not bloom-prune: $rep")
    assert(df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(7L, 123L))
    // partition-style sanity: a value from each of two commits keeps both
    val pred2 = col("key").isin(k(7L), k(900L))
    val (df2, _) = SnapshotTable.readWhereReport(spark, path, pred2)
    assert(df2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(7L, 900L))
  }

  // ---- positional deletes (deletion-vector MOR tier, d43) ---------------

  private def posDelTable(prefix: String): String = {
    import spark.implicits._
    val path = tmp(prefix)
    Seq(0 until 200, 200 until 400, 400 until 600).foreach { r =>
      SnapshotTable.ingest(spark,
        r.map(i => (i.toLong, s"text-$i", s"lang${i % 3}", i * 10L))
          .toDF("doc_id", "text", "lang", "n_chars"),
        path, "text", expectedItems = 10000L, statsCols = Seq("doc_id"))
    }
    path
  }

  test("deleteWherePositional: keyless predicate delete, exact time travel, no-op commits nothing") {
    val path = posDelTable("graft-posdel")
    val st = SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id").between(150L, 249L) && col("lang") === "lang1")
    assert(st.committed && st.version == 4L)
    val expectGone = (150 to 249).filter(_ % 3 == 1)
    assert(st.nDeleted == expectGone.size.toLong)
    val cur = SnapshotTable.read(spark, path)
    assert(cur.count() == 600L - expectGone.size)
    assert(cur.filter(col("doc_id").isin(expectGone.map(_.toLong): _*)).count() == 0L)
    // untouched rows keep every column intact (150 % 3 = 0 → lang0, kept
    // even though its doc_id is in the range — the non-key conjunct rules)
    assert(cur.filter(col("doc_id") === 150L).count() == 1L)
    assert(cur.filter(col("doc_id") === 150L)
      .select("n_chars").head.getLong(0) == 1500L)
    // time travel: v3 still shows every row
    assert(SnapshotTable.readAt(spark, path, 3L).count() == 600L)
    // no-op predicate: nothing commits
    val noop = SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id") === -1L)
    assert(!noop.committed && noop.version == 4L)
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L, 4L))
  }

  test("positional-delete sidecar persists only touched files' ordinals (bytes audit)") {
    val path = posDelTable("graft-posdel-bytes")
    // predicate confined to the FIRST commit's doc_id range: the stats-
    // pruned victim scan opens only its files, and the sidecar must
    // reference no file outside them
    val st = SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id") < 30L)
    assert(st.committed && st.nDeleted == 30L)
    val pdRoot = new java.io.File(path, "_posdel")
    val sidecars = pdRoot.listFiles().filter(_.isDirectory)
    assert(sidecars.length == 1)
    val pd = spark.read.parquet(sidecars.head.toString)
    assert(pd.columns.toSeq.sorted == Seq("file", "ord"))
    assert(pd.count() == 30L)
    assert(pd.select("file").distinct().count() == st.nFilesTouched)
    // the files referenced all live in the FIRST commit's dir
    val dir1Files = new java.io.File(path).listFiles()
      .filter(f => f.getName.startsWith("snap-00000001")).head
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    val referenced = pd.select("file").distinct().collect().map(_.getString(0)).toSet
    assert(referenced.subsetOf(dir1Files),
      s"sidecar references files outside the pruned commit: ${referenced -- dir1Files}")
    // sidecar bytes are O(matches), not O(table)
    def du(f: java.io.File): Long =
      if (f.isFile) f.length else f.listFiles().map(du).sum
    val dataBytes = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("snap-")).map(du).sum
    assert(du(pdRoot) < dataBytes / 2,
      s"positional sidecar ${du(pdRoot)}B vs data ${dataBytes}B")
  }

  test("positional deletes stack with appends and later deletes; ingest rebases over a racing posdelete") {
    import spark.implicits._
    val path = posDelTable("graft-posdel-stack")
    SnapshotTable.deleteWherePositional(spark, path, col("doc_id") < 10L)
    // append after a delete: new rows land, mask intact
    SnapshotTable.ingest(spark,
      (600 until 650).map(i => (i.toLong, s"text-$i", s"lang${i % 3}", i * 10L))
        .toDF("doc_id", "text", "lang", "n_chars"),
      path, "text", expectedItems = 10000L)
    assert(SnapshotTable.read(spark, path).count() == 640L)
    // second positional delete over the stacked chain
    SnapshotTable.deleteWherePositional(spark, path, col("doc_id") >= 640L)
    assert(SnapshotTable.read(spark, path).count() == 630L)
    // readWhere over the overlay stays exact and still prunes
    val (df, rep) = SnapshotTable.readWhereReport(spark, path,
      col("doc_id").between(0L, 99L))
    assert(df.count() == 90L)
    assert(rep.nFilesKept < rep.nFilesTotal)
    // a racing posdelete between an ingest's staging and commit rebases
    SnapshotTable.commitFault = _ => {
      SnapshotTable.deleteWherePositional(spark, path, col("doc_id") === 20L)
      ()
    }
    val st = SnapshotTable.ingest(spark,
      (700 until 720).map(i => (i.toLong, s"text-$i", s"lang${i % 3}", i * 10L))
        .toDF("doc_id", "text", "lang", "n_chars"),
      path, "text", expectedItems = 10000L)
    assert(st.nNew == 20L)
    val after = SnapshotTable.read(spark, path)
    assert(after.count() == 630L - 1L + 20L)
    assert(after.filter(col("doc_id") === 20L).count() == 0L)
  }

  test("racing positional deletes both land (rebase over file-preserving kinds)") {
    val path = posDelTable("graft-posdel-race")
    // the seam injects a CONCURRENT posdelete between this delete's
    // sidecar write and its commit: the loser must rebase onto the
    // winner's manifest and BOTH masks must apply afterwards
    SnapshotTable.commitFault = _ => {
      SnapshotTable.deleteWherePositional(spark, path, col("doc_id") === 7L)
      ()
    }
    val st = SnapshotTable.deleteWherePositional(spark, path,
      col("doc_id").between(100L, 109L))
    assert(st.committed && st.nDeleted == 10L)
    val cur = SnapshotTable.read(spark, path)
    assert(cur.count() == 600L - 10L - 1L)
    assert(cur.filter(col("doc_id") === 7L).isEmpty)
    assert(cur.filter(col("doc_id").between(100L, 109L)).isEmpty)
    val m = SnapshotTable.readManifestChecked(spark, path,
      SnapshotTable.versions(spark, path).last)
    assert(m.posDeletes.size == 2, s"both sidecars must be referenced: ${m.posDeletes}")
    // a racing REWRITE must conflict loudly instead of rebasing onto
    // moved files
    SnapshotTable.commitFault = _ => {
      SnapshotTable.compact(spark, path, textCol = Some("text"),
        expectedItems = 10000L)
      ()
    }
    val e = intercept[java.io.IOException] {
      SnapshotTable.deleteWherePositional(spark, path, col("doc_id") === 300L)
    }
    assert(e.getMessage.contains("may have moved"), e.getMessage)
    // the refused delete changed nothing: the compact's state stands
    assert(SnapshotTable.read(spark, path).count() == 589L)
  }

  test("compactPosDeletes folds the sidecar list without touching data; history stays exact") {
    val path = posDelTable("graft-posdel-fold")
    SnapshotTable.deleteWherePositional(spark, path, col("doc_id") < 10L)
    SnapshotTable.deleteWherePositional(spark, path, col("doc_id").between(200L, 204L))
    SnapshotTable.deleteWherePositional(spark, path, col("doc_id") === 450L)
    assert(SnapshotTable.readManifestChecked(spark, path, 6L).posDeletes.size == 3)
    val dataFilesBefore = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("snap-"))
      .flatMap(_.listFiles()).map(f => f.getName -> f.lastModified()).toMap
    val v = SnapshotTable.compactPosDeletes(spark, path)
    assert(v == 7L)
    val m = SnapshotTable.readManifestChecked(spark, path, v)
    assert(m.posDeletes.size == 1, s"fold left ${m.posDeletes}")
    // zero data files touched — a pure metadata + sidecar commit
    val dataFilesAfter = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("snap-"))
      .flatMap(_.listFiles()).map(f => f.getName -> f.lastModified()).toMap
    assert(dataFilesAfter == dataFilesBefore, "fold touched data files")
    // identical logical content before and after the fold
    val cur = SnapshotTable.read(spark, path)
    assert(cur.count() == 600L - 10L - 5L - 1L)
    assert(cur.filter(col("doc_id") === 450L).isEmpty)
    assert(cur.except(SnapshotTable.readAt(spark, path, 6L)).isEmpty)
    assert(SnapshotTable.readAt(spark, path, 6L).except(cur).isEmpty)
    // pre-fold versions still replay under THEIR sidecar lists
    assert(SnapshotTable.readAt(spark, path, 4L).count() == 590L)
    assert(SnapshotTable.readAt(spark, path, 3L).count() == 600L)
    // a second fold is a no-op; singleton lists never commit
    assert(SnapshotTable.compactPosDeletes(spark, path) == 7L)
    // full compaction still materializes and resets everything
    SnapshotTable.compact(spark, path, textCol = Some("text"),
      expectedItems = 10000L)
    val mc = SnapshotTable.readManifestChecked(spark, path,
      SnapshotTable.versions(spark, path).last)
    assert(mc.posDeletes.isEmpty)
    assert(SnapshotTable.read(spark, path).count() == 584L)
  }

  test("short-name DataSource resolution works for every registered source (ServiceLoader file)") {
    // r15 fixed the mis-named META-INF/services registration file
    // (org.apache.spark.sql.DataSourceRegister → ...sql.sources...);
    // pin that each short name resolves so the regression cannot return
    import org.apache.spark.sql.execution.datasources.DataSource
    Seq("graft", "ios", "graft-snapshot-log").foreach { name =>
      val cls = DataSource.lookupDataSource(name, spark.sessionState.conf)
      assert(cls.getName.startsWith("graft.sources.v2."),
        s"short name '$name' resolved to ${cls.getName}")
    }
  }

  test("compact materializes the positional overlay and resets it; binpack refuses under one") {
    val path = posDelTable("graft-posdel-compact")
    SnapshotTable.deleteWherePositional(spark, path, col("doc_id").between(100L, 199L))
    val e = intercept[IllegalStateException] {
      SnapshotTable.compactSmall(spark, path)
    }
    assert(e.getMessage.contains("positional-delete"))
    SnapshotTable.compact(spark, path, textCol = Some("text"),
      expectedItems = 10000L)
    val m = SnapshotTable.readManifestChecked(spark, path,
      SnapshotTable.versions(spark, path).last)
    assert(m.posDeletes.isEmpty && m.tombstones.isEmpty)
    val cur = SnapshotTable.read(spark, path)
    assert(cur.count() == 500L)
    assert(cur.filter(col("doc_id").between(100L, 199L)).count() == 0L)
    // post-compaction, deleted content RE-ADMITS (it left the dedup universe)
    import spark.implicits._
    val st = SnapshotTable.ingest(spark,
      Seq((150L, "text-150", "lang0", 1500L)).toDF("doc_id", "text", "lang", "n_chars"),
      path, "text", expectedItems = 10000L)
    assert(st.nNew == 1L)
  }

  test("addedBetween refuses ranges crossing a positional delete; DSv2 applies the mask") {
    val path = posDelTable("graft-posdel-guard")
    SnapshotTable.deleteWherePositional(spark, path, col("doc_id") === 5L)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.addedBetween(spark, path, 2L)
    }
    assert(e.getMessage.contains("positional deletes"))
    // the V2 scan APPLIES the positional overlay (late-r15 mask-applying
    // read; the earlier refusal pin is obsolete) — identical to the API
    assert(spark.read.format("graft").load(path).count() == 599L)
    // version 3 (pre-delete) still reads through V2 unmasked
    assert(spark.read.format("graft").option("versionAsOf", "3")
      .load(path).count() == 600L)
  }

  // ---- distributed BPE tokenizer training (t37) --------------------------

  import graft.operators.BpeTrainer

  /** Reference BPE on the driver: same greedy left-to-right merge, same
    * (count DESC, left ASC, right ASC) tie-break — the ground truth the
    * distributed trainer must reproduce exactly.
    */
  private def naiveBpe(words: Map[String, Long], k: Int): Seq[(String, String)] = {
    def mergeGreedy(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    var segs: Seq[(List[String], Long)] =
      words.toSeq.map { case (w, c) => w.map(_.toString).toList -> c }
    val out = Seq.newBuilder[(String, String)]
    var r = 0
    var done = false
    while (r < k && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      segs.foreach { case (syms, c) =>
        syms.zip(syms.drop(1)).foreach(p => counts(p) += c)
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        out += best
        segs = segs.map { case (syms, c) => (mergeGreedy(syms, best._1, best._2), c) }
        r += 1
      }
    }
    out.result()
  }

  test("BPE trainer matches the reference algorithm merge-for-merge") {
    import spark.implicits._
    val corpus = Seq(
      "low low low low low", "lower lower", "newest newest newest",
      "newest newest newest", "widest widest", "low lower newest")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val words = BpeTrainer.wordTable(corpus, "text")
    val got = BpeTrainer.train(words, 8).map(m => (m.left, m.right))
    val wordCounts = words.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = naiveBpe(wordCounts, 8)
    assert(got == want, s"distributed merges $got != reference $want")
    // ranks are 1..n and frequencies are the argmax counts (non-increasing
    // only within equal alphabets is NOT guaranteed — but positivity is)
    val full = BpeTrainer.train(words, 8)
    assert(full.map(_.rank) == (1 to full.size))
    assert(full.forall(_.freq > 0))
  }

  test("BPE merge table is layout-invariant: shuffle/partitioning does not change the result") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val base = BpeTrainer.wordTable(docs, "text")
    val a = BpeTrainer.train(base, 6)
    val b = BpeTrainer.train(base.repartition(13), 6)
    val c = BpeTrainer.train(base.repartition(1).sort(desc("w")), 6)
    assert(a == b, s"repartition changed the learned merges:\n$a\n$b")
    assert(a == c, s"sort order changed the learned merges:\n$a\n$c")
  }

  test("BPE token counts: merged symbols shrink counts, empty docs count 0, coverage total") {
    import spark.implicits._
    val corpus = Seq((1L, "aa aa aa"), (2L, "ab"), (3L, ""), (4L, "aa ab"))
      .toDF("doc_id", "text")
    // one merge: (a,a) is the most frequent pair (freq 4: 'aa'×4... each
    // 'aa' word has one a-a pair; 'ab' has an a-b pair)
    val merges = BpeTrainer.train(BpeTrainer.wordTable(corpus, "text"), 1)
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "a")))
    val counts = BpeTrainer.tokenCounts(corpus, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 'aa' → 1 symbol after the merge; 'ab' stays 2
    assert(counts == Map(1L -> 3L, 2L -> 2L, 3L -> 0L, 4L -> 3L), counts.toString)
  }
}
