package graft

import org.apache.spark.sql.functions._

/** Optimistic-concurrency pins for SnapshotTable.ingest: a committer
  * that loses the version-slot race rebases its staged delta onto the
  * winner's state — re-deduped, re-homed under the new commit version,
  * bloom re-merged — instead of failing. Deterministic conflicts are
  * injected through the `commitFault` seam (which fires before every
  * commit attempt and clears itself); one test races real threads
  * through the whole path.
  */
class ConcurrencySpec extends SparkSpec {

  import graft.operators.SnapshotTable

  private def docs(ids: Range, lang: String = "en") = {
    import spark.implicits._
    ids.map(i => (i.toLong, lang, s"document body $i")).toDF("doc_id", "lang", "text")
  }

  private def ids(path: String): Set[Long] = {
    import spark.implicits._
    SnapshotTable.read(spark, path).select("doc_id").as[Long].collect().toSet
  }

  test("a lost append commit rebases: disjoint interleave renames the staged delta in place") {
    val path = tmp("graft-race1")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text", expectedItems = 1000L)
    // the fault fires between our staging and our commit: a concurrent
    // ingest takes version 2, so ours must land at 3
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.ingest(spark, docs(40 until 60), path, "text",
          expectedItems = 1000L); () }
    val st = SnapshotTable.ingest(spark, docs(20 until 40), path, "text",
      expectedItems = 1000L)
    assert(st.version == 3L && st.nNew == 20L, st)
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L))
    assert(ids(path) == (0L until 60L).toSet)
    // the renamed dir carries the COMMIT version in its name — the
    // merge-on-read overlay orders rows by it, so a stale number would
    // let later tombstones mask these rows
    val metas = SnapshotTable.filesMeta(spark, path)
      .select("commit_version").distinct().collect().map(_.getLong(0)).toSet
    assert(metas == Set(1L, 2L, 3L), metas)
    // history: all three commits recorded as appends (the rebase is
    // still an append, just re-homed)
    val kinds = SnapshotTable.history(spark, path)
      .select("kind").collect().map(_.getString(0)).toSet
    assert(kinds == Set("append"), kinds)
    // the bloom and hash sidecars followed the rebase: replaying any
    // already-committed content admits nothing
    val replay = SnapshotTable.ingest(spark, docs(0 until 60), path, "text",
      expectedItems = 1000L)
    assert(replay.nNew == 0L, replay)
  }

  test("an overlapping interleave drops racer-admitted rows and rewrites the delta") {
    val path = tmp("graft-race2")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text", expectedItems = 1000L)
    // racer commits 30..49 first; our staged 20..39 must drop 30..39
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.ingest(spark, docs(30 until 50), path, "text",
          expectedItems = 1000L); () }
    val st = SnapshotTable.ingest(spark, docs(20 until 40), path, "text",
      expectedItems = 1000L)
    assert(st.version == 3L && st.nNew == 10L, st)
    // every id exactly once — the content-dedup invariant held under
    // the race
    val all = SnapshotTable.read(spark, path).groupBy("doc_id").count()
    assert(all.filter(col("count") > 1).isEmpty)
    assert(ids(path) == (0L until 50L).toSet)
    // survivors live under commit version 3
    val v3rows = SnapshotTable.read(spark, path)
      .filter(col("doc_id").between(20, 29)).count()
    assert(v3rows == 10L)
  }

  test("rebase refuses rewrite interleavings loudly; the staged work stays reclaimable") {
    import spark.implicits._
    val path = tmp("graft-race3")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text", expectedItems = 1000L)
    SnapshotTable.commitFault = _ => {
      val changes = Seq((1L, "en", "rewritten body 1"))
        .toDF("doc_id", "lang", "text")
      SnapshotTable.merge(spark, changes, path, "doc_id"); ()
    }
    val e = intercept[java.io.IOException] {
      SnapshotTable.ingest(spark, docs(20 until 40), path, "text",
        expectedItems = 1000L)
    }
    assert(e.getMessage.contains("kind 'merge'"), e.getMessage)
    // the merge's snapshot is current and intact; the loser's staging
    // is an orphan for vacuum, never a committed dir
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L))
    assert(SnapshotTable.read(spark, path).count() == 20L)
  }

  test("partitioned tables rebase with their Hive layout intact") {
    import spark.implicits._
    val path = tmp("graft-race4")
    def pdocs(ids: Range) = ids.map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "fr", s"document body $i"))
      .toDF("doc_id", "lang", "text")
    SnapshotTable.ingest(spark, pdocs(0 until 20), path, "text",
      expectedItems = 1000L, partitionCols = Seq("lang"))
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.ingest(spark, pdocs(40 until 60), path, "text",
          expectedItems = 1000L); () }
    val st = SnapshotTable.ingest(spark, pdocs(20 until 40), path, "text",
      expectedItems = 1000L)
    assert(st.version == 3L && st.nNew == 20L, st)
    // the re-homed dir kept its k=v layout and partition pruning sees it
    val v3dir = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-00000003"))
    assert(v3dir.length == 1)
    assert(v3dir.head.listFiles().filter(_.isDirectory).map(_.getName).sorted
      .toSeq == Seq("lang=en", "lang=fr"))
    val (en, rep) = SnapshotTable.readWhereReport(spark, path, col("lang") === "en")
    assert(rep.nPartDirsTotal == 6 && rep.nPartDirsKept == 3, rep)
    assert(en.count() == 30L)
  }

  test("a lost compaction rebases onto interleaved appends: compacted + appended dirs") {
    val path = tmp("graft-race6")
    SnapshotTable.ingest(spark, docs(0 until 30), path, "text", expectedItems = 1000L)
    SnapshotTable.ingest(spark, docs(30 until 60), path, "text", expectedItems = 1000L)
    // the fault fires between compact's staging and its commit: a
    // concurrent append takes version 3, the compaction lands at 4
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.ingest(spark, docs(60 until 80), path, "text",
          expectedItems = 1000L); () }
    SnapshotTable.compact(spark, path, textCol = Some("text"),
      expectedItems = 1000L)
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L, 4L))
    assert(ids(path) == (0L until 80L).toSet)
    // manifest = the compacted dir (re-homed at v4) + the interleaved
    // append's delta dir — the append's rows never re-staged
    val m = SnapshotTable.readManifestChecked(spark, path, 4L)
    assert(m.dirs.size == 2, m.dirs)
    assert(m.dirs.head.startsWith("snap-00000004"), m.dirs)
    assert(m.dirs.exists(_.startsWith("snap-00000003")), m.dirs)
    assert(m.kind == "compact", m.kind)
    // the rebased manifest references the WINNER's bloom (which covers
    // parent ∪ append): replaying anything admits nothing
    val replay = SnapshotTable.ingest(spark, docs(0 until 80), path, "text",
      expectedItems = 1000L)
    assert(replay.nNew == 0L, replay)
  }

  test("a lost compaction with tombstones rebuilds its bloom over the appends' sidecars") {
    import spark.implicits._
    val path = tmp("graft-race7")
    SnapshotTable.ingest(spark, docs(0 until 40), path, "text", expectedItems = 1000L)
    // delete 10..19 via a MOR tombstone; the compaction materializes it
    SnapshotTable.mergeOnRead(spark,
      (10L until 20L).map(k => (k, "en", "ignored", true))
        .toDF("doc_id", "lang", "text", "is_deleted"),
      path, "doc_id", deleteCol = Some("is_deleted"), textCol = Some("text"),
      expectedItems = 1000L)
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.ingest(spark, docs(50 until 70), path, "text",
          expectedItems = 1000L); () }
    SnapshotTable.compact(spark, path, textCol = Some("text"),
      expectedItems = 1000L)
    assert(ids(path) ==
      ((0L until 10L) ++ (20L until 40L) ++ (50L until 70L)).toSet)
    val m = SnapshotTable.readManifestChecked(spark, path,
      SnapshotTable.currentVersion(spark, path).get)
    assert(m.tombstones.isEmpty && m.kind == "compact", m)
    // deleted content LEFT the dedup universe at compaction even under
    // the race: a re-crawl of row 10 re-admits it...
    val re = SnapshotTable.ingest(spark, docs(10 until 11), path, "text",
      expectedItems = 1000L)
    assert(re.nNew == 1L, re)
    // ...while the interleaved append's content — covered only via the
    // merged-in sidecar bloom — stays deduplicated
    val replay = SnapshotTable.ingest(spark, docs(50 until 70), path, "text",
      expectedItems = 1000L)
    assert(replay.nNew == 0L, replay)
  }

  test("a compaction lost to a concurrent compaction refuses: the rewrite is obsolete") {
    val path = tmp("graft-race8")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text", expectedItems = 1000L)
    SnapshotTable.ingest(spark, docs(20 until 40), path, "text", expectedItems = 1000L)
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.compact(spark, path, textCol = Some("text"),
          expectedItems = 1000L); () }
    val e = intercept[java.io.IOException] {
      SnapshotTable.compact(spark, path, textCol = Some("text"),
        expectedItems = 1000L)
    }
    assert(e.getMessage.contains("concurrent compaction"), e.getMessage)
    // the winner's compaction is current and intact
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L))
    assert(ids(path) == (0L until 40L).toSet)
  }

  test("a live ingest/compact race: both commit regardless of winner order") {
    val path = tmp("graft-race9")
    SnapshotTable.ingest(spark, docs(0 until 30), path, "text", expectedItems = 1000L)
    SnapshotTable.ingest(spark, docs(30 until 60), path, "text", expectedItems = 1000L)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val tIngest = new Thread(() => {
      try {
        barrier.await()
        SnapshotTable.ingest(spark, docs(60 until 90), path, "text",
          expectedItems = 1000L)
        ()
      } catch { case t: Throwable => errors.add(t); () }
    })
    val tCompact = new Thread(() => {
      try {
        barrier.await()
        SnapshotTable.compact(spark, path, textCol = Some("text"),
          expectedItems = 1000L)
        ()
      } catch { case t: Throwable => errors.add(t); () }
    })
    Seq(tIngest, tCompact).foreach(_.start())
    Seq(tIngest, tCompact).foreach(_.join(120000))
    assert(errors.isEmpty, errors)
    // whoever lost rebased: versions 3 and 4 both exist, content is
    // the full union, and the committed bloom still covers everything
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L, 4L))
    assert(ids(path) == (0L until 90L).toSet)
    val replay = SnapshotTable.ingest(spark, docs(0 until 90), path, "text",
      expectedItems = 1000L)
    assert(replay.nNew == 0L, replay)
  }

  test("two genuinely concurrent ingests both commit; content is their deduped union") {
    val path = tmp("graft-race5")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text", expectedItems = 1000L)
    val a = docs(20 until 45) // overlap with b on 40..44
    val b = docs(40 until 65)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[SnapshotTable.IngestStats]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(a, b).map { batch =>
      new Thread(() => {
        try {
          barrier.await()
          results.add(SnapshotTable.ingest(spark, batch, path, "text",
            expectedItems = 1000L))
          ()
        } catch { case t: Throwable => errors.add(t); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, errors)
    import scala.jdk.CollectionConverters._
    val vs = results.asScala.map(_.version).toSet
    assert(vs == Set(2L, 3L), vs)
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L))
    assert(ids(path) == (0L until 65L).toSet)
    val dups = SnapshotTable.read(spark, path).groupBy("text").count()
      .filter(col("count") > 1)
    assert(dups.isEmpty)
  }

  test("fuzzy ingest racing a fuzzy ingest: the loser's rebase drops the winner's near-dups") {
    import spark.implicits._
    val path = tmp("graft-fuzzy-race")
    SnapshotTable.ingestFuzzy(spark,
      Seq((1L, "the quick brown fox jumps over the lazy dog near the river bank"))
        .toDF("doc_id", "text"),
      path, "doc_id", "text", expectedItems = 1000L)
    val xText = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    // winner commits xText in the loser's commit window — AFTER the
    // loser's entry gate ran, so only the rebase re-gate can catch it
    SnapshotTable.commitFault = _ => {
      SnapshotTable.ingestFuzzy(spark,
        Seq((100L, xText)).toDF("doc_id", "text"),
        path, "doc_id", "text", expectedItems = 1000L)
      ()
    }
    val st = SnapshotTable.ingestFuzzy(spark,
      Seq((200L, xText + " extra"), // near-dup of the winner's row
          (201L, "completely different words entirely unrelated content here today"))
        .toDF("doc_id", "text"),
      path, "doc_id", "text", expectedItems = 1000L)
    assert(st.nNew == 1L,
      "the loser's rebase must drop the near-dup the winner admitted first")
    assert(ids(path) == Set(1L, 100L, 201L))
    // the dropped near-dup stays droppable: re-ingesting it gates at ENTRY
    // now (the winner's signature sidecar is committed history)
    val st2 = SnapshotTable.ingestFuzzy(spark,
      Seq((300L, xText + " extra")).toDF("doc_id", "text"),
      path, "doc_id", "text", expectedItems = 1000L)
    assert(st2.nFuzzyDropped == 1L && st2.nNew == 0L)
  }

  test("two genuinely concurrent fuzzy ingests: exactly one of a cross-batch near-dup pair lands") {
    import spark.implicits._
    val path = tmp("graft-fuzzy-race2")
    SnapshotTable.ingestFuzzy(spark,
      Seq((1L, "seed document with completely independent wording throughout the body"))
        .toDF("doc_id", "text"),
      path, "doc_id", "text", expectedItems = 1000L)
    val xText = "november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee"
    val a = Seq((100L, xText),
      (101L, "first unrelated row aaa bbb ccc ddd eee fff ggg hhh")).toDF("doc_id", "text")
    val b = Seq((200L, xText + " zulu"), // near-dup of a's 100
      (201L, "second unrelated row iii jjj kkk lll mmm nnn ooo ppp")).toDF("doc_id", "text")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(a, b).map { batch =>
      new Thread(() => {
        try {
          barrier.await()
          SnapshotTable.ingestFuzzy(spark, batch, path, "doc_id", "text",
            expectedItems = 1000L)
          ()
        } catch { case t: Throwable => errors.add(t); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, errors)
    val got = ids(path)
    // whichever near-dup committed FIRST survives; the other must have
    // been dropped — by the entry gate (serialized timing) or by the
    // loser's rebase re-gate (true race). Both unrelated rows land.
    assert(got.intersect(Set(100L, 200L)).size == 1, s"near-dup pair: $got")
    assert(Set(1L, 101L, 201L).subsetOf(got), s"unrelated rows lost: $got")
  }

  test("a lost binpack rebases onto interleaved appends: merged dir re-homes, appends kept") {
    val path = tmp("graft-race8")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text", expectedItems = 1000L)
    SnapshotTable.ingest(spark, docs(20 until 30), path, "text", expectedItems = 1000L)
    SnapshotTable.ingest(spark, docs(30 until 40), path, "text", expectedItems = 1000L)
    // the fault fires between binpack's staging and its commit: a
    // concurrent append takes version 4, the merge lands at 5
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.ingest(spark, docs(50 until 70), path, "text",
          expectedItems = 1000L); () }
    val st = SnapshotTable.compactSmall(spark, path, smallDirBytes = Long.MaxValue)
    assert(st.version == 5L && st.nDirsMerged == 3 && st.committed, st)
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(ids(path) == ((0L until 40L) ++ (50L until 70L)).toSet)
    // manifest = the interleaved append's dir + the merged dir re-homed
    // at v5 — the append's rows never re-staged, the merge never re-ran
    val m = SnapshotTable.readManifestChecked(spark, path, 5L)
    assert(m.dirs.size == 2, m.dirs)
    assert(m.dirs.head.startsWith("snap-00000004"), m.dirs)
    assert(m.dirs.last.startsWith("snap-00000005"), m.dirs)
    assert(m.kind == "binpack", m.kind)
    // the rebased manifest references the WINNER's bloom (parent ∪
    // append): replaying anything admits nothing
    val replay = SnapshotTable.ingest(spark,
      docs(0 until 40).unionByName(docs(50 until 70)), path, "text",
      expectedItems = 1000L)
    assert(replay.nNew == 0L, replay)
  }

  test("a lost ingest rebases onto an interleaved binpack: the routine maintenance race") {
    val path = tmp("graft-race12")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text", expectedItems = 1000L)
    SnapshotTable.ingest(spark, docs(20 until 30), path, "text", expectedItems = 1000L)
    // the fault fires between our staging and our commit: a maintenance
    // loop's binpack takes version 3, so ours must rebase to 4 — the
    // exact race every streaming sink with Maintenance(maxChainDirs) runs
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.compactSmall(spark, path, smallDirBytes = Long.MaxValue); () }
    val st = SnapshotTable.ingest(spark, docs(30 until 50), path, "text",
      expectedItems = 1000L)
    assert(st.version == 4L && st.nNew == 20L, st)
    assert(ids(path) == (0L until 50L).toSet)
    // manifest = the binpacked dir + our delta re-homed at v4
    val m = SnapshotTable.readManifestChecked(spark, path, 4L)
    assert(m.dirs.size == 2 && m.dirs.head.startsWith("snap-00000003")
      && m.dirs.last.startsWith("snap-00000004"), m.dirs)
    // dedup coverage intact across the rebase: replay admits nothing
    val replay = SnapshotTable.ingest(spark, docs(0 until 50), path, "text",
      expectedItems = 1000L)
    assert(replay.nNew == 0L, replay)
  }

  test("a lost merge-on-read rebases onto an interleaved binpack too") {
    val path = tmp("graft-race13")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text", expectedItems = 1000L)
    SnapshotTable.ingest(spark, docs(20 until 30), path, "text", expectedItems = 1000L)
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.compactSmall(spark, path, smallDirBytes = Long.MaxValue); () }
    import spark.implicits._
    val st = SnapshotTable.mergeOnRead(spark,
      Seq((5L, "en", "rebased over binpack", false)).toDF("doc_id", "lang", "text", "del"),
      path, "doc_id", deleteCol = Some("del"), textCol = Some("text"),
      expectedItems = 1000L)
    assert(st.version == 4L && st.nUpserts == 1L, st)
    val texts = SnapshotTable.read(spark, path)
      .filter(col("doc_id") === 5L).select("text").as[String].collect().toSeq
    assert(texts == Seq("rebased over binpack"), texts)
    assert(ids(path) == (0L until 30L).toSet)
  }

  test("a lost merge-on-read rebases onto an interleaved append: serially exact") {
    val path = tmp("graft-race10")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text", expectedItems = 1000L)
    // the fault fires between MOR staging and its commit: a concurrent
    // append takes version 2, the merge lands at 3
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.ingest(spark, docs(20 until 40), path, "text",
          expectedItems = 1000L); () }
    import spark.implicits._
    // upsert doc 5 (in the parent) AND delete doc 25 (in the
    // INTERLEAVED append — the rebased tombstone must mask it, exactly
    // as a serial append-then-merge would)
    val changes = Seq(
      (5L, "en", "document body 5 REVISED", false),
      (25L, "en", "", true)
    ).toDF("doc_id", "lang", "text", "del")
    val st = SnapshotTable.mergeOnRead(spark, changes, path, "doc_id",
      deleteCol = Some("del"), textCol = Some("text"), expectedItems = 1000L)
    assert(st.version == 3L && st.nUpserts == 1L && st.nDeletes == 1L, st)
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L))
    assert(ids(path) == ((0L until 40L).toSet - 25L))
    val texts = SnapshotTable.read(spark, path)
      .filter(col("doc_id") === 5L).select("text").as[String].collect().toSeq
    assert(texts == Seq("document body 5 REVISED"), texts)
    // the rebased bloom = winner's (parent ∪ append) ∪ upserts:
    // replaying the revised content admits nothing
    val replay = SnapshotTable.ingest(spark,
      Seq((500L, "en", "document body 5 REVISED")).toDF("doc_id", "lang", "text"),
      path, "text", expectedItems = 1000L)
    assert(replay.nNew == 0L, replay)
    // tombstone + delta dir both re-homed at the commit version
    val m = SnapshotTable.readManifestChecked(spark, path, 3L)
    assert(m.tombstones.size == 1 && m.tombstones.head.startsWith("t00000003"), m)
    assert(m.dirs.last.startsWith("snap-00000003"), m.dirs)
    assert(m.kind == "merge-on-read" && m.morKey.contains("doc_id"), m)
  }

  test("a lost pure-delete merge-on-read rebases; a rewrite interleaving refuses") {
    val path = tmp("graft-race11")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text", expectedItems = 1000L)
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.ingest(spark, docs(20 until 30), path, "text",
          expectedItems = 1000L); () }
    val st = SnapshotTable.deleteWhere(spark, path, "doc_id",
      col("doc_id") < 3L)
    assert(st.version == 3L && st.nDeletes == 3L, st)
    assert(ids(path) == (3L until 30L).toSet)
    // pure delete: winner's bloom carried by reference — deleted content
    // stays conservatively blocked until compaction
    val m = SnapshotTable.readManifestChecked(spark, path, 3L)
    assert(m.bloom == SnapshotTable.readManifestChecked(spark, path, 2L).bloom, m)
    // a COMPACTION interleaving refuses loudly: the dirs the overlay
    // masks may have been rewritten under it
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.compact(spark, path, textCol = Some("text"),
          expectedItems = 1000L); () }
    val e = intercept[java.io.IOException](
      SnapshotTable.deleteWhere(spark, path, "doc_id", col("doc_id") === 5L))
    assert(e.getMessage.contains("compact") && e.getMessage.contains("re-run"),
      e.getMessage)
    assert(ids(path) == (3L until 30L).toSet)
  }

  test("a lost binpack refuses a rewrite interleaving loudly") {
    val path = tmp("graft-race9")
    SnapshotTable.ingest(spark, docs(0 until 20), path, "text", expectedItems = 1000L)
    SnapshotTable.ingest(spark, docs(20 until 30), path, "text", expectedItems = 1000L)
    // the interleaved commit is a COMPACTION: the dirs the merge read
    // no longer exist, so the rebase must refuse with the kind named
    SnapshotTable.commitFault = _ =>
      { SnapshotTable.compact(spark, path, textCol = Some("text"),
          expectedItems = 1000L); () }
    val e = intercept[java.io.IOException](
      SnapshotTable.compactSmall(spark, path, smallDirBytes = Long.MaxValue))
    assert(e.getMessage.contains("compact") && e.getMessage.contains("re-run"),
      e.getMessage)
    // the winner's compaction stands; content is intact
    assert(ids(path) == (0L until 30L).toSet)
  }

  /** Arms the seam with a racer that lands `race(i)` before EVERY commit
    * attempt of the op under test (re-arming itself after each win), so
    * the op loses every slot. Returns the op names the seam saw.
    */
  private def raceEverySlot(race: Int => Unit)(op: => Unit): (Seq[String], java.io.IOException) = {
    val seen = Seq.newBuilder[String]
    var i = 0
    def racer(opName: String): Unit = {
      seen += opName
      race(i)
      i += 1
      SnapshotTable.commitFault = racer
    }
    SnapshotTable.commitFault = racer
    val e = try intercept[java.io.IOException](op)
      finally SnapshotTable.commitFault = _ => ()
    (seen.result(), e)
  }

  private def unreferencedSnapDirs(path: String): Set[String] = {
    val referenced = SnapshotTable.versions(spark, path)
      .flatMap(v => SnapshotTable.readManifestChecked(spark, path, v).dirs).toSet
    new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
      .map(_.getName).toSet.diff(referenced)
  }

  test("an append losing every slot gives up after 5 publishes; its staging stays unreferenced") {
    val path = tmp("graft-giveup-append")
    SnapshotTable.ingest(spark, docs(0 until 10), path, "text", expectedItems = 1000L)
    val (ops, e) = raceEverySlot(i =>
      { SnapshotTable.append(spark, docs(100 + 10 * i until 110 + 10 * i), path); () }) {
      SnapshotTable.append(spark, docs(10 until 20), path)
    }
    assert(e.getMessage.contains("lost 5 consecutive commit races"), e.getMessage)
    assert(ops == Seq.fill(5)("append"), ops)
    // exactly the five racer appends landed, nothing of the loser's
    assert(SnapshotTable.versions(spark, path) == (1L to 6L))
    assert(ids(path) == ((0L until 10L) ++ (100L until 150L)).toSet)
    // the loser's staged dir (re-homed at the last slot it tried) is on
    // disk but no retained manifest references it
    val orphans = unreferencedSnapDirs(path)
    assert(orphans.size == 1 && orphans.head.startsWith("snap-00000006"), orphans)
  }

  test("an ingest losing every slot gives up after 5 publishes; its staging stays unreferenced") {
    val path = tmp("graft-giveup-ingest")
    SnapshotTable.ingest(spark, docs(0 until 10), path, "text", expectedItems = 1000L)
    val (ops, e) = raceEverySlot(i =>
      { SnapshotTable.ingest(spark, docs(100 + 10 * i until 110 + 10 * i), path, "text",
          expectedItems = 1000L); () }) {
      SnapshotTable.ingest(spark, docs(10 until 20), path, "text", expectedItems = 1000L)
    }
    assert(e.getMessage.contains("lost 5 consecutive commit races"), e.getMessage)
    assert(ops == Seq.fill(5)("ingest"), ops)
    assert(SnapshotTable.versions(spark, path) == (1L to 6L))
    assert(ids(path) == ((0L until 10L) ++ (100L until 150L)).toSet)
    val orphans = unreferencedSnapDirs(path)
    assert(orphans.size == 1 && orphans.head.startsWith("snap-00000006"), orphans)
    // the loser's rows never entered the dedup universe: they ingest now
    val again = SnapshotTable.ingest(spark, docs(10 until 20), path, "text",
      expectedItems = 1000L)
    assert(again.nNew == 10L, again)
  }
}
