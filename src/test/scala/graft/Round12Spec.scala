package graft

import org.apache.spark.sql.functions._

/** Round-12 pins: SnapshotTable time travel (readAt/versions), the
  * post-compaction hash-sidecar invariant, the staging-orphan janitor,
  * and the bucketed fact-fact join registry row.
  */
class Round12Spec extends SparkSpec {

  // ---- time travel: readAt(version) / versions() ------------------------

  test("readAt pins an old snapshot; later ingests never disturb it") {
    import spark.implicits._
    import graft.operators.SnapshotTable
    val path = tmp("graft-timetravel")
    SnapshotTable.ingest(spark, Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      path, "text", 100L)
    SnapshotTable.ingest(spark, Seq((3L, "gamma")).toDF("doc_id", "text"),
      path, "text", 100L)
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L))
    // Resolve v1 BEFORE more commits land: the returned frame is pinned
    // to v1's immutable files, so commits racing the read can't shift it.
    val pinned = SnapshotTable.readAt(spark, path, 1L)
    SnapshotTable.ingest(spark, Seq((4L, "delta")).toDF("doc_id", "text"),
      path, "text", 100L)
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L, 3L))
    assert(pinned.collect().map(_.getString(1)).toSet == Set("alpha", "beta"),
      "a frame resolved at v1 must still read exactly v1 after later commits")
    // Re-resolving after the commits sees the same v1 (manifests are
    // immutable), and each version reads its own prefix of the chain.
    assert(SnapshotTable.readAt(spark, path, 1L).count() == 2L)
    assert(SnapshotTable.readAt(spark, path, 2L).count() == 3L)
    assert(SnapshotTable.readAt(spark, path, 3L).count() == 4L)
    assert(SnapshotTable.read(spark, path).count() == 4L, "read() = readAt(current)")
  }

  test("readAt of an expired or never-committed version fails loudly") {
    import spark.implicits._
    import graft.operators.SnapshotTable
    val path = tmp("graft-tt-expired")
    SnapshotTable.write(spark, Seq((1L, "a")).toDF("doc_id", "text"), path)
    SnapshotTable.write(spark, Seq((2L, "b")).toDF("doc_id", "text"), path)
    SnapshotTable.write(spark, Seq((3L, "c")).toDF("doc_id", "text"), path)
    assert(SnapshotTable.expire(spark, path, keep = 2) == 1)
    assert(SnapshotTable.versions(spark, path) == Seq(2L, 3L))
    val e1 = intercept[IllegalArgumentException](SnapshotTable.readAt(spark, path, 1L))
    assert(e1.getMessage.contains("retained versions: 2..3"),
      s"expired-version error must name the retained range: ${e1.getMessage}")
    val e2 = intercept[IllegalArgumentException](SnapshotTable.readAt(spark, path, 99L))
    assert(e2.getMessage.contains("not committed"))
    // a silent fallback to current would have returned rows here
    assert(SnapshotTable.readAt(spark, path, 2L).collect().map(_.getString(1)).toSeq == Seq("b"))
  }

  test("d11 registry row diffs two REAL committed versions via readAt") {
    // The table format's flagship consumer: the d11 fixture must be an
    // actual two-commit SnapshotTable, not a same-plan synthesis.
    val reg = SparkEntry.queries("d11_snapshot_diff")(spark, sfDir)
    val rows = reg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    import graft.operators.SnapshotTable
    val fixture = graft.queries.TrainingData.fixturePath(spark, sfDir, "d11")
    assert(SnapshotTable.versions(spark, fixture) == Seq(1L, 2L),
      "d11 must have staged a real two-version snapshot table")
    val n1 = SnapshotTable.readAt(spark, fixture, 1L).count()
    val n2 = SnapshotTable.readAt(spark, fixture, 2L).count()
    assert(rows("removed") == n1 - n2, "diff counts must reconcile with the commits")
    assert(rows.getOrElse("added", 0L) == 0L)
    assert(rows("changed") + rows("unchanged") == n2)
    // a fixture carrying anything but exactly its staged versions — here
    // a planted third commit — must be torn down and restaged, not served
    import spark.implicits._
    SnapshotTable.write(spark, Seq((-1L, "planted")).toDF("doc_id", "text"), fixture)
    assert(SnapshotTable.versions(spark, fixture) == Seq(1L, 2L, 3L))
    val again = SparkEntry.queries("d11_snapshot_diff")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(SnapshotTable.versions(spark, fixture) == Seq(1L, 2L),
      "a planted extra commit must trigger a restage to versions {1,2}")
    assert(again == rows, "the restaged fixture must diff exactly as the first staging")
  }

  // ---- compaction repairs missing ingest sidecars -----------------------

  test("compact(textCol) repairs sidecars so ingest after write() never reads payload") {
    import spark.implicits._
    import graft.operators.SnapshotTable
    val path = tmp("graft-compact-repair")
    // ~1 KB of low-compressibility text per row so the payload dwarfs
    // the ~33 B/row hash sidecar on disk — the input-size audit needs
    // the gap to be unmistakable.
    def blob(i: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 32).map { j =>
        md.digest(s"$i:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
      }.mkString
    }
    val rows = (0L until 2000L).map(i => (i, blob(i)))
    // write() commits neither hash sidecar nor bloom
    SnapshotTable.write(spark, rows.toDF("doc_id", "text"), path)
    SnapshotTable.compact(spark, path, textCol = Some("text"), expectedItems = 5000L)
    // the compacted snapshot carries BOTH repaired sidecars
    val cur = SnapshotTable.versions(spark, path).max
    val dirs = Option(new java.io.File(path).listFiles()).get
      .map(_.getName).filter(_.startsWith(f"snap-$cur%08d"))
    assert(dirs.length == 1)
    assert(new java.io.File(s"$path/_hashes/${dirs.head}").exists(),
      "compact must build the hash sidecar it could not collapse")
    val payloadBytes = Option(new java.io.File(s"$path/${dirs.head}").listFiles()).get
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.length()).sum
    assert(payloadBytes > 500000L, s"fixture payload too small for the audit: $payloadBytes")
    // ingest a batch with one dup + one new row, measuring file bytes read
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) bytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val stats =
      try {
        val s = SnapshotTable.ingest(spark,
          Seq((9001L, blob(7L)), (9002L, "genuinely new")).toDF("doc_id", "text"),
          path, "text", expectedItems = 5000L)
        // listener delivery is async: poll until the counter settles
        var last = -1L
        var spins = 0
        while (bytes.get() != last && spins < 50) {
          last = bytes.get(); Thread.sleep(100); spins += 1
        }
        s
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(stats.nNew == 1L, s"dup of compacted content re-admitted: $stats")
    assert(bytes.get() < payloadBytes / 2,
      s"ingest read ${bytes.get()} B against a $payloadBytes B payload — " +
        "the verify path is scanning payload text instead of the hash sidecars")
  }

  // ---- vacuum: staging-orphan janitor -----------------------------------

  test("vacuum removes aged unreferenced staging artifacts, keeps live state") {
    import spark.implicits._
    import graft.operators.SnapshotTable
    val path = tmp("graft-vacuum")
    SnapshotTable.ingest(spark, Seq((1L, "alpha")).toDF("doc_id", "text"), path, "text", 100L)
    SnapshotTable.ingest(spark, Seq((2L, "beta")).toDF("doc_id", "text"), path, "text", 100L)
    // plant the lost-race debris: a staged-but-never-committed data dir,
    // its hash sidecar, a committer-unique bloom, a crashed tmp manifest
    def plant(rel: String, dir: Boolean): java.io.File = {
      val f = new java.io.File(path, rel)
      if (dir) { f.mkdirs(); new java.io.File(f, "part-orphan.parquet").createNewFile() }
      else { f.getParentFile.mkdirs(); f.createNewFile() }
      f
    }
    val orphans = Seq(
      plant("snap-00000002-deadbeef", dir = true),
      plant("_hashes/snap-00000002-deadbeef", dir = true),
      plant("_versions/b00000002-deadbeef.bin", dir = false),
      plant("_versions/.tmp-crashed", dir = false))
    // fresh orphans sit INSIDE the grace window: vacuum must not touch them
    val s0 = SnapshotTable.vacuum(spark, path, graceMs = 3600000L)
    assert(s0 == SnapshotTable.VacuumStats(0, 0, 0),
      s"vacuum deleted inside the grace window: $s0")
    assert(orphans.forall(_.exists()))
    // age them out and vacuum again: all four go, live state survives
    orphans.foreach { f =>
      f.setLastModified(1000L)
      Option(f.listFiles()).foreach(_.foreach(_.setLastModified(1000L)))
    }
    val s1 = SnapshotTable.vacuum(spark, path, graceMs = 3600000L)
    assert(s1 == SnapshotTable.VacuumStats(1, 1, 2), s"unexpected vacuum stats: $s1")
    assert(orphans.forall(!_.exists()), "aged orphans must be deleted")
    assert(SnapshotTable.versions(spark, path) == Seq(1L, 2L))
    assert(SnapshotTable.read(spark, path).count() == 2L)
    // the live bloom survived: a dup is still rejected without a rebuild
    val s = SnapshotTable.ingest(spark,
      Seq((10L, "alpha")).toDF("doc_id", "text"), path, "text", 100L)
    assert(s.nNew == 0L, "vacuum deleted a manifest-referenced bloom or sidecar")
  }

  // ---- snapshot changelog: O(delta) added-rows read ---------------------

  test("addedBetween reads only the delta dirs; compaction in range fails loudly") {
    import spark.implicits._
    import graft.operators.SnapshotTable
    val path = tmp("graft-changelog")
    // big base (low-compressibility blobs) + tiny deltas: the O(delta)
    // claim is that reading "since v1" never touches the base bytes
    def blob(i: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 32).map { j =>
        md.digest(s"c:$i:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
      }.mkString
    }
    SnapshotTable.ingest(spark,
      (0L until 2000L).map(i => (i, blob(i))).toDF("doc_id", "text"),
      path, "text", expectedItems = 5000L)
    SnapshotTable.ingest(spark,
      Seq((9001L, "delta one"), (9002L, blob(7L))).toDF("doc_id", "text"),
      path, "text", expectedItems = 5000L)
    SnapshotTable.ingest(spark,
      Seq((9003L, "delta two")).toDF("doc_id", "text"),
      path, "text", expectedItems = 5000L)
    val basePayload = Option(new java.io.File(path).listFiles()).get
      .filter(_.getName.startsWith("snap-00000001")).flatMap(d => Option(d.listFiles()).get)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.length()).sum
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) bytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val since1 =
      try {
        val rows = SnapshotTable.addedBetween(spark, path, 1L).collect()
        var last = -1L; var spins = 0
        while (bytes.get() != last && spins < 50) { last = bytes.get(); Thread.sleep(100); spins += 1 }
        rows
      } finally spark.sparkContext.removeSparkListener(listener)
    // content-dedup shaped the deltas: blob(7) was a dup and never committed
    assert(since1.map(_.getLong(0)).toSet == Set(9001L, 9003L),
      s"changelog rows wrong: ${since1.mkString(",")}")
    assert(bytes.get() < basePayload / 4,
      s"addedBetween read ${bytes.get()} B against a $basePayload B base — it is scanning " +
        "the base instead of just the delta dirs")
    assert(SnapshotTable.addedBetween(spark, path, 2L, Some(3L))
      .collect().map(_.getLong(0)).toSeq == Seq(9003L))
    // same-version range: empty frame, schema intact
    val empty = SnapshotTable.addedBetween(spark, path, 3L)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("doc_id", "text"))
    // a compaction boundary rewrites the file set: the delta is no
    // longer identifiable by directory and the range must refuse
    SnapshotTable.compact(spark, path, textCol = Some("text"), expectedItems = 5000L)
    val e = intercept[IllegalArgumentException](
      SnapshotTable.addedBetween(spark, path, 1L))
    assert(e.getMessage.contains("append-only"), e.getMessage)
    // but ranges on the post-compaction side work again
    SnapshotTable.ingest(spark, Seq((9004L, "delta three")).toDF("doc_id", "text"),
      path, "text", expectedItems = 5000L)
    assert(SnapshotTable.addedBetween(spark, path, 4L)
      .collect().map(_.getLong(0)).toSeq == Seq(9004L))
    // an uncommitted endpoint gets readAt's loud error, not a raw
    // missing-manifest failure (v0 is never committed; versions start at 1)
    val e2 = intercept[IllegalArgumentException](
      SnapshotTable.addedBetween(spark, path, 0L))
    assert(e2.getMessage.contains("not committed"), e2.getMessage)
  }

  // ---- model check over the whole SnapshotTable op surface --------------

  test("model check: random write/ingest/compact/expire/vacuum sequences hold invariants") {
    // Deterministic model-based test: drive the table with random op
    // sequences and after EVERY op compare against a trivial in-memory
    // model — current content is exactly what the semantics promise,
    // retained historical versions replay via readAt, versions ascend.
    // The unit specs pin each op's contract in isolation; this pins the
    // COMPOSITIONS nobody thought to write a bespoke test for (e.g.
    // expire directly after compact after an idempotent re-ingest).
    import spark.implicits._
    import graft.operators.SnapshotTable
    // CI runs two seeds; an extended local fuzz can widen via
    // -Dgraft.model.seeds=1,2,...,40 without touching the spec
    val seeds = sys.props.get("graft.model.seeds")
      .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(17, 23))
    // deeper campaigns: -Dgraft.model.steps=24 doubles the op-sequence
    // length per seed (longer compositions — more retention gaps, more
    // stacked overlays — without touching the CI cost)
    val steps = sys.props.get("graft.model.steps").map(_.trim.toInt).getOrElse(12)
    for (seed <- seeds) {
      val r = new scala.util.Random(seed)
      val path = tmp(s"graft-model-$seed")
      var model = Vector.empty[(Long, String)]   // expected current rows
      var modelAt = Map.empty[Long, Vector[(Long, String)]] // per retained version
      var nextId = 0L
      var constraintOn = false // tracks the drop-mode CHECK constraint (ops 17/18)
      var livePins = Set.empty[String] // live tags (op 19)
      // current LOGICAL name of the content column (op 20 renames it
      // back and forth) — every batch constructor and textCol argument
      // speaks this name, so a live column mapping crosses every other
      // op in the fuzz (ingest/merge/MOR/compact/rollback/time travel)
      var textName = "text"
      // live branch state (ops 23-25): the ref's expected content, its
      // fork version on main, and the column name the branch speaks
      // (frozen at fork time — the branch chain carries the FORK
      // schema, whatever main renames afterwards)
      var branchModel: Option[Vector[(Long, String)]] = None
      var branchForkV = 0L
      var branchTextName = "text"
      def freshDoc(): (Long, String) = { nextId += 1; (nextId, s"doc $seed-$nextId") }
      def record(): Unit =
        modelAt += SnapshotTable.currentVersion(spark, path).get -> model
      val opsRun = scala.collection.mutable.ArrayBuffer.empty[String]
      (0 until steps).foreach { i =>
        val op = if (i == 0) 0 else r.nextInt(26)
        op match {
          case 0 | 1 => // ingest a batch: mix of new docs and dups of existing content
            val batch = (0 until 1 + r.nextInt(3)).map { _ =>
              if (model.nonEmpty && r.nextBoolean()) (nextId + 100000L, model(r.nextInt(model.size))._2)
              else freshDoc()
            }
            opsRun += s"ingest(${batch.size})"
            // statsCols on the FIRST commit seeds the persisted pruning
            // config; every later op inherits it, so the readWhere
            // invariant below exercises stats maintenance across the
            // whole op surface (compact/merge/evolving chains included)
            SnapshotTable.ingest(spark, batch.toDF("doc_id", textName), path, textName, 1000L,
              statsCols = if (i == 0) Seq("doc_id") else Nil)
            val existing = model.map(_._2).toSet
            model ++= batch.filterNot(b => existing(b._2)) // within-batch dups pass through
            record()
          case 2 => // overwrite
            val docs = (0 until 1 + r.nextInt(3)).map(_ => freshDoc()).toVector
            opsRun += s"write(${docs.size})"
            SnapshotTable.write(spark, docs.toDF("doc_id", textName), path)
            model = docs
            record()
          case 3 =>
            // half the compacts take the z-order rewrite path: a pure
            // LAYOUT choice — every invariant below must hold unchanged
            val z = r.nextBoolean()
            opsRun += (if (z) "compact-z" else "compact")
            SnapshotTable.compact(spark, path, textCol = Some(textName),
              expectedItems = 1000L,
              zorderCols = if (z) Seq("doc_id") else Nil)
            record()
          case 4 =>
            val keep = 1 + r.nextInt(2)
            opsRun += s"expire($keep)"
            SnapshotTable.expire(spark, path, keep)
            val retained = SnapshotTable.versions(spark, path).toSet
            modelAt = modelAt.filter { case (v, _) => retained(v) }
          case 5 =>
            opsRun += "vacuum"
            SnapshotTable.vacuum(spark, path, graceMs = 0L)
          case 6 => // keyed copy-on-write merge: updates + deletes + inserts
            // admitted ids are unique (fresh ids ascend; content-dup rows
            // never enter), so the row key IS the model key
            val touched = r.shuffle(model.map(_._1)).take(r.nextInt(3))
            val (delKeys, updKeys) = touched.splitAt(touched.size / 2)
            val inserts =
              (0 until (r.nextInt(2) + (if (touched.isEmpty) 1 else 0))).map(_ => freshDoc())
            val rows = updKeys.map(k => (k, s"upd $seed-$k-$i", false)) ++
              delKeys.map(k => (k, s"del $seed-$k-$i", true)) ++
              inserts.map { case (id, t) => (id, t, false) }
            opsRun += s"merge(u${updKeys.size}/d${delKeys.size}/i${inserts.size})"
            SnapshotTable.merge(spark, rows.toDF("doc_id", textName, "is_deleted"),
              path, "doc_id", deleteCol = Some("is_deleted"),
              textCol = Some(textName), expectedItems = 1000L)
            val gone = touched.toSet
            model = model.filterNot(p => gone(p._1)) ++
              updKeys.map(k => (k, s"upd $seed-$k-$i")) ++ inserts
            record()
          case 8 => // merge-on-read: same logical semantics as case 6,
            // O(delta) physical commit via tombstone overlay. The model
            // is IDENTICAL — that is the whole point — so the read/
            // readWhere/readAt invariants below verify the overlay
            // against the same oracle as the copy-on-write path, and
            // later compact/expire/vacuum ops fuzz its materialization.
            // (Generated content never re-uses a deleted row's text, so
            // the overlay's conservative dedup-universe never diverges
            // from the model's visible-content dedup.)
            val morTouched = r.shuffle(model.map(_._1)).take(r.nextInt(3))
            val (morDel, morUpd) = morTouched.splitAt(morTouched.size / 2)
            val morIns =
              (0 until (r.nextInt(2) + (if (morTouched.isEmpty) 1 else 0))).map(_ => freshDoc())
            val morRows = morUpd.map(k => (k, s"mupd $seed-$k-$i", false)) ++
              morDel.map(k => (k, s"mdel $seed-$k-$i", true)) ++
              morIns.map { case (id, t) => (id, t, false) }
            opsRun += s"mor(u${morUpd.size}/d${morDel.size}/i${morIns.size})"
            SnapshotTable.mergeOnRead(spark, morRows.toDF("doc_id", textName, "is_deleted"),
              path, "doc_id", deleteCol = Some("is_deleted"),
              textCol = Some(textName), expectedItems = 1000L)
            val morGone = morTouched.toSet
            model = model.filterNot(p => morGone(p._1)) ++
              morUpd.map(k => (k, s"mupd $seed-$k-$i")) ++ morIns
            record()
          case 9 => // UPDATE ... SET ... WHERE over a random id range:
            // victims resolve through the pruned scan, SETs see the old
            // row; an empty victim set still commits (tombstone of zero
            // keys) and must change nothing
            val ulo = r.nextInt(40).toLong
            val uhi = ulo + r.nextInt(8)
            opsRun += s"updateWhere($ulo..$uhi)"
            SnapshotTable.updateWhere(spark, path, "doc_id",
              col("doc_id").between(ulo, uhi),
              Map(textName -> concat(col(textName), lit(s" uw$i"))),
              textCol = Some(textName), expectedItems = 1000L)
            model = model.map { case (k, t) =>
              if (k >= ulo && k <= uhi) (k, s"$t uw$i") else (k, t)
            }
            record()
          case 10 => // DELETE ... WHERE over a random id range (may be empty)
            val dlo = r.nextInt(40).toLong
            val dhi = dlo + r.nextInt(8)
            opsRun += s"deleteWhere($dlo..$dhi)"
            SnapshotTable.deleteWhere(spark, path, "doc_id",
              col("doc_id").between(dlo, dhi))
            model = model.filterNot(p => p._1 >= dlo && p._1 <= dhi)
            record()
          case 11 => // RACING ingest: a concurrent append takes our
            // version slot (injected via the commitFault seam)
            // and our commit rebases — re-deduped against the racer's
            // sidecars. The model applies the WINNER's batch first,
            // then ours deduped against the result: content-identical
            // to two sequential ingests, which is the rebase contract.
            // Batches overlap the racer's fresh content half the time,
            // so both re-home paths (pure rename / drop-and-rewrite)
            // fuzz across seeds.
            val yBatch = (0 until 1 + r.nextInt(2)).map(_ => freshDoc())
            val xBatch = (0 until 1 + r.nextInt(2)).map { _ =>
              if (r.nextBoolean()) (nextId + 200000L, yBatch(r.nextInt(yBatch.size))._2)
              else freshDoc()
            }
            opsRun += s"racingIngest(x${xBatch.size}/y${yBatch.size})"
            SnapshotTable.commitFault = _ => {
              SnapshotTable.ingest(spark, yBatch.toDF("doc_id", textName),
                path, textName, 1000L)
              ()
            }
            SnapshotTable.ingest(spark, xBatch.toDF("doc_id", textName),
              path, textName, 1000L)
            val afterY = model ++ {
              val seen = model.map(_._2).toSet
              yBatch.filterNot(b => seen(b._2))
            }
            model = afterY ++ {
              val seen = afterY.map(_._2).toSet
              xBatch.filterNot(b => seen(b._2))
            }
            record()
          case 12 => // RACING compact: a concurrent append takes the
            // version slot (the same commitFault seam) and the
            // compaction rebases — compacted dir + the interleaved
            // delta. The model is "append applied, then a content
            // no-op": identical to sequential ops 0-then-3. When prior
            // mergeOnRead ops left tombstones outstanding, this also
            // fuzzes the rebuilt-bloom-plus-append-sidecars path.
            val rBatch = (0 until 1 + r.nextInt(2)).map(_ => freshDoc())
            opsRun += s"racingCompact(y${rBatch.size})"
            SnapshotTable.commitFault = _ => {
              SnapshotTable.ingest(spark, rBatch.toDF("doc_id", textName),
                path, textName, 1000L)
              ()
            }
            SnapshotTable.compact(spark, path, textCol = Some(textName),
              expectedItems = 1000L)
            model = model ++ {
              val seen = model.map(_._2).toSet
              rBatch.filterNot(b => seen(b._2))
            }
            record()
          case 13 => // rollback to a random RETAINED version we hold a
            // model for: current content becomes exactly that model
            // (no-op when the target IS current); the rolled-over
            // versions stay replayable until expire, and later ops —
            // ingest re-admission, compact, expire refcounting the
            // re-referenced dirs — compose on top across seeds
            val vs0 = SnapshotTable.versions(spark, path).filter(modelAt.contains)
            val tgt = vs0(r.nextInt(vs0.size))
            opsRun += s"rollback($tgt)"
            SnapshotTable.rollback(spark, path, tgt)
            model = modelAt(tgt)
            // rollback restores the target manifest VERBATIM — constraint
            // config AND schema (column names) included — resync both
            // trackers from the table
            val restored = SnapshotTable.readManifestChecked(spark, path,
              SnapshotTable.currentVersion(spark, path).get)
            constraintOn = restored.constraints.nonEmpty
            textName = restored.schema.fieldNames
              .find(n => n == "text" || n == "body").get
            record()
          case 14 => // binpack: a pure layout op — content must be
            // IDENTICAL whether it merged, no-op'd (<2 smalls), or
            // refused an outstanding overlay; record() is idempotent on
            // the no-commit paths
            val threshold = Seq(1L << 10, 1L << 20, Long.MaxValue)(r.nextInt(3))
            opsRun += s"binpack($threshold)"
            try { SnapshotTable.compactSmall(spark, path, smallDirBytes = threshold); () }
            catch { case _: IllegalStateException => () } // MOR overlay outstanding
            record()
          case 15 => // RACING merge-on-read: a concurrent ingest takes
            // the version slot (commitFault seam) and the merge
            // rebases — delta + tombstone re-home at the new version.
            // Serial equivalence is the contract: the model applies the
            // WINNER's append first, then the merge's keyed changes on
            // top (the re-homed tombstone masks the interleaved rows
            // for changed keys exactly as a serial merge would).
            val yMor = (0 until 1 + r.nextInt(2)).map(_ => freshDoc())
            val rmTouched = r.shuffle(model.map(_._1)).take(r.nextInt(3))
            val (rmDel, rmUpd) = rmTouched.splitAt(rmTouched.size / 2)
            val rmIns =
              (0 until (r.nextInt(2) + (if (rmTouched.isEmpty) 1 else 0))).map(_ => freshDoc())
            val rmRows = rmUpd.map(k => (k, s"rmu $seed-$k-$i", false)) ++
              rmDel.map(k => (k, s"rmd $seed-$k-$i", true)) ++
              rmIns.map { case (id, t) => (id, t, false) }
            opsRun += s"racingMor(u${rmUpd.size}/d${rmDel.size}/i${rmIns.size}/y${yMor.size})"
            SnapshotTable.commitFault = _ => {
              SnapshotTable.ingest(spark, yMor.toDF("doc_id", textName),
                path, textName, 1000L)
              ()
            }
            SnapshotTable.mergeOnRead(spark, rmRows.toDF("doc_id", textName, "is_deleted"),
              path, "doc_id", deleteCol = Some("is_deleted"),
              textCol = Some(textName), expectedItems = 1000L)
            val afterYMor = model ++ {
              val seen = model.map(_._2).toSet
              yMor.filterNot(b => seen(b._2))
            }
            val rmGone = rmTouched.toSet
            model = afterYMor.filterNot(p => rmGone(p._1)) ++
              rmUpd.map(k => (k, s"rmu $seed-$k-$i")) ++ rmIns
            record()
          case 16 => // age-based retention: cutoff = a random retained
            // version's own effective instant — keeps exactly the
            // versions at-or-after it (ties by effective ms included),
            // always at least the current one; the model's retained-
            // version map trims like expire's
            val times = SnapshotTable.effectiveCommitTimes(spark, path)
            val (cv, ct) = times(r.nextInt(times.size))
            opsRun += s"expireOlderThan(v$cv)"
            SnapshotTable.expireOlderThan(spark, path, ct)
            val retainedT = SnapshotTable.versions(spark, path).toSet
            assert(retainedT.contains(times.last._1),
              s"seed=$seed step=$i: expireOlderThan dropped the current snapshot")
            modelAt = modelAt.filter { case (v, _) => retainedT(v) }
          case 17 => // toggle a DROP-mode CHECK constraint (metadata
            // commit, content unchanged; record() keeps the version
            // replayable). The gate matches op 18's 'bad '-prefixed
            // rows only — normal generated texts never violate.
            if (!constraintOn) {
              opsRun += "addConstraint"
              SnapshotTable.addConstraint(spark, path, "clean",
                s"$textName NOT LIKE 'bad %'", mode = "drop")
            } else {
              opsRun += "dropConstraint"
              SnapshotTable.dropConstraint(spark, path, "clean")
            }
            constraintOn = !constraintOn
            record()
          case 18 => // gated ingest: a batch carrying one violating row
            // admits it only while the constraint is OFF (when ON, the
            // row leaves the batch pre-staging; the commit still lands).
            // The violating TEXT is unique per step: the fuzz's model
            // tracks visible-content dedup, while a deleted row's
            // content conservatively stays in the table's dedup
            // universe until a rewrite — a REUSED violating text (the
            // original empty-string form) diverges the two exactly when
            // a merge-on-read delete of it precedes a re-admission
            // (found by the 40-seed deep fuzz, seed 8).
            val good = freshDoc()
            val badRow = (nextId + 300000L, s"bad $seed-$i")
            opsRun += s"gatedIngest(on=$constraintOn)"
            SnapshotTable.ingest(spark,
              Seq(good, badRow).toDF("doc_id", textName), path, textName, 1000L)
            val admitted = if (constraintOn) Seq(good) else Seq(good, badRow)
            val existing2 = model.map(_._2).toSet
            model ++= admitted.filterNot(b => existing2(b._2))
            record()
          case 19 => // tag/dropTag: metadata-only pins. A tagged version
            // survives later expire ops as a retained ISLAND, so the
            // generic readAt/readWhere replay below exercises gapped
            // retention; content and the model are untouched.
            if (livePins.isEmpty || r.nextBoolean()) {
              val nm = s"pin$i"
              opsRun += s"tag($nm)"
              SnapshotTable.tag(spark, path, nm)
              livePins += nm
            } else {
              val nm = livePins.toSeq.sorted.apply(r.nextInt(livePins.size))
              opsRun += s"dropTag($nm)"
              SnapshotTable.dropTag(spark, path, nm)
              livePins -= nm
            }
          case 20 => // rename the content column (column mapping): a
            // metadata-only commit every subsequent batch speaks the new
            // name through — fuzzes the mapping against every other op
            // (physical names on disk never change; dedup, stats pruning
            // and time travel must be rename-oblivious). While the CHECK
            // constraint is on, the rename must REFUSE (its SQL names
            // the column) and change nothing.
            val target = if (textName == "text") "body" else "text"
            if (constraintOn) {
              opsRun += s"renameRefused($textName)"
              val before = SnapshotTable.versions(spark, path)
              assertThrows[IllegalArgumentException](
                SnapshotTable.renameColumn(spark, path, textName, target))
              assert(SnapshotTable.versions(spark, path) == before,
                s"seed=$seed step=$i: a refused rename advanced the version log")
            } else {
              opsRun += s"rename($textName→$target)"
              SnapshotTable.renameColumn(spark, path, textName, target)
              textName = target
              record()
            }
          case 21 => // POSITIONAL delete over a random id range: the
            // keyless deletion-vector tier (r15) — for the model it is
            // deleteWhere (rows leave the visible set), physically a
            // (file, ordinal) sidecar composed over whatever overlay /
            // mapping / retention history the seed built. Often a
            // no-op (empty match commits nothing; record() idempotent),
            // and every later op — compact materialization, rollback
            // across the delete, expire refcounting the sidecar,
            // racing ingests carrying the overlay — composes on top.
            val zlo = r.nextInt(40).toLong
            val zhi = zlo + r.nextInt(8)
            opsRun += s"posDelete($zlo..$zhi)"
            SnapshotTable.deleteWherePositional(spark, path,
              col("doc_id").between(zlo, zhi))
            model = model.filterNot(p => p._1 >= zlo && p._1 <= zhi)
            record()
          case 22 => // POSITIONAL update over a random id range (late
            // r15): keyless UPDATE as ONE posdelete+append commit. The
            // rewritten text takes an "upd$i " PREFIX — never 'bad '-
            // prefixed, so the drop-mode constraint cannot gate it and
            // the model mirrors unconditionally; the step index keeps
            // the new text unique, so the visible-content dedup model
            // stays exact (the masked OLD text conservatively remains
            // in the engine's universe, which only re-ingests of
            // VISIBLE model content ever probe).
            val ulo = r.nextInt(40).toLong
            val uhi = ulo + r.nextInt(8)
            opsRun += s"posUpdate($ulo..$uhi)"
            SnapshotTable.updateWherePositional(spark, path,
              col("doc_id").between(ulo, uhi),
              Map(textName -> concat(lit(s"upd$i "), col(textName))))
            model = model.map(p =>
              if (p._1 >= ulo && p._1 <= uhi) (p._1, s"upd$i ${p._2}") else p)
            record()
          case 23 => // branch create / staged append: fork the "fuzz"
            // ref from the current head (its content snapshot = the
            // model), or stage a fresh batch onto the live ref —
            // appendBranch is a plain append (no dedup), so the branch
            // model grows unconditionally while MAIN must not move
            if (branchModel.isEmpty) {
              opsRun += "createBranch"
              branchForkV = SnapshotTable.createBranch(spark, path, "fuzz")
              branchModel = Some(model)
              branchTextName = textName
            } else {
              val batch = (0 until 1 + r.nextInt(2)).map(_ => freshDoc())
              opsRun += s"appendBranch(${batch.size})"
              val mainBefore = SnapshotTable.currentVersion(spark, path)
              SnapshotTable.appendBranch(spark,
                batch.toDF("doc_id", branchTextName), path, "fuzz")
              assert(SnapshotTable.currentVersion(spark, path) == mainBefore,
                s"seed=$seed step=$i: a branch append moved MAIN")
              branchModel = branchModel.map(_ ++ batch)
            }
          case 24 => // fast-forward attempt: publishes exactly when main
            // never advanced past the fork (then main BECOMES the branch
            // content and the ref resets); any main commit since the
            // fork must refuse loudly and change nothing
            branchModel match {
              case None => opsRun += "ffSkip"
              case Some(bm) =>
                val mainV = SnapshotTable.currentVersion(spark, path).get
                if (mainV == branchForkV) {
                  opsRun += "fastForward"
                  val pub = SnapshotTable.fastForward(spark, path, "fuzz")
                  model = bm
                  branchForkV = pub
                  record()
                } else {
                  // main advanced past the fork: refuses when something
                  // is staged; an EMPTY branch fast-forward is a no-op
                  // at any head (nothing to publish, nothing to lose)
                  val (b, h) = SnapshotTable.branches(spark, path)("fuzz")
                  if (b == h) {
                    opsRun += "ffNoop"
                    assert(SnapshotTable.fastForward(spark, path, "fuzz") == mainV,
                      s"seed=$seed step=$i: empty-branch ff must no-op at the head")
                  } else {
                    opsRun += "ffDiverged"
                    assertThrows[IllegalStateException](
                      SnapshotTable.fastForward(spark, path, "fuzz"))
                  }
                }
            }
          case 25 => // drop the ref: its staged dirs become vacuum food;
            // main and the model are untouched
            if (branchModel.isDefined) {
              opsRun += "dropBranch"
              SnapshotTable.dropBranch(spark, path, "fuzz")
              branchModel = None
            } else opsRun += "dropSkip"
          case 7 => // drifted batch: rejected loudly, no commit, no state change
            opsRun += "drift-reject"
            val bad = Seq((nextId + 500000L, s"drift $seed-$i", 1.0))
              .toDF("doc_id", textName, "extra")
            val before = SnapshotTable.versions(spark, path)
            assertThrows[IllegalArgumentException](
              SnapshotTable.ingest(spark, bad, path, textName, 1000L))
            assert(SnapshotTable.versions(spark, path) == before,
              s"seed=$seed step=$i: a rejected drifted batch advanced the version log")
        }
        val ctx = s"seed=$seed step=$i ops=${opsRun.mkString("→")}"
        val got = SnapshotTable.read(spark, path).collect()
          .map(row => (row.getLong(0), row.getString(1))).toSet
        assert(got == model.toSet, s"$ctx: current read diverged from model")
        // a live branch replays ITS model after every op — main-side
        // compact/expire/vacuum/rollback/rename must never leak into
        // (or reclaim from under) the ref
        branchModel.foreach { bm =>
          val bGot = SnapshotTable.readBranch(spark, path, "fuzz").collect()
            .map(row => (row.getLong(0), row.getString(1))).toSet
          assert(bGot == bm.toSet, s"$ctx: branch read diverged from its model")
        }
        // pruned read replays the model's filter EXACTLY — stats
        // sidecars must stay correct through every compact/merge/
        // vacuum/expire composition or pruning silently loses rows
        val lo = r.nextInt(40).toLong
        val hi = lo + r.nextInt(10)
        val pruned = SnapshotTable.readWhere(spark, path,
            col("doc_id").between(lo, hi))
          .collect().map(row => (row.getLong(0), row.getString(1))).toSet
        assert(pruned == model.filter(p => p._1 >= lo && p._1 <= hi).toSet,
          s"$ctx: readWhere([$lo,$hi]) diverged from the model filter")
        val vs = SnapshotTable.versions(spark, path)
        assert(vs == vs.sorted && vs.distinct == vs, s"$ctx: version log not ascending")
        // the history clock and time travel agree after EVERY op: each
        // retained version's recorded instant resolves back to a version
        // holding the same content (equal-millisecond neighbors resolve
        // to the newest of the tie — content must still match; sampled
        // to bound fuzz cost)
        if (r.nextInt(3) == 0) {
          SnapshotTable.history(spark, path).select("version", "commit_ts")
            .collect().foreach { hr =>
              val rv = SnapshotTable.versionAtTimestamp(spark, path,
                hr.getTimestamp(1).getTime)
              assert(rv >= hr.getLong(0),
                s"$ctx: versionAtTimestamp(history ts of v${hr.getLong(0)}) " +
                  s"resolved BACKWARD to $rv")
            }
        }
        // the CHANGE FEED replays the table exactly: folding every
        // commit's insert/delete events from the baseline reconstructs
        // the current read under EVERY op mix — appends, MOR upserts/
        // deletes, positional deletes/updates, rewrites (full diffs),
        // rollbacks, renames (feed serves range-end names), expires.
        // Only checkable while retention is CONTIGUOUS from version 1
        // (pre-images need every v-1 manifest; a tag-pinned island left
        // by expire gaps the chain and the feed fails loudly — correct,
        // but not this invariant's subject); sampled to bound fuzz cost.
        if (vs == (1L to vs.last) && r.nextInt(4) == 0) {
          val folded = SnapshotTable.changes(spark, path, 1L)
            .groupBy(col("doc_id"), col(textName))
            // update events fold like their delete/insert halves
            .agg(sum(when(col("_change_type").isin("insert", "update_postimage"), 1)
              .otherwise(-1)).as("alive"))
            .filter(col("alive") > 0)
            .collect().map(row => (row.getLong(0), row.getString(1))).toSet
          assert(folded == model.toSet,
            s"$ctx: change-feed fold diverged from the model")
        }
        // historical versions we still hold a model for replay exactly
        modelAt.filter { case (v, _) => vs.contains(v) }.foreach { case (v, m) =>
          val at = SnapshotTable.readAt(spark, path, v).collect()
            .map(row => (row.getLong(0), row.getString(1))).toSet
          assert(at == m.toSet, s"$ctx: readAt($v) diverged from the recorded model")
          // pruned TIME-TRAVEL read: stats + the version's own tombstone
          // overlay must compose at any pinned version, not just current
          // (sampled to bound fuzz cost)
          if (r.nextInt(4) == 0) {
            val plo = r.nextInt(40).toLong
            val phi = plo + r.nextInt(10)
            val pAt = SnapshotTable.readWhere(spark, path,
                col("doc_id").between(plo, phi), version = Some(v))
              .collect().map(row => (row.getLong(0), row.getString(1))).toSet
            assert(pAt == m.filter(p => p._1 >= plo && p._1 <= phi).toSet,
              s"$ctx: readWhere([$plo,$phi], v=$v) diverged from the recorded model")
          }
        }
      }
    }
  }

  // ---- the d5/d18 blockBits escape, measured ----------------------------

  test("blocked pair tier: pair work grows linearly when blockBits scales with n") {
    // The 100 TB claim for density clustering rests on blockBits being
    // the knob that rises with corpus size so PER-BUCKET occupancy
    // stays bounded — then the banded join's pair work Σ s·(s−1)/2 is
    // (buckets ∝ n) × (bounded s²), i.e. LINEAR in n. Measure it: 500
    // embeddings at 4 bits vs 2000 at 6 bits — same expected occupancy
    // (~31/bucket/table). Fixed bits would multiply pair work ×16 for
    // ×4 rows (quadratic); the scaled knob must hold it to ~×4
    // (measured ×4.06). Also pins bucket balance: a skew-collapsed
    // table (one bucket holding everything) would pass a total-pairs
    // bound at small n while degenerating to n² at scale.
    import graft.operators.SimilaritySearch.lshBucket
    def pairWork(dir: String, bits: Int): (Long, Long, Double) = {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val per = (0 until 2).map { t =>
        val r = emb.select(lshBucket(col("embedding"), 64, bits, planeOffset = t * bits).as("b"))
          .groupBy("b").agg(count(lit(1)).as("s"))
          .agg(sum((col("s") * (col("s") - 1) / lit(2)).cast("long")).as("pairs"),
            max(col("s")).as("mx"), avg(col("s")).as("mean"))
          .collect()(0)
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      }
      (per.map(_._1).sum, per.map(_._2).max, per.map(_._3).max)
    }
    val (pSmall, mxSmall, meanSmall) = pairWork("/root/testdata/sf0.001", 4)
    val (pBig, mxBig, meanBig) = pairWork("/root/testdata/sf0.1", 6)
    assert(pBig.toDouble / pSmall <= 6.0,
      s"pair work grew ×${pBig.toDouble / pSmall} for ×4 rows ($pSmall → $pBig), " +
        "well past linear: the blockBits knob is not holding per-bucket occupancy")
    assert(mxSmall <= 8 * meanSmall && mxBig <= 8 * meanBig,
      s"bucket skew: max/mean ${mxSmall / meanSmall} at n=500, ${mxBig / meanBig} at n=2000")
    // the operator consumes exactly these buckets: the blocked path at
    // the larger scale must run (keyed join, no cartesian) and respect
    // the cosine floor
    val pairs = graft.operators.Dedup.embeddingCosinePairs(
      spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet"),
      "vec_id", "embedding", minCosine = 0.9, blockBits = 6)
    val plan = pairs.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"blocked tier planned a pairwise join:\n${plan.take(1200)}")
    val got = pairs.collect()
    assert(got.forall(_.getAs[Double]("cos") >= 0.9))
    assert(got.forall(r => r.getLong(0) < r.getLong(1)))
  }
}
