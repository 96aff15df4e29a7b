package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming variants of the batch time-series operators
  * (SURVEY.md §2.D): the same columnar logic, driven incrementally with
  * watermarks and state. Batch/stream parity is pinned by
  * StreamingSpec — identical results on the same inputs.
  */
object EventStream {

  /** Windowed counts/sums per event type: tumbling window + watermark so
    * state is bounded and late data beyond the watermark is dropped —
    * the streaming twin of `TimeSeries.timeBucket` + groupBy.
    */
  def windowedAgg(events: DataFrame, windowDur: String, watermarkDur: String): DataFrame =
    events
      .withWatermark("ts", watermarkDur)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))

  case class SessionState(lastTs: Long, sessions: Long, events: Long)
  case class SessionUpdate(user_id: Long, sessions: Long, events: Long)

  /** Custom keyed state: per-user gap-based session counting with
    * `mapGroupsWithState` — the streaming twin of `TimeSeries.sessionize`
    * (same integer-microsecond gap rule). ProcessingTimeTimeout keeps the
    * example simple; swap to EventTimeTimeout + watermark for true
    * out-of-order tolerance in production.
    */
  def sessionCounts(events: Dataset[(Long, Timestamp)], gapSeconds: Long): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Timestamp)], state: GroupState[SessionState]) =>
          val sorted = rows.map(_._2.getTime * 1000L).toSeq.sorted // micros-ish (ms precision)
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { ts =>
            val newSession = st.lastTs == Long.MinValue || ts - st.lastTs > gapSeconds * 1000000L
            st = SessionState(ts, st.sessions + (if (newSession) 1 else 0), st.events + 1)
          }
          state.update(st)
          SessionUpdate(user, st.sessions, st.events)
      }
  }

  /** Streaming exact dedup: state-bounded via watermark — duplicates
    * arriving within the watermark horizon are dropped, state for expired
    * keys is evicted (the streaming twin of `Dedup.exact`).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], watermarkDur: String): DataFrame =
    events.withWatermark("ts", watermarkDur)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-stream interval join: right rows within [left.ts, left.ts +
    * `windowSeconds`] per key. Watermarks on BOTH sides bound the join
    * state; Spark evicts buffered rows once they can no longer match.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   key: String, windowSeconds: Int, watermarkDur: String): DataFrame = {
    val l = left.withWatermark("ts", watermarkDur)
      .select(col(key).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_id"))
    val r = right.withWatermark("ts", watermarkDur)
      .select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
    l.join(r, expr(
      s"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + interval $windowSeconds seconds"))
  }

  /** Stream-static enrichment: join the stream against a static dimension
    * table. The static side plans as a broadcast hash join per
    * micro-batch — no stream state at all, the streaming twin of the
    * batch dim-chain joins (and re-read each batch, so slowly-changing
    * dims pick up updates).
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), key)

  case class OpenSession(startTs: Long, lastTs: Long, n: Long)
  case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Completed-session emission with `flatMapGroupsWithState`: a session
    * CLOSES when a later event on the same key arrives more than
    * `gapSeconds` after it — the closed record is emitted downstream
    * (0..n outputs per group per batch — the flatMap, not map, contract)
    * while the still-open session stays in state.
    */
  def completedSessions(events: Dataset[(Long, Timestamp)],
                        gapSeconds: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Timestamp)], state: GroupState[OpenSession]) =>
          val gapUs = gapSeconds * 1000000L
          val sorted = rows.map(_._2.getTime * 1000L).toSeq.sorted
          val closed = Seq.newBuilder[ClosedSession]
          var open = state.getOption
          sorted.foreach { t =>
            open match {
              // Cross-batch late data (t < lastTs) is DROPPED, not merged:
              // a negative delta passes `<= gap` and would move lastTs
              // BACKWARD, corrupting state into end < start sessions.
              // (Within a batch `sorted` already orders events; only
              // cross-batch stragglers hit this. True out-of-order
              // tolerance needs EventTimeTimeout + a watermark.)
              case Some(s) if t < s.lastTs => ()
              case Some(s) if t - s.lastTs <= gapUs =>
                open = Some(OpenSession(s.startTs, t, s.n + 1))
              case Some(s) =>
                closed += ClosedSession(user, s.startTs, s.lastTs, s.n)
                open = Some(OpenSession(t, t, 1L))
              case None =>
                open = Some(OpenSession(t, t, 1L))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  /** Streaming recall monitor — the online half of
    * [[graft.operators.SimilaritySearch.recallAtK]]: approximate result
    * rows (qid, cid, rnk) arrive as a stream, the exact top-k ground
    * truth is a static table, and each micro-batch updates per-query
    * recall. The static side pre-carries its per-query size so the plan
    * is one stream-static inner join (hits only) + one streaming
    * aggregation — no join-after-aggregation, which streaming forbids.
    * Queries with zero hits so far simply haven't emitted yet; complete
    * mode holds the current recall of every query with ≥1 hit.
    */
  def recallMonitor(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = exact.filter(col("rnk") <= k)
      .select(col("qid").as("eqid"), col("cid").as("ecid"))
      .withColumn("n_exact", count(lit(1)).over(Window.partitionBy("eqid")))
    approx.filter(col("rnk") <= k)
      .join(e, col("qid") === col("eqid") && col("cid") === col("ecid"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hit"), max(col("n_exact")).as("n_exact"))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 4).as("recall"))
  }

  /** Convenience: wire a streaming DataFrame to an in-memory sink for
    * tests/demos; production sinks are parquet/kafka via the same plan.
    */
  def toMemorySink(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** In-line retention policy for [[ingestSink]]. Every `everyBatches`
    * batches the sink expires to `keep` manifests (or, with
    * `retainForMs` set, to the versions younger than that age — the
    * time-travel-SLA form), and vacuums orphans
    * older than `vacuumGraceMs` (both metadata-cost), and compacts the
    * snapshot chain — an O(table) rewrite — only when the accumulated
    * delta dirs hold ≥ `compactWhenDeltaBytes` of new data, OR
    * ≥ `maxTombstones` merge-on-read tombstones are outstanding (each
    * one is an anti-join build on every read, and [[upsertSink]] adds
    * one per batch; compaction folds them back into the files). A
    * chain that merely grew PAST `maxChainDirs` directories without
    * hitting either rewrite trigger — the idle stream whose near-empty
    * per-batch dirs bloat the manifest — is BINPACKED instead
    * (`compactSmall` at `targetFileBytes`: O(small tail), the big dirs
    * are never read), falling back to the full rewrite only when an
    * overlay is outstanding or the merge cannot shorten the chain
    * below the bound. Compaction runs at the sink's own expectedItems/fpp so
    * the carried bloom stays merge-compatible. Parameters are validated
    * here so a bad policy fails at construction, not batches into the
    * stream.
    *
    * SINGLE-WRITER ASSUMPTION for `vacuumGraceMs`: vacuum's only
    * protection for a concurrent committer's staged-but-uncommitted
    * artifacts (delta dir, bloom, .tmp manifest) is the grace window. A
    * value below the worst-case staging duration — and 0 in particular
    * — is safe ONLY when this sink is the table's sole writer, which
    * foreachBatch guarantees for the sink's OWN ingests (maintenance
    * runs after the batch commit, same thread) but nothing enforces
    * against an external process. With out-of-band writers, keep the
    * grace comfortably above their staging time (default 24 h).
    * COMMITS, by contrast, need no single-writer assumption: both this
    * sink's ingests and its compactions rebase onto a concurrent
    * append's winning commit instead of failing (see
    * `SnapshotTable.commitLoop`) — only
    * vacuum's grace window carries the caveat above.
    */
  final case class Maintenance(everyBatches: Int = 100, keep: Int = 2,
                               targetFileBytes: Long = 128L * 1024 * 1024,
                               vacuumGraceMs: Long = 24L * 3600 * 1000,
                               compactWhenDeltaBytes: Long = 128L * 1024 * 1024,
                               maxChainDirs: Int = 64,
                               maxTombstones: Int = 16,
                               retainForMs: Option[Long] = None) {
    require(everyBatches >= 1, s"everyBatches must be >= 1, got $everyBatches")
    require(keep >= 1, s"keep must be >= 1, got $keep")
    require(maxChainDirs >= 2, s"maxChainDirs must be >= 2, got $maxChainDirs")
    require(vacuumGraceMs >= 0, s"vacuumGraceMs must be >= 0, got $vacuumGraceMs")
    require(maxTombstones >= 1, s"maxTombstones must be >= 1, got $maxTombstones")
    // retainForMs: AGE-based retention instead of count-based — "every
    // reader and time-travel query gets N hours" is an SLA a per-second
    // micro-batch count cannot express (keep=2 at 1 Hz is a 2-second
    // window). When set, ticks run expireOlderThan(now - retainForMs);
    // `keep` is ignored. Snapshot TAGS survive either policy.
    require(retainForMs.forall(_ >= 0),
      s"retainForMs must be >= 0, got ${retainForMs.get}")
  }

  /** Streaming twin of [[graft.operators.SnapshotTable.ingest]]: each
    * micro-batch commits "batch minus ALL prior content" as the table's
    * next snapshot via foreachBatch — the continuous-crawl form of
    * incremental content dedup. Cross-batch state is NOT streaming
    * state: it is the table's own persisted bloom sidecar + manifest
    * chain, so dedup coverage spans every previous batch AND every
    * previous run of the query (restarts resume against the committed
    * table, no state-store rebuild), and state size is the bloom's
    * fixed bytes, not an ever-growing keyed store. foreachBatch is the
    * right tool because a snapshot commit is a transactional SINK
    * operation (write delta dir + merge bloom + atomic manifest
    * rename), not a row transform; an empty delta still commits, so
    * the version log records every batch (audit trail + restart
    * idempotence: a replayed batch admits nothing).
    *
    * Operational note for high-frequency micro-batches: EVERY commit —
    * including an empty one — writes a full merged bloom sidecar
    * (~1.2 MB at the default expectedItems/fpp) under `_versions/`, so
    * sidecar storage grows linearly with commit count, the manifest's
    * dir list grows by one entry per batch, and data-file counts grow
    * with every non-empty delta. Pass `maintenance` to bound all three
    * in-line (see [[Maintenance]]). Table CHECK constraints gate every
    * batch through the ingest: a `fail`-mode violation FAILS THE QUERY
    * (a poison batch stops the stream loudly); a continuous crawl that
    * must survive malformed documents should add its expectations with
    * mode `drop`, which excludes violating rows per batch instead. Maintenance runs AFTER the batch's
    * commit inside the same foreachBatch invocation, so it never races
    * this query's own ingests; a maintenance failure fails the batch
    * (and the query) loudly rather than silently skipping retention
    * forever.
    */
  def ingestSink(incoming: DataFrame, path: String, textCol: String,
                 expectedItems: Long = 1000000L,
                 fpp: Double = 0.01,
                 checkpoint: Option[String] = None,
                 maintenance: Option[Maintenance] = None,
                 statsCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = incoming.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.SnapshotTable
        // statsCols seeds the table's persisted stats config on the
        // first commit; later batches inherit it from the manifest
        // (passing it every batch is a no-op override of the same list)
        SnapshotTable.ingest(
          batch.sparkSession, batch, path, textCol, expectedItems, fpp,
          statsCols = statsCols)
        maintenance.foreach { m =>
          if (batchId > 0 && batchId % m.everyBatches == 0)
            runMaintenance(batch.sparkSession, path, m, Some(textCol),
              expectedItems, fpp)
        }
        ()
      }
    // With a checkpoint the query survives process restarts: Spark
    // replays any batch whose offsets hit the WAL but whose commit
    // marker never landed (foreachBatch is at-least-once), and the
    // replayed ingest admits nothing because the COMMITTED TABLE — not
    // a state store — is what already contains the batch's content.
    // That is the exactly-once argument: idempotent sink, not
    // exactly-once delivery.
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** [[ingestSink]] with the NEAR-dup admission gate in front — each
    * micro-batch lands as one
    * [[graft.operators.SnapshotTable.ingestFuzzy]] commit: rows whose
    * estimated Jaccard against content ALREADY COMMITTED reaches `tau`
    * drop at the signature gate (band-join against the `_minhash/`
    * sidecars — ~260 B/doc metadata, never history payloads), exact
    * dups drop at ingest's bloom+hash gate, survivors commit. The
    * continuous-crawl dedup shape at 100 TB: per tick the work is
    * O(batch + signature metadata), regardless of table size.
    *
    * Restart semantics: the persisted signature sidecars ARE the
    * restart-safe state. foreachBatch is at-least-once; a redelivered
    * batch's rows are by then near-dups (estimated Jaccard 1.0 ≥ any
    * tau ≤ 1) or exact dups of committed content, so the replay admits
    * nothing — the same idempotent-sink argument as [[ingestSink]],
    * with the committed table + sidecars in place of a state store.
    * (Rows too short to shingle fall through the fuzzy gate by design
    * and are caught by the exact gate on replay.) Single-writer per
    * table, like every sink here: the fuzzy tier's race window is
    * documented on ingestFuzzy.
    */
  def fuzzySink(incoming: DataFrame, path: String, idCol: String,
                textCol: String, tau: Double = 0.5, k: Int = 32,
                bands: Int = 8, shingleLen: Int = 3,
                expectedItems: Long = 1000000L,
                fpp: Double = 0.01,
                checkpoint: Option[String] = None,
                maintenance: Option[Maintenance] = None,
                statsCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = incoming.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.SnapshotTable
        SnapshotTable.ingestFuzzy(
          batch.sparkSession, batch, path, idCol, textCol, tau, k, bands,
          shingleLen, expectedItems, fpp,
          statsCols = statsCols)
        maintenance.foreach { m =>
          if (batchId > 0 && batchId % m.everyBatches == 0)
            runMaintenance(batch.sparkSession, path, m, Some(textCol),
              expectedItems, fpp)
        }
        ()
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Streaming CDC APPLY — the third leg of the streaming table story
    * (ingestSink appends, changelogSink reads commits, upsertSink
    * applies changes): each micro-batch of keyed changes — upserts plus
    * optional `deleteCol` deletes, `orderCol` latest-wins inside the
    * batch — lands as one [[graft.operators.SnapshotTable.mergeOnRead]]
    * commit, i.e. O(batch) physical work per tick regardless of table
    * size. This is the canonical "apply a CDC feed to a lakehouse
    * table" shape (Kafka upsert stream → Delta/Iceberg MERGE), built on
    * the tombstone overlay instead of a per-batch table rewrite.
    *
    * Restart semantics: foreachBatch is at-least-once, and a replayed
    * batch re-applies the SAME winning rows — the new tombstone masks
    * the previous application's delta and the re-written rows carry
    * identical content, so the logical table is unchanged (idempotent
    * apply; the version log keeps both commits as an audit trail).
    * `orderCol` should be a source sequence (commit LSN, event time)
    * so within-batch winners are replay-deterministic.
    *
    * `maintenance` matters MORE here than for ingestSink: every batch
    * adds a tombstone, and every outstanding tombstone is an anti-join
    * build on every read — [[Maintenance.maxTombstones]] bounds the
    * overlay by folding it into the files at compaction (which also
    * rebuilds bloom/hash sidecars so deleted content leaves the dedup
    * universe). The same single-writer caveats apply.
    *
    * An ABSENT table bootstraps from the first batch: an empty v1
    * baseline is committed with the batch's payload schema (control
    * columns stripped), then every batch — including the first — goes
    * through the same mergeOnRead path.
    */
  def upsertSink(changes: DataFrame, path: String, keyCol: String,
                 deleteCol: Option[String] = None,
                 orderCol: Option[String] = None,
                 textCol: Option[String] = None,
                 expectedItems: Long = 1000000L,
                 fpp: Double = 0.01,
                 checkpoint: Option[String] = None,
                 maintenance: Option[Maintenance] = None,
                 statsCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = changes.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.SnapshotTable
        if (SnapshotTable.currentVersion(batch.sparkSession, path).isEmpty) {
          val ctrl = (deleteCol.toSeq ++ orderCol.toSeq).toSet
          val payload = batch.select(batch.columns.filterNot(ctrl)
            .map(org.apache.spark.sql.functions.col(_)).toSeq: _*)
          SnapshotTable.write(batch.sparkSession, payload.limit(0), path,
            statsCols = statsCols)
          ()
        }
        SnapshotTable.mergeOnRead(batch.sparkSession, batch, path, keyCol,
          deleteCol = deleteCol, orderCol = orderCol, textCol = textCol,
          statsCols = statsCols, expectedItems = expectedItems, fpp = fpp)
        maintenance.foreach { m =>
          if (batchId > 0 && batchId % m.everyBatches == 0)
            runMaintenance(batch.sparkSession, path, m, textCol,
              expectedItems, fpp)
        }
        ()
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The in-line maintenance pass both table sinks share. Compaction —
    * the only O(table) step — is gated on the chain having accumulated
    * enough delta bytes, enough manifest dirs, or enough merge-on-read
    * tombstones to be worth a rewrite (the tombstone gate matters
    * independently: each outstanding overlay is an anti-join build on
    * every read, and a pure-delete merge grows it with ZERO delta
    * bytes). Expire + vacuum are metadata-cost and always run. ONE
    * implementation on purpose: a policy change must not land in one
    * sink and silently miss the other.
    */
  private def runMaintenance(spark: org.apache.spark.sql.SparkSession, path: String,
                             m: Maintenance, textCol: Option[String],
                             expectedItems: Long, fpp: Double): Unit = {
    import graft.operators.SnapshotTable
    val (nDirs, deltaBytes, nTombstones) = SnapshotTable.chainInfo(spark, path)
    if (deltaBytes >= m.compactWhenDeltaBytes || nTombstones >= m.maxTombstones) {
      // real data volume to amortize, or an outstanding overlay to
      // materialize: the full O(table) rewrite is the right tool
      SnapshotTable.compact(spark, path, m.targetFileBytes,
        textCol = textCol, expectedItems = expectedItems, fpp = fpp)
      ()
    } else if (nDirs >= m.maxChainDirs) {
      // chain-length-only trigger: the problem is manifest bloat from
      // many small per-batch dirs, not data volume — BINPACK the small
      // tail at O(small tail) instead of rewriting the table every
      // time an idle stream's near-empty commits pile up. Falls back
      // to the full rewrite when an overlay is outstanding (binpack
      // refuses it) or when the merge cannot shorten the chain below
      // the bound (dirs genuinely at/above target size).
      val merged = nTombstones == 0 && {
        val st = SnapshotTable.compactSmall(spark, path,
          smallDirBytes = m.targetFileBytes, targetFileBytes = m.targetFileBytes)
        st.committed && SnapshotTable.chainInfo(spark, path)._1 < m.maxChainDirs
      }
      if (!merged) {
        SnapshotTable.compact(spark, path, m.targetFileBytes,
          textCol = textCol, expectedItems = expectedItems, fpp = fpp)
        ()
      }
    }
    m.retainForMs match {
      case Some(ms) =>
        SnapshotTable.expireOlderThan(spark, path, System.currentTimeMillis() - ms)
      case None => SnapshotTable.expire(spark, path, m.keep)
    }
    SnapshotTable.vacuum(spark, path, m.vacuumGraceMs)
    ()
  }
}
