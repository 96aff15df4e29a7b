package graft.sources.v2

import graft.operators.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util

/** Streaming CDC over a [[SnapshotTable]]'s version log: a DataSource V2
  * micro-batch source whose OFFSET IS THE VERSION NUMBER. Each committed
  * version emits exactly one row — `(version, rewrite, format,
  * added_dirs, added_tombstones)` — where `added_dirs` are the full
  * paths of the directories that version added over its parent (the
  * O(delta) payload [[SnapshotTable.addedBetween]] reads in batch) and
  * `added_tombstones` the merge-on-read key sidecars it added (the
  * DELETE/UPDATE half of a CDC event; empty for pure appends). Offsets live in the
  * query's checkpoint like any Spark source, so a restart resumes at
  * the last committed version with no replay and no gap — the version
  * log itself is the write-ahead log, the checkpoint just remembers the
  * cursor.
  *
  * The source emits METADATA rows, not data rows: a commit's delta can
  * be arbitrarily large, and funneling it through a single-row-source
  * partition would serialize what is naturally a parallel scan. The
  * consumer loads `added_dirs` with a normal (fully parallel) batch
  * read per micro-batch — [[graft.streaming.SnapshotChangelog]] wires
  * exactly that via foreachBatch.
  *
  * Rewrite commits (compact/write/merge) replace files instead of
  * adding them, so a by-directory delta does not exist: the row carries
  * `rewrite = true` and the NEW snapshot's full dir list, and the
  * consumer decides (a compaction is a content no-op and safely
  * skippable; a merge is not). Versions expired while the stream was
  * down fail the query loudly with the retained range — a silent skip
  * would be a data-loss hole, exactly like a Kafka stream falling off
  * the retention edge.
  *
  * `startVersion` option: `latest` (default — only commits after stream
  * start), `earliest` (replay every retained commit), or a number N
  * (emit versions > N).
  *
  * `startTimestamp` option (mutually exclusive with `startVersion` —
  * the Delta CDF `startingTimestamp` contract): epoch millis or an
  * ISO-8601 instant; the stream delivers every commit whose effective
  * instant (the manifests' monotonicized `ts:` clock) is at or after
  * it. An instant at or before a TRIMMED log's retained left edge
  * fails loudly — the changelog since then is incomplete (see
  * [[SnapshotLogStream.initialOffset]]).
  *
  * `maxVersionsPerBatch` option (admission control — the Kafka
  * `maxOffsetsPerTrigger` / Delta `maxFilesPerTrigger` analog): cap how
  * many commits one micro-batch may span. Without it, an `earliest`
  * backfill of a long-lived table plans EVERY retained version into the
  * first batch — thousands of manifest reads and one giant delta load
  * where a 100 TB consumer needs bounded, checkpointed progress.
  * Throttled batches commit their cursor after each slice, so a restart
  * mid-backfill resumes at the slice boundary instead of version 0.
  *
  * `Trigger.AvailableNow` is supported: the head version is fenced at
  * trigger preparation, the backlog up to the fence drains in
  * `maxVersionsPerBatch`-capped slices, and the query stops — the
  * scheduled-batch form of the consumer ("catch up on last night's
  * commits, then exit"), with commits landing mid-drain left for the
  * next run's checkpointed cursor.
  */
class SnapshotLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = SnapshotLogSource.Format
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotLogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        s"${SnapshotLogSource.Format} needs the table path: .load(<snapshot table path>)"))
    val maxPerBatch = Option(properties.get("maxVersionsPerBatch")).map { s =>
      val n = scala.util.Try(s.trim.toLong).getOrElse(
        throw new IllegalArgumentException(
          s"maxVersionsPerBatch must be a positive integer; got '$s'"))
      require(n > 0, s"maxVersionsPerBatch must be a positive integer; got $n")
      n
    }
    val startVersion = Option(properties.get("startVersion"))
    val startTs = Option(properties.get("startTimestamp")).map { s =>
      val t = s.trim
      scala.util.Try(t.toLong).orElse(
        scala.util.Try(java.time.Instant.parse(t).toEpochMilli)).getOrElse(
        throw new IllegalArgumentException(
          s"startTimestamp must be epoch millis or an ISO-8601 instant; got '$s'"))
    }
    if (startVersion.nonEmpty && startTs.nonEmpty)
      throw new IllegalArgumentException(
        "startVersion and startTimestamp are mutually exclusive; set one")
    new SnapshotLogTable(path, startVersion, maxPerBatch, startTs)
  }
}

object SnapshotLogSource {
  val Format = "graft-snapshot-log"
  val schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("rewrite", BooleanType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("added_dirs", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("added_tombstones", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("kind", StringType, nullable = false)))
}

class SnapshotLogTable(path: String, startVersion: Option[String],
                       maxVersionsPerBatch: Option[Long] = None,
                       startTimestamp: Option[Long] = None)
    extends Table with SupportsRead {
  override def name(): String = s"${SnapshotLogSource.Format}($path)"
  override def schema(): StructType = SnapshotLogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = SnapshotLogSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new SnapshotLogStream(path, startVersion, maxVersionsPerBatch, startTimestamp)
        override def description(): String = name()
      }
    }
}

/** The version cursor. Comparable as a plain long; serialized as its
  * decimal string in the checkpoint's offset log.
  */
case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

class SnapshotLogStream(path: String, startVersion: Option[String],
                        maxVersionsPerBatch: Option[Long] = None,
                        startTimestamp: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  /** `Trigger.AvailableNow` fence: the head version snapshotted when
    * the trigger prepared. The engine keeps firing micro-batches (each
    * still capped by `maxVersionsPerBatch`) until the cursor reaches
    * this fence, then stops the query — "drain the backlog in bounded
    * slices, then exit", the batch-job form of the changelog consumer.
    * Commits landing AFTER prepare are deliberately out of scope for
    * this run; the next run's checkpointed cursor picks them up.
    */
  @volatile private var availableNowFence: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowFence = Some(SnapshotTable.currentVersion(spark, path).getOrElse(0L))

  /** Where the stream starts when the checkpoint has no offset yet.
    * Resolved once per query incarnation; afterwards the checkpoint's
    * offset wins (Spark never calls initialOffset again).
    *
    * `startTimestamp` (the Delta CDF `startingTimestamp` contract:
    * "changes committed at or after this instant") resolves against the
    * same monotonicized clock as [[SnapshotTable.versionAtTimestamp]]:
    * the cursor lands just before the FIRST retained commit whose
    * effective instant is >= the given one, so that commit is the first
    * delivered; an instant past the head starts at the head (future
    * commits only). An instant at or before the retained left edge of a
    * TRIMMED log fails loudly — commits between it and the edge may
    * have expired, and silently starting at the edge would present a
    * gap as a complete changelog (startVersion=earliest is the explicit
    * accept-the-trimmed-baseline spelling).
    */
  override def initialOffset(): Offset = {
    val vs = SnapshotTable.versions(spark, path)
    val v = startTimestamp match {
      case Some(ts) =>
        val times = SnapshotTable.effectiveCommitTimes(spark, path)
        times.headOption match {
          case None => 0L
          case Some(_) =>
            val retained = times.map(_._1).toSet
            times.find(_._2 >= ts) match {
              // nothing at/after the instant: deliver future commits only
              case None => times.last._1
              case Some((fv, fTs)) =>
                // completeness: every commit whose effective instant was
                // >= ts must still be retained. (a) if fv's number-
                // predecessor expired, commits with instants in
                // [ts, fTs) may be gone — the classic retained left
                // edge, and the gap an expired range leaves around a
                // tagged island; (b) a gap ANYWHERE at/after fv means
                // commits with instants >= ts expired.
                if (fv > 1L && !retained(fv - 1L) && ts < fTs) throw new IllegalArgumentException(
                  s"startTimestamp $ts is at or before the retained left edge of the " +
                    s"changelog at $path (first retained match: version $fv at $fTs, " +
                    s"whose predecessor has expired) — changes since that instant " +
                    "cannot be delivered completely. Use startVersion=earliest to " +
                    "accept the trimmed baseline explicitly")
                val after = times.map(_._1).dropWhile(_ < fv)
                after.zip(after.drop(1)).find { case (a, b) => b != a + 1 }
                  .foreach { case (a, b) => throw new IllegalArgumentException(
                    s"startTimestamp $ts cannot be delivered completely from $path: " +
                      s"versions between $a and $b have expired (a tagged snapshot " +
                      "pins an island, not the history around it)") }
                fv - 1
            }
        }
      case None => startVersion.map(_.trim.toLowerCase) match {
        case None | Some("latest") => vs.lastOption.getOrElse(0L)
        case Some("earliest") => vs.headOption.map(_ - 1).getOrElse(0L)
        case Some(n) => scala.util.Try(n.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"startVersion must be 'latest', 'earliest', or a version number; got '$n'"))
      }
    }
    VersionOffset(v)
  }

  // Admission control: one version = one emitted row, so ReadMaxRows is
  // an exact cap on versions per micro-batch. The engine calls the
  // two-arg latestOffset when SupportsAdmissionControl is implemented;
  // the no-arg form must never be reached (same contract as Kafka's).
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerBatch.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset = throw new IllegalStateException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head0 = SnapshotTable.currentVersion(spark, path).getOrElse(0L)
    val head = availableNowFence.fold(head0)(math.min(head0, _))
    val from = start.asInstanceOf[VersionOffset].v
    def cap(l: ReadLimit): Long = l match {
      case r: ReadMaxRows => from + r.maxRows()
      case c: CompositeReadLimit => c.getReadLimits.map(cap).min
      case _ => head // allAvailable / minRows: no upper cap
    }
    VersionOffset(math.min(head, cap(limit)))
  }

  /** The TRUE head for progress reporting, independent of the cap — what
    * lets a monitor see backfill lag (cursor vs head) while throttled.
    */
  override def reportLatestOffset(): Offset =
    VersionOffset(SnapshotTable.currentVersion(spark, path).getOrElse(0L))

  override def deserializeOffset(json: String): Offset = VersionOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[VersionOffset].v
    val to = end.asInstanceOf[VersionOffset].v
    val retained = SnapshotTable.versions(spark, path).toSet
    ((from + 1) to to).map { v =>
      // readManifestChecked turns an expired version into the loud
      // retained-range error: the stream fell off the retention edge
      // and silently skipping would lose data
      val m = SnapshotTable.readManifestChecked(spark, path, v)
      // The parent manifest may itself be expired (an `earliest` replay
      // on a table whose left edge was trimmed): the version's delta is
      // then unprovable by directory, so it emits as a FLAGGED baseline
      // row carrying the full snapshot — same contract as a rewrite
      // commit, and the consumer treats it as the initial load.
      val prev =
        if (v == 1) Some((Nil: Seq[String], Nil: Seq[String]))
        else if (retained(v - 1)) {
          val pm = SnapshotTable.readManifestChecked(spark, path, v - 1)
          Some((pm.dirs, pm.tombstones))
        } else None
      // rewrite = a dir left the list (compact/write/COW merge), a
      // tombstone left the list with the dirs intact (a rollback across
      // a pure-delete merge-on-read commit resurrects the rows it
      // masked — logically ADDED rows with no dir to show for it), or
      // the parent expired (delta unprovable). A merge-on-read commit
      // is NOT a rewrite: it is a well-formed delta — added dirs carry
      // the upserts, added tombstones carry the deleted/updated keys —
      // and emits as one, with the keys alongside so a consumer can
      // APPLY it instead of resyncing (the sink still refuses it by
      // default; naive append consumers would double-count updated
      // keys).
      val rewrite = prev.fold(true) { case (pDirs, pTs) =>
        pDirs.exists(d => !m.dirs.contains(d)) ||
          pTs.exists(t => !m.tombstones.contains(t))
      }
      val emitted =
        if (rewrite) m.dirs else m.dirs.filterNot(prev.map(_._1).getOrElse(Nil).toSet)
      // non-rewrite: exactly the tombstones this commit added; rewrite/
      // baseline: the FULL outstanding overlay (a consumer interpreting
      // the emitted dir list raw would over-report masked rows — empty
      // after compact/write/merge, which materialize and reset it)
      val emittedTs =
        if (rewrite) m.tombstones
        else m.tombstones.filterNot(prev.map(_._2).getOrElse(Nil).toSet)
      SnapshotLogPartition(v, rewrite, m.format,
        emitted.map(d => new org.apache.hadoop.fs.Path(path, d).toString),
        emittedTs.map(t => SnapshotTable.tombstonePath(path, t).toString),
        // the manifest-recorded operator kind — what lets a consumer
        // SKIP compactions (content no-ops) while re-syncing on merges
        m.kind): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new SnapshotLogReader(partition.asInstanceOf[SnapshotLogPartition])
    }

  override def commit(end: Offset): Unit = () // the version log needs no ack
  override def stop(): Unit = ()
}

case class SnapshotLogPartition(version: Long, rewrite: Boolean,
                                format: String, dirs: Seq[String],
                                tombstones: Seq[String],
                                kind: String) extends InputPartition

class SnapshotLogReader(p: SnapshotLogPartition) extends PartitionReader[InternalRow] {
  private var emitted = false
  override def next(): Boolean = if (emitted) false else { emitted = true; true }
  override def get(): InternalRow =
    InternalRow(p.version, p.rewrite, UTF8String.fromString(p.format),
      new GenericArrayData(p.dirs.map(UTF8String.fromString).toArray[Any]),
      new GenericArrayData(p.tombstones.map(UTF8String.fromString).toArray[Any]),
      UTF8String.fromString(p.kind))
  override def close(): Unit = ()
}
