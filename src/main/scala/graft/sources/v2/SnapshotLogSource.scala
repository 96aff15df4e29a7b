package graft.sources.v2

import graft.operators.SnapshotTable
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
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
  * Rewrite commits (compact/write/merge, and every commit that adds or
  * drops a positional-delete sidecar) have no by-directory delta: the
  * row carries `rewrite = true` and the NEW snapshot's full dir list,
  * and the consumer decides (a compaction is a content no-op and safely
  * skippable; a merge is not). Versions expired while the stream was
  * down fail the query loudly with the retained range — a silent skip
  * would be a data-loss hole, exactly like a Kafka stream falling off
  * the retention edge.
  *
  * `startVersion`, `startTimestamp` and `maxVersionsPerBatch` are the
  * [[VersionStream]] cursor options; this is the one stream that serves
  * `startTimestamp` ([[SnapshotLogStream.seedVersion]]).
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
    new SnapshotLogTable(path, CursorOptions.parse(properties))
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

class SnapshotLogTable(path: String, cursor: CursorOptions)
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
          new SnapshotLogStream(path, cursor)
        override def description(): String = name()
      }
    }
}

class SnapshotLogStream(path: String, cursor: CursorOptions)
    extends VersionStream(path, cursor.maxVersionsPerBatch) {

  /** `startTimestamp` (the Delta CDF `startingTimestamp` contract:
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
  override protected def seedVersion(): Long = cursor.startTimestamp match {
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
    case None =>
      val vs = SnapshotTable.versions(spark, path)
      cursor.startVersion match {
        case None | Some(StartVersion.Latest) => vs.lastOption.getOrElse(0L)
        case Some(StartVersion.Earliest) => vs.headOption.map(_ - 1).getOrElse(0L)
        case Some(StartVersion.At(n)) => n
      }
  }

  override protected def planVersions(from: Long, to: Long): Array[InputPartition] = {
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
      val diff =
        if (v == 1) Some(SnapshotTable.manifestDiff(None, m))
        else if (retained(v - 1))
          Some(SnapshotTable.manifestDiff(
            Some(SnapshotTable.readManifestChecked(spark, path, v - 1)), m))
        else None
      // rewrite = the delta cannot be read from directories: a dir left
      // the list (compact/write/COW merge), a tombstone left it with the
      // dirs intact (a rollback across a pure-delete merge-on-read
      // commit resurrects the rows it masked), a positional-delete
      // sidecar came or went (the victims are file ordinals, not
      // dirs), or the parent expired. A merge-on-read commit is NOT a
      // rewrite: added dirs carry the upserts and added tombstones the
      // deleted/updated keys, so a consumer can APPLY it instead of
      // resyncing (the sink still refuses it by default; naive append
      // consumers would double-count updated keys).
      val rewrite = !diff.exists(_.dirDelta)
      // non-rewrite: exactly the dirs and tombstones this commit added;
      // rewrite/baseline: the full snapshot and its FULL outstanding
      // overlay (a consumer interpreting the emitted dir list raw would
      // over-report masked rows — empty after compact/write/merge,
      // which materialize and reset it)
      val (emitted, emittedTs) =
        if (rewrite) (m.dirs, m.tombstones)
        else (diff.get.addedDirs, diff.get.addedTombstones)
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
