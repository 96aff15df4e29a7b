package graft.sources.v2

import graft.operators.SnapshotTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}

/** The version cursor. Comparable as a plain long; serialized as its
  * decimal string in the checkpoint's offset log.
  */
case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** A parsed `startVersion` option. */
sealed trait StartVersion
object StartVersion {
  case object Latest extends StartVersion
  case object Earliest extends StartVersion
  final case class At(n: Long) extends StartVersion
}

/** The start and admission options every change consumer reads, parsed
  * and validated in one place. `startVersion` is None when unset (the
  * batch change feed gives unset and `latest` different meanings);
  * `startTimestamp` is epoch millis.
  */
final case class CursorOptions(startVersion: Option[StartVersion],
                               startTimestamp: Option[Long],
                               maxVersionsPerBatch: Option[Long])

object CursorOptions {
  def parse(options: java.util.Map[String, String]): CursorOptions = {
    def opt(key: String) = Option(options.get(key))
    val maxPerBatch = opt("maxVersionsPerBatch").map { s =>
      val n = scala.util.Try(s.trim.toLong).getOrElse(
        throw new IllegalArgumentException(
          s"maxVersionsPerBatch must be a positive integer; got '$s'"))
      require(n > 0, s"maxVersionsPerBatch must be a positive integer; got $n")
      n
    }
    val startVersion = opt("startVersion").map(_.trim.toLowerCase match {
      case "latest" => StartVersion.Latest
      case "earliest" => StartVersion.Earliest
      case n => StartVersion.At(scala.util.Try(n.toLong).getOrElse(
        throw new IllegalArgumentException(
          s"startVersion must be 'latest', 'earliest', or a version number; got '$n'")))
    })
    val startTs = opt("startTimestamp").map { s =>
      val t = s.trim
      scala.util.Try(t.toLong).orElse(
        scala.util.Try(java.time.Instant.parse(t).toEpochMilli)).getOrElse(
        throw new IllegalArgumentException(
          s"startTimestamp must be epoch millis or an ISO-8601 instant; got '$s'"))
    }
    if (startVersion.nonEmpty && startTs.nonEmpty)
      throw new IllegalArgumentException(
        "startVersion and startTimestamp are mutually exclusive; set one")
    CursorOptions(startVersion, startTs, maxPerBatch)
  }
}

/** The micro-batch cursor shared by the table's three change streams:
  * the offset is the version number, the version log itself is the
  * write-ahead log, and the checkpoint only remembers the cursor. A
  * micro-batch plans the commits in `(start, end]`; a version expired
  * while the stream was down fails loudly in the subclass's planner.
  *
  * Each stream keeps its own seed rule ([[seedVersion]], the version
  * the cursor starts AFTER), so the same `startVersion` means three
  * things:
  * {{{
  *   stream                         unset / latest   earliest                       N
  *   graft-snapshot-log             after the head   every retained commit; an      versions > N
  *                                                   expired prefix arrives as a
  *                                                   flagged baseline row
  *   readStream.format("graft")     after the head   every commit from version 1;   versions > N
  *                                                   refuses an expired prefix      (exclusive)
  *   ... + readChangeFeed           after the head   the first replayable version   versions >= N
  *                                                   (head + 1 past an expired      (inclusive,
  *                                                   prefix)                        N >= 1)
  * }}}
  * The row stream's exclusive N predates the change feed and stays for
  * checkpoint compatibility; the change feed's inclusive N matches its
  * batch read. Only the log source serves `startTimestamp`.
  *
  * `maxVersionsPerBatch` is admission control (the Kafka
  * `maxOffsetsPerTrigger` analog): one version counts as one row for
  * `ReadMaxRows`, so it caps how many commits one micro-batch spans,
  * and a throttled backfill checkpoints its cursor at every slice.
  * `Trigger.AvailableNow` fences the head at trigger preparation,
  * drains up to the fence in capped slices, and stops; commits landing
  * mid-drain are left for the next run.
  */
abstract class VersionStream(path: String, maxVersionsPerBatch: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  protected def spark: SparkSession = SparkSession.active

  /** The version the cursor starts after when the checkpoint has no
    * offset yet (Spark never asks again once it has one).
    */
  protected def seedVersion(): Long

  /** The input partitions for the commits in `(from, to]`. */
  protected def planVersions(from: Long, to: Long): Array[InputPartition]

  private def head: Long = SnapshotTable.currentVersion(spark, path).getOrElse(0L)

  @volatile private var availableNowFence: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = availableNowFence = Some(head)

  override def initialOffset(): Offset = VersionOffset(seedVersion())

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerBatch.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  // the engine calls the two-arg form under SupportsAdmissionControl;
  // the no-arg form must never be reached (same contract as Kafka's)
  override def latestOffset(): Offset = throw new IllegalStateException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val to = availableNowFence.fold(head)(math.min(head, _))
    val from = start.asInstanceOf[VersionOffset].v
    def cap(l: ReadLimit): Long = l match {
      case r: ReadMaxRows => from + r.maxRows()
      case c: CompositeReadLimit => c.getReadLimits.map(cap).min
      case _ => to // allAvailable / minRows: no upper cap
    }
    VersionOffset(math.min(to, cap(limit)))
  }

  /** The true head for progress reporting, independent of the cap: what
    * lets a monitor see backfill lag while throttled.
    */
  override def reportLatestOffset(): Offset = VersionOffset(head)

  override def deserializeOffset(json: String): Offset = VersionOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    planVersions(start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v)

  override def commit(end: Offset): Unit = () // the version log needs no ack
  override def stop(): Unit = ()
}
