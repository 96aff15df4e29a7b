package graft.sources.v2

import graft.operators.SnapshotTable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types.{DataType, LongType, NullType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Streaming CHANGE DATA FEED of a graft table —
  * `spark.readStream.format("graft").option("readChangeFeed", "true")
  * .load(path)` (the Delta CDF reader-option contract): each
  * micro-batch delivers the ROW EVENTS of the commits in its version
  * range, table columns plus `_change_type` ('insert' / 'delete' /
  * 'update_preimage' / 'update_postimage' — Delta's CDF typing) and
  * `_commit_version` — so row-mutating commits that fail the plain
  * data stream loudly become consumable events:
  *
  *  - append / create commits → added dirs' rows as inserts (identical
  *    to the plain stream);
  *  - merge-on-read commits → the newly-tombstoned keys' rows still
  *    VISIBLE at v-1 as delete-side events, plus the upsert dirs as
  *    insert-side events; keys on BOTH sides (existed at v-1 AND
  *    re-added) are UPDATES and emit as the
  *    `update_preimage`/`update_postimage` pair, so a downstream MERGE
  *    consumer can apply updates as updates;
  *  - posdelete / posupdate commits → the new sidecars' (file, ordinal)
  *    victims as deletes — the scan opens ONLY the files the sidecar
  *    names — plus staged updates as inserts;
  *  - compact / binpack / metadata commits → no events, cursor rolls on;
  *  - rewrite-class commits (overwrite / COW merge / rollback) still
  *    fail loudly: their honest event form is a whole-table diff, which
  *    a stream must not silently deliver — replay them with
  *    [[SnapshotTable.changes]] (batch) and restart past them.
  *
  * Everything executes as wrapped PER-FILE parquet scans — victim
  * selection and prior-overlay visibility ride the same size-gated
  * driver masks as the batch keyed/positional overlays (a row is a
  * delete victim iff it was visible under v-1's full overlay AND the
  * commit's new tombstone keys / delete ordinals select it), so event
  * production is O(delta + touched files), never a join, never a
  * collect of data rows. Offsets, admission control, and
  * Trigger.AvailableNow are the shared [[VersionStream]] cursor.
  */
class GraftCdfScan(spark: SparkSession, path: String,
                   m: SnapshotTable.Manifest, logical: StructType,
                   version: Long,
                   options: CaseInsensitiveStringMap) extends Scan {
  private val partSet = m.partitionCols.toSet
  private def phys(s: StructType) = StructType(s.fields.map(f =>
    f.copy(name = m.physOf(f.name))))
  private val dataFields = StructType(logical.fields.filterNot(f => partSet(f.name)))
  private val partFields = StructType(logical.fields.filter(f => partSet(f.name)))

  override def readSchema(): StructType =
    StructType(dataFields.fields ++ partFields.fields ++ GraftCdf.metaFields)

  private lazy val cursor = CursorOptions.parse(options)

  private def mkStream(): GraftCdfStream =
    new GraftCdfStream(path,
      StreamSchemas(phys(dataFields), phys(dataFields), phys(partFields),
        phys(logical), Array.empty),
      m.partitionCols, cursor)

  /** BATCH change-feed read of a path table —
    * `spark.read.format("graft").option("readChangeFeed", "true")
    * .option("startVersion", n).load(path)` (the Delta batch-CDF
    * contract; `startVersion`/`endVersion` are INCLUSIVE commit bounds,
    * defaulting to [1, loaded version]): the same per-file event frames
    * as the stream, planned over the whole range at once. Catalog
    * tables can also use the `t$changes` relation, whose
    * `_commit_version` predicates push down to the same window.
    */
  override def toBatch: Batch = {
    val to = Option(options.get("endVersion")).map(_.trim.toLong)
      .getOrElse(version)
    // 'earliest' means the first REPLAYABLE version, not the first
    // retained one: every pre-image-bearing kind (append / MOR /
    // posdelete) dereferences manifest v-1, so when the prefix expired
    // (head > 1) the feed can only start at head+1 — head's own events
    // are unprovable without the expired predecessor. head == 1 keeps
    // itself (a create baseline needs no pre-image). An expired-prefix
    // table whose head IS the loaded version therefore yields an EMPTY
    // feed under 'earliest' (nothing is replayable) — empty, not an
    // error, is the honest answer to "give me everything replayable".
    val (from, fromEarliest) = cursor.startVersion match {
      case None => (1L, false)
      case Some(StartVersion.Earliest) =>
        val head = SnapshotTable.versions(spark, path).headOption.getOrElse(1L)
        (if (head == 1L) 1L else head + 1, true)
      case Some(StartVersion.Latest) => (version, false)
      case Some(StartVersion.At(n)) => (n, false)
    }
    require(from >= 1L && (fromEarliest || from <= to),
      s"readChangeFeed batch read of $path: bad version range [$from, $to]")
    val planner = mkStream()
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        if (from > to) Array.empty else planner.planVersions(from - 1, to)
      override def createReaderFactory(): PartitionReaderFactory =
        CdfReaderFactory()
    }
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = mkStream()

  override def description(): String =
    s"GraftCdfScan(path=$path, changeFeed)"
}

object GraftCdf {
  val metaFields: Seq[StructField] = Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_version", LongType, nullable = false))

  /** Subpath after the row's `snap-*` dir segment (the engine's file
    * identity) and that dir's commit version, from a full file path.
    */
  def subpathOf(s: String): String = {
    val i = s.lastIndexOf("/snap-")
    if (i < 0) s.split('/').last else s.substring(s.indexOf('/', i + 1) + 1)
  }
  def dirVersionOf(s: String): Long = {
    val i = s.lastIndexOf("/snap-")
    if (i < 0) Long.MaxValue else s.substring(i + 6).takeWhile(_.isDigit).toLong
  }
}

/** One event frame's executor contract: the delegate's row layout, the
  * victim selectors (positional and/or keyed — None for insert frames),
  * and the v-1 overlay masks a delete victim must still be VISIBLE
  * under. All masks ride broadcasts (size-gated at plan time).
  * `paired` is the UPDATE-pairing key set (Delta's CDF typing): on a
  * delete-side frame it holds the commit's re-added keys and a hit
  * re-types the event `update_preimage`; on an insert-side frame it
  * holds the keys that existed at v-1 and a hit re-types
  * `update_postimage`. Rows missing it keep the frame's base type.
  */
case class CdfFrameSpec(changeType: String, version: Long,
                        fullSchema: StructType, rowIdxPos: Int,
                        keyPos: Int, keyType: DataType,
                        victimPos: Option[Broadcast[Map[String, Array[Long]]]],
                        victimKeys: Option[Broadcast[Set[Any]]],
                        priorPos: Option[Broadcast[Map[String, Array[Long]]]],
                        priorKey: Option[Broadcast[Map[Any, Long]]],
                        paired: Option[Broadcast[Set[Any]]] = None)

case class CdfInputPartition(
    inner: InputPartition,
    innerFactory: org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory,
    spec: CdfFrameSpec) extends InputPartition

class GraftCdfStream(path: String, schemas: StreamSchemas,
                     partitionCols: Seq[String], cursor: CursorOptions)
    extends GraftDataStream(path, schemas, partitionCols, cursor) {

  /** CDF seed offsets differ from the plain data stream's in two ways,
    * both so `readChangeFeed` batch and stream agree on what a start
    * bound MEANS: a NUMERIC startVersion is INCLUSIVE (the batch
    * option is documented inclusive — a CDC consumer switching between
    * `read` and `readStream` must neither skip nor double-read a
    * commit), so the offset seeds at n-1; and 'earliest' seeds before
    * the first REPLAYABLE version — head+1 when the retention prefix
    * expired (head's own pre-images went with manifest head-1; only
    * head == 1, the create baseline, needs none), matching the batch
    * 'earliest' resolution. Existing checkpoints are unaffected (the
    * seed only applies at first start).
    */
  override protected def seedVersion(): Long = {
    val vs = SnapshotTable.versions(spark, path)
    cursor.startVersion match {
      case None | Some(StartVersion.Latest) => vs.lastOption.getOrElse(0L)
      case Some(StartVersion.Earliest) =>
        vs.headOption.map(h => if (h == 1L) 0L else h).getOrElse(0L)
      case Some(StartVersion.At(sv)) =>
        // same lower bound the batch reader's `require` enforces — a
        // seed at -1 would plan nonexistent version 0 and surface a
        // confusing missing-manifest error instead of this one
        require(sv >= 1L,
          s"startVersion must be >= 1 (versions are 1-based); got $sv")
        sv - 1
    }
  }

  private val rowIdxField = StructField(
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true)

  /** One delegated parquet batch over `dirs` (optionally restricted to
    * the files whose subpaths a victim mask names — the posdelete event
    * scan opens ONLY touched files) with its frame's full row schema.
    */
  private def frame(dirs: Seq[String], spec0: CdfFrameSpec,
                    withRowIdx: Boolean,
                    onlySubpaths: Option[Set[String]]): Seq[InputPartition] = {
    val readData =
      if (withRowIdx) StructType(schemas.readDataPhys.fields :+ rowIdxField)
      else schemas.readDataPhys
    val batch = batchScan(dirs, readData, onlySubpaths)
    val spec = spec0.copy(
      fullSchema = StructType(readData.fields ++ schemas.readPartPhys.fields),
      rowIdxPos = if (withRowIdx) schemas.readDataPhys.length else -1)
    val fac = batch.createReaderFactory()
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory]
    batch.planInputPartitions().map(p => CdfInputPartition(p, fac, spec)).toSeq
  }

  /** Position of the MOR key within the frame's row (data fields first,
    * then — after the optional row-index slot — partition fields).
    */
  private def keyPosOf(key: String, m: SnapshotTable.Manifest,
                       withRowIdx: Boolean): Int = {
    val dataNames = schemas.readDataPhys.fieldNames.toSeq
    val partNames = schemas.readPartPhys.fieldNames.toSeq
    val phys = m.physOf(key)
    val inData = dataNames.indexOf(phys)
    if (inData >= 0) inData
    else dataNames.length + (if (withRowIdx) 1 else 0) + partNames.indexOf(phys)
  }

  /** Event frames for the commits in `(from, to]` — shared by the
    * micro-batch stream (offset-to-offset) and the batch CDF read
    * (whole range at once).
    */
  override protected[v2] def planVersions(from: Long, to: Long): Array[InputPartition] = {
    val bc = spark.sparkContext
    def gate[T](o: Option[T], what: String, v: Long): T = o.getOrElse(
      throw new IllegalArgumentException(
        s"change feed of $path at version $v: the $what is past the " +
          "driver-mask size bound (compaction-starved overlay); compact " +
          "the table, then restart the stream"))
    val parts = Seq.newBuilder[InputPartition]
    ((from + 1) to to).foreach { v =>
      val mv = SnapshotTable.readManifestChecked(spark, path, v)
      val kind = if (v == 1L) "create" else mv.kind
      lazy val mp = try SnapshotTable.readManifestChecked(spark, path, v - 1)
        catch { case e: IllegalArgumentException => throw new IllegalStateException(
          s"change feed of $path needs version ${v - 1} for the pre-images " +
            s"of version $v, but it expired (${e.getMessage}); restart from " +
            "startVersion=latest or re-baseline the consumer") }
      lazy val d = SnapshotTable.manifestDiff(Some(mp), mv)
      def insertFrames(dirs: Seq[String],
                       paired: Option[Broadcast[Set[Any]]] = None,
                       keyPos: Int = -1, keyType: DataType = NullType): Unit =
        if (dirs.nonEmpty) parts ++= frame(dirs,
          CdfFrameSpec("insert", v, null, -1, keyPos, keyType,
            None, None, None, None, paired),
          withRowIdx = false, onlySubpaths = None)
      def priorMasks = (
        gate(SnapshotTable.posDeleteMask(spark, path, mp),
          "v-1 positional overlay", v),
        gate(SnapshotTable.tombstoneKeyMask(spark, path, mp),
          "v-1 key overlay", v))
      // frames decode under the stream-start physical schemas: dirs
      // staged under a different partition layout (a repartition inside
      // the range) cannot be served — fail loudly; the BATCH
      // [[SnapshotTable.changes]] handles mixed layouts (per-dir
      // unions) and is the replay path for such ranges
      // `strict` additionally refuses partEvolved manifests — the
      // pre-image victim frames scan the WHOLE prior dir list, which
      // mixes layouts on an evolved chain; insert frames scan only the
      // commit's own (uniform, current-layout) added dirs and need just
      // the capture-spec equality
      def requireLayout(m0: SnapshotTable.Manifest, what: String,
                        strict: Boolean = false): Unit =
        if (m0.partitionCols != partitionCols || (strict && m0.partEvolved))
          throw new IllegalStateException(
            s"change feed of $path at version $v: the $what spans a partition " +
              s"layout change (repartitionTable); replay the range with the " +
              "batch SnapshotTable.changes, or compact the table and restart")
      kind match {
        case "create" =>
          requireLayout(mv, "create baseline")
          insertFrames(mv.dirs)
        case k if SnapshotTable.appendKinds(k) =>
          requireLayout(mv, "append delta")
          insertFrames(d.addedDirs)
        case k if SnapshotTable.contentNoOpKinds(k) => ()
        case "merge-on-read" =>
          val newTs = d.addedTombstones
          val added = d.addedDirs
          // zero new tombstones (fully-gated upsert batch, NULL-keyed
          // inserts): no delete events, no morkey requirement
          requireLayout(mv, "merge-on-read commit")
          if (newTs.isEmpty) insertFrames(added)
          else {
            requireLayout(mp, "merge-on-read pre-image scan", strict = true)
            import org.apache.spark.sql.functions.{broadcast, col}
            val key = mv.morKey.getOrElse(throw new IllegalStateException(
              s"merge-on-read commit $v at $path lists tombstones but no morkey"))
            // the commit's tombstone keys are read ONCE (one job over
            // the delta-scale sidecar files, size-gated by bytes like
            // every driver mask) and serve every consumer: the victim
            // selector (catalyst set), the ≤1000-key In sample for
            // file restriction and pre-image pushdown, and — as a
            // LOCAL relation, no file re-read — the pairing semi-joins
            val keyDf = newTs.map(n => spark.read.format(mv.format)
                .load(SnapshotTable.tombstonePath(path, n).toString)
                .select(col(key)))
              .reduce(_ unionByName _).distinct()
            val keyRows = gate(
              if (SnapshotTable.tombstoneBytes(spark, path, newTs) >
                  SnapshotTable.tombstoneBroadcastMaxBytes) None
              else Some(keyDf.collect()),
              "commit's tombstone key set", v)
            val keyDt = keyDf.schema.head.dataType
            val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
              .createToCatalystConverter(keyDt)
            val external = keyRows.iterator.map(_.get(0)).filter(_ != null).toArray
            val keys: Set[Any] = external.iterator.map(conv).toSet
            val ext: Option[Seq[Any]] =
              if (external.length <= 1000) Some(external.toSeq) else None
            val tombDf = spark.createDataFrame(
              java.util.Arrays.asList(keyRows: _*),
              StructType(Seq(StructField("__graft_tk", keyDt))))
            val (pp, pk) = priorMasks
            // the victim scan opens only the files whose stats can hold
            // a tombstoned key when the key is a stats column and the
            // set fits an In list — the O(touched files) shape on
            // streaming-upsert tables (one MOR commit per epoch over a
            // long range would otherwise re-open the whole table per
            // commit); conservative, falls back to all v-1 dirs
            val onlySubs: Option[Set[String]] =
              ext.filter(_ => mp.statsCols.contains(key)).map(e =>
                SnapshotTable.prunedFilePaths(spark, path,
                    mp.copy(tombstones = Nil), col(key).isin(e: _*))
                  .map(GraftCdf.subpathOf))
            // UPDATE PAIRING (Delta's CDF typing): tombstoned keys both
            // existed-at-v-1 and re-added emit as update pre/post-image
            // pairs. Both probe sets are driver-side but BOUNDED by the
            // gated tombstone key set (each is a semi-join against it);
            // the pre-image key scan reads ONE column and pushes the
            // ≤1000-key In filter down when available. The tombstone
            // names every winning key incl. brand-new ones, so set
            // membership alone cannot classify — each side probes its
            // own half of the (existed ∩ re-added) intersection.
            val readded: Set[Any] =
              if (added.isEmpty) Set.empty
              else SnapshotTable.catalystKeySet(
                SnapshotTable.scanDirsAt(spark, path, v, added).select(col(key))
                  .join(broadcast(tombDf), col(key) === col("__graft_tk"),
                    "left_semi"))
            val existed: Set[Any] = {
              val pre0 = SnapshotTable.readAt(spark, path, v - 1).select(col(key))
              val pre = ext.fold(pre0)(e => pre0.filter(col(key).isin(e: _*)))
              SnapshotTable.catalystKeySet(
                pre.join(broadcast(tombDf), col(key) === col("__graft_tk"),
                  "left_semi"))
            }
            parts ++= frame(mp.dirs,
              CdfFrameSpec("delete", v, null, -1,
                keyPosOf(key, mv, withRowIdx = true),
                schemas.fullPhys(schemas.fullPhys.fieldIndex(mv.physOf(key))).dataType,
                None, Some(bc.broadcast(keys)),
                Some(bc.broadcast(pp)), Some(bc.broadcast(pk)),
                paired = Some(bc.broadcast(readded))),
              withRowIdx = true, onlySubpaths = onlySubs)
            insertFrames(added,
              paired = Some(bc.broadcast(existed)),
              keyPos = keyPosOf(key, mv, withRowIdx = false),
              keyType = schemas.fullPhys(
                schemas.fullPhys.fieldIndex(mv.physOf(key))).dataType)
          }
        case "posdelete" | "posupdate" =>
          requireLayout(mv, "positional-delete commit")
          requireLayout(mp, "positional-delete pre-image scan", strict = true)
          val newPd = d.addedPosDeletes
          val vm = gate(SnapshotTable.posDeleteMask(spark, path, mv, newPd),
            "commit's delete sidecar", v)
          val (pp, pk) = priorMasks
          val (keyPos, keyType) =
            if (pk.isEmpty) (-1, NullType: DataType)
            else {
              val key = mp.morKey.getOrElse(throw new IllegalStateException(
                s"version ${v - 1} at $path lists tombstones but no morkey"))
              (keyPosOf(key, mp, withRowIdx = true),
                schemas.fullPhys(schemas.fullPhys.fieldIndex(mp.physOf(key))).dataType)
            }
          parts ++= frame(mp.dirs,
            CdfFrameSpec("delete", v, null, -1, keyPos, keyType,
              Some(bc.broadcast(vm)), None,
              Some(bc.broadcast(pp)), Some(bc.broadcast(pk))),
            withRowIdx = true, onlySubpaths = Some(vm.keySet))
          insertFrames(d.addedDirs)
        case other => throw new IllegalStateException(
          s"version $v of $path is a '$other' commit — its honest event " +
            "form is a whole-table diff, which a change-feed stream must " +
            "not silently deliver; replay it with SnapshotTable.changes " +
            "(batch) and restart this stream past it with startVersion")
      }
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = CdfReaderFactory()
}

/** Per-file wrapping reader for one event frame: applies the victim /
  * visibility masks row by row (binary search on ordinals, hash probe
  * on keys) and appends the frame's constant event columns through one
  * codegen'd projection.
  */
case class CdfReaderFactory() extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val cp = partition.asInstanceOf[CdfInputPartition]
    val sp = cp.spec
    val files = cp.inner
      .asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition].files
    val keep = sp.fullSchema.fields.indices.filterNot(_ == sp.rowIdxPos)
    val metaBase = sp.fullSchema.fields.length
    val proj = UnsafeProjection.create(
      keep.map(k => BoundReference(k, sp.fullSchema.fields(k).dataType,
        sp.fullSchema.fields(k).nullable)) ++ Seq(
        BoundReference(metaBase, StringType, nullable = false),
        BoundReference(metaBase + 1, LongType, nullable = false)))
    val metaRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    val baseType = org.apache.spark.unsafe.types.UTF8String.fromString(sp.changeType)
    // a `paired` hit re-types the event to its update-pair form: the
    // delete side (victim selectors present) becomes the pre-image,
    // the insert side the post-image
    val pairType = org.apache.spark.unsafe.types.UTF8String.fromString(
      if (sp.victimPos.isDefined || sp.victimKeys.isDefined) "update_preimage"
      else "update_postimage")
    metaRow.update(0, baseType)
    metaRow.setLong(1, sp.version)
    new PartitionReader[InternalRow] {
      private var i = -1
      private var cur: PartitionReader[InternalRow] = _
      private var curVictimOrds: Array[Long] = _
      private var curPriorOrds: Array[Long] = _
      private var curDirV: Long = Long.MaxValue
      private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow()
      private var row: InternalRow = _

      private def accept(r: InternalRow): Boolean = {
        if (sp.victimPos.isEmpty && sp.victimKeys.isEmpty) return true // insert frame
        // visible under the v-1 overlay?
        if (curPriorOrds != null && java.util.Arrays.binarySearch(
            curPriorOrds, r.getLong(sp.rowIdxPos)) >= 0) return false
        val key = if (sp.keyPos >= 0 && !r.isNullAt(sp.keyPos))
          r.get(sp.keyPos, sp.keyType) else null
        if (key != null && sp.priorKey.exists(_.value.get(key).exists(_ > curDirV)))
          return false
        // selected by this commit's victim set?
        (curVictimOrds != null && java.util.Arrays.binarySearch(
          curVictimOrds, r.getLong(sp.rowIdxPos)) >= 0) ||
          (key != null && sp.victimKeys.exists(_.value.contains(key)))
      }

      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            i += 1
            if (i >= files.length) return false
            cur = cp.innerFactory.buildReader(files(i))
            val full = files(i).toPath.toString
            val sub = GraftCdf.subpathOf(full)
            curDirV = GraftCdf.dirVersionOf(full)
            curVictimOrds = sp.victimPos.map(_.value.getOrElse(sub, null)).orNull
            curPriorOrds = sp.priorPos.map(_.value.getOrElse(sub, null)).orNull
          }
          if (!cur.next()) { cur.close(); cur = null }
          else {
            val r = cur.get()
            if (accept(r)) {
              row = r
              if (sp.paired.isDefined) {
                val hit = sp.keyPos >= 0 && !r.isNullAt(sp.keyPos) &&
                  sp.paired.get.value.contains(r.get(sp.keyPos, sp.keyType))
                metaRow.update(0, if (hit) pairType else baseType)
              }
              return true
            }
          }
        }
        false // unreachable
      }
      override def get(): InternalRow = proj(joined(row, metaRow))
      override def close(): Unit = if (cur != null) cur.close()
    }
  }
}
