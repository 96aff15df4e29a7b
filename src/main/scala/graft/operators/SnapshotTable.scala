package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.Path

import graft.Jobs.phase

/** Minimal table-format layering over the sink: versioned snapshots with
  * an atomic manifest commit, so rewrites (compaction, overwrite) are
  * safe under concurrent readers — the ACID property [[Sink.compact]]'s
  * raw directory swap cannot give (its two renames leave a window with
  * no `path` at all, and a reader that listed files before the swap can
  * see a mix).
  *
  * Layout (the Iceberg-on-HDFS commit idea reduced to its kernel):
  * {{{
  *   path/snap-00000001-<uuid>/...     immutable data files, never edited
  *   path/_versions/v00000001.txt      manifest: dirs, schema, sidecar refs
  *   path/_versions/b00000001-....bin  content bloom (named by manifest)
  *   path/_hashes/<dir>/...            ~16 B/row content keys per data dir
  *   path/_stats/<dir>/...             per-file column min/max for pruning
  *   path/_tombstones/t00000002-.../   merge-on-read delete/update keys
  * }}}
  * A commit WRITES a fresh snapshot directory, then publishes it by
  * renaming a temp manifest to `v<next>.txt` — rename-into-place is the
  * one atomic filesystem primitive, and create-if-absent semantics make
  * it double as the concurrency lock: if two committers race for the
  * same version number, exactly one rename succeeds and the loser
  * retries at the next number on top of the winner's state.
  *
  * Snapshot isolation falls out of immutability: a reader resolves the
  * manifest ONCE and from then on reads only that snapshot's files,
  * which no later commit touches — it sees entirely-old or entirely-new,
  * never a mix. Old snapshots accumulate until [[expire]] drops the
  * unreferenced ones (the reader-vs-cleanup grace window is the
  * retention count, as in every production table format).
  */
object SnapshotTable {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionsDir(path: String) = new Path(path, "_versions")
  private def manifest(path: String, v: Long) =
    new Path(versionsDir(path), f"v$v%08d.txt")

  /** UNIQUE staging name for version v's new directory. Two racers for
    * the same version number stage into DIFFERENT directories, so the
    * loser's writes can never land inside (or overwrite) the winner's
    * committed files — the manifest rename stays the single point of
    * truth. The version prefix keeps listings readable; the suffix is
    * what makes the optimistic-concurrency retry actually safe.
    */
  private def stageDir(v: Long): String =
    f"snap-$v%08d-${java.util.UUID.randomUUID().toString.take(8)}"

  /** All committed versions still retained, ascending — the time-travel
    * index ([[expire]] trims the left edge). One directory listing; no
    * manifest is opened.
    */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val vd = versionsDir(path)
    val f = fs(spark, vd)
    if (!f.exists(vd)) Nil
    else f.listStatus(vd).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .flatMap(n => scala.util.Try(n.stripPrefix("v").stripSuffix(".txt").toLong).toOption)
      .toSeq.sorted
  }

  /** Latest committed version, if any. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    versions(spark, path).lastOption

  /** One parsed manifest. `dirs` is the snapshot's DIR LIST: an
    * overwrite commit lists one directory; an append commit ([[ingest]])
    * lists the parent's directories plus its delta directory, so
    * appending is O(delta) — no snapshot ever rewrites prior files.
    * `bloom` names the version's content-bloom sidecar (absent for
    * plain [[write]] commits); naming the bloom IN the manifest —
    * instead of a deterministic per-version filename — is what lets two
    * commit racers stage independent blooms without either overwriting
    * the other's. `schema` is the committed table schema: readers apply
    * it EXPLICITLY, which both skips footer inference at scan planning
    * and null-fills columns that were added after an old directory was
    * written (additive evolution).
    * `statsCols` is the table's persisted stats configuration — the
    * columns whose per-file min/max sidecars every subsequent commit
    * maintains, so scan pruning survives compaction without the caller
    * re-stating the config. `tombstones` is the CUMULATIVE list of
    * merge-on-read tombstone sidecars ([[mergeOnRead]]) this snapshot's
    * reads must mask by — a rewrite commit (compact/write/COW merge)
    * materializes them and resets the list. `morKey` names the key
    * column every listed tombstone is keyed on; it is defined exactly
    * when `tombstones` is non-empty (the key may be re-chosen once a
    * rewrite clears the overlay). `physmap` is the column-mapping layer
    * ([[renameColumn]]/[[dropColumn]] — the Delta column-mapping "name
    * mode" contract): logical column name → the PHYSICAL name the data
    * files carry, recorded only where the two differ. A physical name
    * is immutable for the life of its column — renames edit only this
    * map, so every retained snapshot's files stay readable under every
    * later logical schema with zero data I/O. `physRetired` lists
    * physical names owned by DROPPED columns: a later re-add of the
    * same logical name must mint a FRESH physical name (else the
    * dropped column's bytes, still present in retained files, would
    * silently resurrect as the new column's values). `hashesValid`
    * (serialized as `nohashes:` when false) is [[dropColumn]]'s poison
    * marker for the per-dir `_hashes` dedup sidecars: the drop may have
    * invalidated the content universe they describe, so
    * [[existingHashes]] must pay the one-scan payload fallback instead
    * of trusting them; incremental commits carry the flag forward and a
    * rewrite that regenerates sidecars from live content clears it.
    * `kind` is the operator that committed the version (`overwrite`,
    * `append`, `compact`, ...) — what [[history]], the change feed and
    * [[commitLoop]]'s admission read. `ts` is the commit instant
    * [[commit]] stamped; a manifest built for publishing leaves it 0,
    * since [[commit]] stamps its own.
    */
  private[graft] final case class Manifest(dirs: Seq[String], format: String,
                                           bloom: Option[String],
                                           schema: StructType,
                                           statsCols: Seq[String],
                                           tombstones: Seq[String] = Nil,
                                           morKey: Option[String] = None,
                                           kind: String,
                                           partitionCols: Seq[String] = Nil,
                                           ts: Long = 0L,
                                           constraints: Seq[Constraint] = Nil,
                                           physmap: Map[String, String] = Map.empty,
                                           physRetired: Seq[String] = Nil,
                                           hashesValid: Boolean = true,
                                           posDeletes: Seq[String] = Nil,
                                           streamEpoch: Option[(String, Long)] = None,
                                           partEvolved: Boolean = false) {
    /** Physical (on-disk) name of a logical column under this manifest. */
    def physOf(logical: String): String = physmap.getOrElse(logical, logical)
    /** True when reads must mask rows (key tombstones or positional
      * deletes) — the "cannot be served by a bare file scan" state.
      */
    def hasOverlay: Boolean = tombstones.nonEmpty || posDeletes.nonEmpty
  }

  /** A table CHECK constraint (the Delta constraints / DLT expectations
    * contract): `expr` is a boolean SQL expression over table columns,
    * evaluated with SQL CHECK semantics — a row violates only when the
    * expression is FALSE (NULL passes). `mode` is the write-gate
    * policy: `fail` refuses the whole batch on the first violation
    * (Delta `ADD CONSTRAINT`); `drop` silently excludes violating rows
    * and admits the rest (DLT `expect_or_drop` — the 100 TB crawl
    * shape, where one malformed document must not fail the day's
    * ingest).
    */
  final case class Constraint(name: String, mode: String, expr: String)

  /** Manifest file layout: line 1 the comma-separated dir list, line 2
    * the format, then one tagged line per field. Required on every
    * manifest: `schema:` (the table schema as JSON), `kind:` (the
    * committing operator) and `ts:` (the commit instant, epoch millis).
    * Optional: `bloom:` (content-bloom file name), `stats:` (stats
    * columns), `tombstones:` (merge-on-read sidecars), `morkey:` (their
    * key column), `partition:` (partition columns), `partevolved:`
    * (a repartition happened), `physmap:` (logical=physical column
    * names), `physretired:` (retired physical names), `nohashes:`
    * (untrusted `_hashes` sidecars), `posdel:` (positional-delete
    * sidecars), `streamepoch:` (queryId=epoch of the last streaming
    * commit) and `constraint:` (name:mode:expr, one line each).
    */
  private def readManifestFull(spark: SparkSession, path: String, v: Long): Manifest =
    parseManifestAt(spark, manifest(path, v))

  /** Parse one manifest FILE (main chain or a branch chain — the body
    * format is identical; see [[commit]]). A line with any other tag,
    * an untagged line, or a missing required line means graft did not
    * write this manifest (or a newer graft did): it fails loudly instead
    * of misreading it.
    */
  private def parseManifestAt(spark: SparkSession, file: Path): Manifest = {
    val f = fs(spark, file)
    val in = f.open(file)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = content.trim.split("\n")
    var bloom: Option[String] = None
    var schema: Option[StructType] = None
    var statsCols: Seq[String] = Nil
    var tombstones: Seq[String] = Nil
    var morKey: Option[String] = None
    var kind: Option[String] = None
    var partitionCols: Seq[String] = Nil
    var ts: Option[Long] = None
    var physmap: Map[String, String] = Map.empty
    var physRetired: Seq[String] = Nil
    var hashesValid: Boolean = true
    var posDeletes: Seq[String] = Nil
    var streamEpoch: Option[(String, Long)] = None
    var partEvolved: Boolean = false
    val constraints = Seq.newBuilder[Constraint]
    lines.drop(2).map(_.trim).filter(_.nonEmpty).foreach {
      case l if l.startsWith("bloom:") => bloom = Some(l.stripPrefix("bloom:"))
      case l if l.startsWith("physmap:") =>
        physmap = l.stripPrefix("physmap:").split(",").filter(_.nonEmpty).map { e =>
          val i = e.indexOf('=')
          require(i > 0 && i < e.length - 1, s"malformed physmap manifest entry: '$e'")
          e.substring(0, i) -> e.substring(i + 1)
        }.toMap
      case l if l.startsWith("physretired:") =>
        physRetired = l.stripPrefix("physretired:").split(",").toSeq.filter(_.nonEmpty)
      case l if l.startsWith("nohashes:") =>
        hashesValid = false
      case l if l.startsWith("posdel:") =>
        posDeletes = l.stripPrefix("posdel:").split(",").toSeq.filter(_.nonEmpty)
      case l if l.startsWith("streamepoch:") =>
        val e = l.stripPrefix("streamepoch:")
        val i = e.lastIndexOf('=')
        require(i > 0 && i < e.length - 1,
          s"malformed streamepoch manifest entry: '$e'")
        streamEpoch = Some((e.substring(0, i), e.substring(i + 1).toLong))
      case l if l.startsWith("schema:") =>
        schema = Some(DataType.fromJson(l.stripPrefix("schema:")).asInstanceOf[StructType])
      case l if l.startsWith("stats:") =>
        statsCols = l.stripPrefix("stats:").split(",").toSeq.filter(_.nonEmpty)
      case l if l.startsWith("tombstones:") =>
        tombstones = l.stripPrefix("tombstones:").split(",").toSeq.filter(_.nonEmpty)
      case l if l.startsWith("morkey:") => morKey = Some(l.stripPrefix("morkey:"))
      case l if l.startsWith("kind:") => kind = Some(l.stripPrefix("kind:"))
      case l if l.startsWith("partition:") =>
        partitionCols = l.stripPrefix("partition:").split(",").toSeq.filter(_.nonEmpty)
      case l if l.startsWith("partevolved:") =>
        partEvolved = true
      case l if l.startsWith("ts:") => ts = Some(l.stripPrefix("ts:").toLong)
      case l if l.startsWith("constraint:") =>
        val rest = l.stripPrefix("constraint:")
        val i1 = rest.indexOf(':')
        val i2 = rest.indexOf(':', i1 + 1)
        require(i1 > 0 && i2 > i1 + 1,
          s"malformed constraint manifest line: '$l'")
        constraints += Constraint(rest.substring(0, i1),
          rest.substring(i1 + 1, i2), rest.substring(i2 + 1))
      case l =>
        throw new IllegalStateException(
          s"manifest $file has a line with unknown tag '${l.takeWhile(_ != ':').take(80)}:' " +
            "— written by a newer graft writer than this reader, or not by graft " +
            s"(line: '${l.take(80)}')")
    }
    def required[T](tag: String, v: Option[T]): T = v.getOrElse(
      throw new IllegalStateException(
        s"manifest $file has no '$tag:' line — graft writes one on every commit"))
    Manifest(lines(0).split(",").toSeq, lines(1), bloom, required("schema", schema),
      statsCols, tombstones, morKey, required("kind", kind), partitionCols,
      required("ts", ts), constraints.result(), physmap, physRetired, hashesValid,
      posDeletes, streamEpoch, partEvolved)
  }

  /** [[readManifestFull]] with the missing-manifest failure mapped to
    * the designed loud error. The manifest can be missing because the
    * version never committed, because [[expire]] already dropped it, OR
    * because a concurrent expire deleted it between the caller's
    * resolution and this open — all three surface the same
    * retained-range message instead of a raw FileNotFoundException, so
    * there is no exists-then-read TOCTOU anywhere in the read path.
    */
  private[graft] def readManifestChecked(spark: SparkSession, path: String,
                                         v: Long): Manifest =
    try readManifestFull(spark, path, v)
    catch { case _: java.io.FileNotFoundException =>
      val have = versions(spark, path)
      throw new IllegalArgumentException(
        s"version $v not committed at $path" +
          (if (have.isEmpty) " (no committed snapshot)"
           else s" (retained versions: ${have.min}..${have.max}; earlier ones expired)"))
    }

  /** Atomic publish: write a temp manifest, rename to the versioned name.
    * Returns the committed version, or throws [[CommitConflictException]]
    * when a concurrent committer already took the slot: re-staging on
    * top of the new state is the caller's job ([[commitLoop]]). Staged
    * artifacts all carry caller-unique names ([[stageDir]], uniquely
    * named blooms), so a lost race leaves only unreferenced orphans.
    */
  private def commit(spark: SparkSession, path: String, expectedNext: Long,
                     m: Manifest, ref: Option[String] = None): Long = {
    // `ref` routes the publish into a BRANCH chain (`_versions/refs/<name>/`)
    // instead of the main chain — same body format, same atomic
    // create-if-absent slot race, so branch committers get exactly the
    // optimistic-concurrency guarantees main committers do.
    val vd = ref.fold(versionsDir(path))(r => branchDir(path, r))
    val f = fs(spark, vd)
    f.mkdirs(vd)
    val tmp = new Path(vd, s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    val body = new StringBuilder()
      .append(m.dirs.mkString(",")).append('\n')
      .append(m.format).append('\n')
    m.bloom.foreach(b => body.append("bloom:").append(b).append('\n'))
    body.append("schema:").append(m.schema.json).append('\n')
    if (m.statsCols.nonEmpty)
      body.append("stats:").append(m.statsCols.mkString(",")).append('\n')
    if (m.tombstones.nonEmpty)
      body.append("tombstones:").append(m.tombstones.mkString(",")).append('\n')
    m.morKey.foreach(k => body.append("morkey:").append(k).append('\n'))
    body.append("kind:").append(m.kind).append('\n')
    if (m.partitionCols.nonEmpty)
      body.append("partition:").append(m.partitionCols.mkString(",")).append('\n')
    if (m.partEvolved)
      body.append("partevolved:1").append('\n')
    if (m.physmap.nonEmpty)
      body.append("physmap:").append(
        m.physmap.toSeq.sortBy(_._1).map { case (l, p) => s"$l=$p" }.mkString(","))
        .append('\n')
    if (m.physRetired.nonEmpty)
      body.append("physretired:").append(m.physRetired.mkString(",")).append('\n')
    if (!m.hashesValid)
      body.append("nohashes:1").append('\n')
    if (m.posDeletes.nonEmpty)
      body.append("posdel:").append(m.posDeletes.mkString(",")).append('\n')
    m.streamEpoch.foreach { case (qid, e) =>
      body.append("streamepoch:").append(qid).append('=').append(e).append('\n') }
    m.constraints.foreach(c => body.append("constraint:").append(c.name)
      .append(':').append(c.mode).append(':').append(c.expr).append('\n'))
    // the commit wall-clock instant — [[readAtTimestamp]]'s index.
    // Stamped HERE so every operator (including a rollback copying an
    // old manifest) records when IT committed, not when its content
    // first appeared. STRICTLY INCREASING by construction: the stamp is
    // clamped to parent's recorded instant + 1, so two commits landing
    // in one millisecond tick (or behind a skewed-back clock) still get
    // distinct, ordered instants — what makes the history-row ↔
    // versionAtTimestamp round trip EXACT rather than newest-of-a-tie.
    // Read-side running-max monotonicization stays for chains stamped
    // before this clamp existed.
    val parentTs: Long =
      if (expectedNext <= 1L) Long.MinValue
      else try {
        // a branch commit's parent may live on the branch chain (later
        // branch commits) or on the main chain (the fork point)
        val parentFile = ref.map(r => branchManifestFile(path, r, expectedNext - 1))
          .filter(f.exists)
          .getOrElse(manifest(path, expectedNext - 1))
        parseManifestAt(spark, parentFile).ts
      } catch { case scala.util.control.NonFatal(_) => Long.MinValue }
    body.append("ts:")
      .append(math.max(System.currentTimeMillis(), parentTs + 1)).append('\n')
    try out.write(body.toString.getBytes("UTF-8")) finally out.close()
    val target = ref.fold(manifest(path, expectedNext))(r =>
      branchManifestFile(path, r, expectedNext))
    // Publish = atomic create-if-absent of the target name. POSIX
    // rename(2) silently REPLACES an existing file, making
    // exists-then-rename a TOCTOU on file:// (two racers could both
    // "win", the second replacing the first's manifest and orphaning
    // its committed delta) — local paths publish via link(2) instead:
    // hard-linking the tmp file to the target fails atomically with
    // EEXIST when the slot is taken. Every other scheme publishes via
    // FileContext.rename with Options.Rename.NONE ([[fcPublish]]) —
    // the refuse-existing rename, which HDFS resolves atomically at
    // the namenode. CONTRACT: an object-store FS whose rename is
    // non-atomic copy+delete (e.g. raw S3 connectors without a
    // metadata layer) still re-opens the race and needs an external
    // commit lock — as every manifest-based table format documents for
    // the same reason.
    val isLocal = {
      val scheme = target.toUri.getScheme
      scheme == null || scheme == "file"
    }
    val won =
      if (isLocal) {
        val tgt = java.nio.file.Paths.get(f.makeQualified(target).toUri.getPath)
        val src = java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath)
        try { java.nio.file.Files.createLink(tgt, src); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else fcPublish(spark, tmp, target)
    // local link leaves tmp in place either way; fcPublish consumed tmp
    // on success and left it on failure. Best-effort: a won slot is a
    // PUBLISHED commit that must never surface as failed (callers would
    // reclaim staged dirs the manifest now references); [[vacuum]]
    // reaps a leftover `.tmp-*`
    if (isLocal || !won)
      try f.delete(tmp, false) catch { case scala.util.control.NonFatal(_) => () }
    if (!won) throw new CommitConflictException(
      s"concurrent commit won version $expectedNext at $path; " +
        "re-stage against the current snapshot and retry")
    expectedNext
  }

  /** A commit lost the version-slot race to a concurrent committer.
    * [[commitLoop]] catches this and rebases; the operators that publish
    * outside it (write/merge/metadata commits) surface it — their
    * staged output was derived from a snapshot that is no longer
    * current, so only the caller can decide to recompute.
    */
  final class CommitConflictException(message: String)
    extends java.io.IOException(message)

  /** Refuse-existing publish for non-local schemes: FileContext.rename
    * defaults to Options.Rename.NONE, which throws
    * FileAlreadyExistsException when the destination exists — on HDFS
    * this check-and-rename is one atomic namenode operation (unlike
    * FileSystem.rename, whose local implementation silently replaces,
    * and unlike exists+rename, which is a TOCTOU on every scheme).
    * Returns true when this committer won the version slot. Only the
    * atomicity is scheme-dependent; the mechanics are spec-pinned on
    * file:// (the sole scheme in this environment).
    */
  private[graft] def fcPublish(spark: SparkSession, tmp: Path, target: Path): Boolean = {
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      target.toUri, spark.sparkContext.hadoopConfiguration)
    try { fc.rename(tmp, target); true }
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
  }

  /** How many times [[commitLoop]] publishes before it gives up. */
  private val commitAttempts = 5

  /** Test seam: [[commitLoop]] clears it, then fires it with the op
    * name before every publish attempt, so a spec can land a
    * deterministic racing commit in the loser's window (no thread
    * timing); a racer that re-arms it wins every slot. No-op in
    * production.
    */
  private[graft] var commitFault: String => Unit = _ => ()

  /** The optimistic-commit protocol of every incremental operator — the
    * Iceberg commit-retry contract reduced to its kernel. Staged
    * artifacts carry committer-unique names, so losing the version slot
    * loses no work. Each attempt:
    *
    *  1. re-homes the `staged` artifacts (data dirs [[stageCommit]]
    *     staged, with their hash and stats sidecars; `t<v>-`
    *     tombstones) at the slot version by pure
    *     rename ([[rehome]]). The name must carry the COMMIT version:
    *     the merge-on-read overlay orders rows against tombstones by it,
    *     and a stale number would let an outstanding tombstone mask
    *     freshly-committed rows;
    *  2. asks `build` for the manifest, given the slot version, the base
    *     manifest (the op's own parent on attempt 0, then the winner's)
    *     and every commit that interleaved since that parent (empty on
    *     attempt 0). `build` runs the op's own gate and may refuse;
    *     None means the base already holds what the op wanted, and
    *     commitLoop returns the base version;
    *  3. publishes through [[commit]]. On [[CommitConflictException]]
    *     it resolves the winner: on a branch (`ref`) the branch head,
    *     on the main chain the latest manifest, where every interleaved
    *     kind must be in `admits` (else the op refuses with `why(kind)`
    *     or the default reason). The winner must also keep the schema,
    *     partitioning and column mapping of the manifest just built —
    *     the staged files were written under them.
    *
    * It publishes at most 5 times ([[commitAttempts]]) and then gives
    * up with an IOException. With `reclaim` set, a terminal failure
    * deletes the staged artifacts plus the listed paths: nothing that
    * fails here was published. Otherwise they stay for [[vacuum]].
    *
    * Admission, the interleaved kinds each op rebases over, is one named
    * set per op built from the commit classifier's kind sets
    * (`appendKinds` = append fast-forward, `layoutKinds` = compact
    * binpack, `posMaskKinds` = posdelete posdelete-compact,
    * `positionalKinds` = those + posupdate, `overlayKinds` = those +
    * merge-on-read):
    * {{{
    *   append, commitStreamAppend  appendAdmits    appendKinds layoutKinds overlayKinds
    *   ingest, ingestFuzzy         ingestAdmits    appendKinds layoutKinds posMaskKinds
    *   compact, compactSmall       appendKinds     (only appends keep the replaced dirs)
    *   mergeOnRead                 morAdmits       appendKinds binpack merge-on-read
    *   commitPositionalDelta       posDeltaAdmits  appendKinds positionalKinds
    *   compactPosDeletes           posFoldAdmits   appendKinds overlayKinds
    *   appendBranch                none: the branch head (branch chains only append)
    * }}}
    */
  private def commitLoop(spark: SparkSession, path: String, op: String,
      parentV: Long, parent: Option[Manifest], staged: Seq[String],
      admits: Set[String], why: PartialFunction[String, String] = PartialFunction.empty,
      ref: Option[String] = None, reclaim: Option[Seq[Path]] = None)(
      build: (Long, Option[Manifest], Seq[(Long, Manifest)]) => Option[Manifest]): Long = {
    val f = fs(spark, new Path(path))
    var names = staged
    var baseV = parentV
    var base = parent
    var chain = Vector.empty[(Long, Manifest)]
    var attempt = 0
    try {
      while (true) {
        val fault = commitFault
        commitFault = _ => ()
        fault(op)
        val v = baseV + 1
        names = names.map(rehome(f, path, _, v))
        val m = build(v, base, chain) match {
          case Some(m) => m
          case None => return baseV
        }
        try return commit(spark, path, v, m, ref)
        catch { case _: CommitConflictException => () }
        attempt += 1
        if (attempt == commitAttempts) throw new java.io.IOException(
          s"$op at $path lost $commitAttempts consecutive commit races; " +
            "giving up — retry under lower commit contention")
        val (wv, wm) = ref match {
          case Some(r) => branchHeadManifest(spark, path, r)
          case None =>
            val wv = currentVersion(spark, path).getOrElse(throw new IllegalStateException(
              s"commit conflict at $path with no current version — manifest store inconsistent"))
            val fresh = ((baseV + 1) to wv).map(cv => cv -> readManifestChecked(spark, path, cv))
            fresh.foreach { case (cv, cm) =>
              val k = cm.kind
              if (!admits.contains(k)) throw new java.io.IOException(
                s"$op at $path lost the commit race to version $cv (kind '$k'); " +
                  why.applyOrElse(k, (_: String) =>
                    s"only ${admits.toSeq.sorted.mkString("/")} interleavings rebase automatically") +
                  s" — re-run the $op against the current snapshot")
            }
            chain ++= fresh
            fresh.last
        }
        def refuse(what: String) = throw new java.io.IOException(
          s"$op at $path lost the commit race and the winner committed a different " +
            s"$what; re-run the $op against the current snapshot")
        if (wm.schema != m.schema) refuse("schema")
        if (wm.partitionCols != m.partitionCols) refuse("partitioning")
        if (wm.physmap != m.physmap) refuse("column mapping")
        baseV = wv
        base = Some(wm)
      }
      throw new IllegalStateException("unreachable")
    } catch {
      case e: Throwable if reclaim.isDefined =>
        try {
          names.flatMap(stagedPaths(path, _)).foreach(f.delete(_, true))
          reclaim.get.foreach(f.delete(_, true))
        } catch { case _: Throwable => () }
        throw e
    }
  }

  /** Every location keyed by a staged artifact's name: a data dir with
    * its hash and stats sidecars, or a merge-on-read tombstone.
    */
  private def stagedPaths(path: String, name: String): Seq[Path] =
    Seq(new Path(path, name), hashesDir(path, name), statsDir(path, name),
      tombstonePath(path, name))

  /** A staged name ([[stageDir]] dir or `t<v>-<uuid>` tombstone)
    * renumbered for commit version `v`; the uuid suffix keeps it
    * committer-unique.
    */
  private def atVersion(name: String, v: Long): String = {
    val (prefix, rest) = name.span(!_.isDigit)
    prefix + f"$v%08d" + rest.dropWhile(_.isDigit)
  }

  /** Move every location keyed by staged name `from` to `to` (stats
    * rows key on FILE names, which rename preserves).
    */
  private def renameStaged(f: org.apache.hadoop.fs.FileSystem, path: String,
                           from: String, to: String): Unit = {
    val moves = stagedPaths(path, from).zip(stagedPaths(path, to)).filter(m => f.exists(m._1))
    if (moves.isEmpty || !moves.forall { case (a, b) => f.rename(a, b) })
      throw new java.io.IOException(s"rebase could not rename staged $from to $to under $path")
  }

  /** Re-home a staged artifact at commit version `v` (a no-op when its
    * name already carries `v`); returns the new name.
    */
  private def rehome(f: org.apache.hadoop.fs.FileSystem, path: String,
                     name: String, v: Long): String = {
    val to = atVersion(name, v)
    if (to != name) renameStaged(f, path, name, to)
    to
  }

  /** An APPEND commit's manifest: `base` plus one delta dir. The base's
    * overlay, constraints and sidecar trust carry forward untouched —
    * the delta commits at a later version than every outstanding
    * tombstone, so the mask never touches it, and a fresh delta sidecar
    * cannot heal the base dirs' untrusted ones.
    */
  private def appendManifest(base: Option[Manifest], dir: String, format: String,
      bloom: Option[String], schema: StructType, statsCols: Seq[String],
      partitionCols: Seq[String], physmap: Map[String, String],
      physRetired: Seq[String]): Manifest =
    Manifest(base.map(_.dirs).getOrElse(Nil) :+ dir, format, bloom, schema,
      statsCols, base.map(_.tombstones).getOrElse(Nil), base.flatMap(_.morKey),
      kind = "append", partitionCols = partitionCols,
      constraints = base.map(_.constraints).getOrElse(Nil), physmap = physmap,
      physRetired = physRetired, hashesValid = base.forall(_.hashesValid),
      posDeletes = base.map(_.posDeletes).getOrElse(Nil),
      partEvolved = base.exists(_.partEvolved))

  /** Commit `df` as the table's next snapshot (the full-table-overwrite
    * write path; [[ingest]] is the incremental append path). `statsCols`
    * names columns to carry per-file min/max stats sidecars for
    * ([[readWhere]] prunes on them); Nil inherits the parent manifest's
    * stats config, so a table keeps its pruning columns across plain
    * overwrites.
    */
  def write(spark: SparkSession, df: DataFrame, path: String,
            format: String = "parquet", statsCols: Seq[String] = Nil,
            partitionCols: Seq[String] = Nil): Long = {
    val cur = currentVersion(spark, path)
    val next = cur.getOrElse(0L) + 1
    val effStats = effectiveStatsCols(spark, path, cur, statsCols)
    val parentM = cur.map(v => readManifestChecked(spark, path, v))
    // an overwrite replaces every directory at once, so it may REDEFINE
    // the table's partitioning; Nil inherits the parent's (a plain
    // overwrite keeps the table's layout, like its stats config)
    val effParts =
      if (partitionCols.nonEmpty) partitionCols
      else parentM.map(_.partitionCols).getOrElse(Nil)
    requirePartitionable(effParts, df.schema, "write")
    // constraints persist like the stats config: an overwrite replaces
    // CONTENT, not the table contract — the new content is gated
    val constraints = parentM.map(_.constraints).getOrElse(Nil)
    val gated = enforceConstraints(df, constraints, "write")
    // column mapping: an overwrite keeps the TABLE's identity, so kept
    // logical names keep their physical names; columns entering the
    // schema get identity physicals unless claimed/retired
    val parentPhys = parentM.map(_.physmap).getOrElse(Map.empty)
    val parentRetired = parentM.map(_.physRetired).getOrElse(Nil)
    val committedSchema = nullableSchema(df.schema)
    val physmap = assignPhysical(committedSchema, parentPhys, parentRetired)
    val dir = stageDir(next)
    // the declared schema also covers a zero-row PARTITIONED overwrite
    // (CREATE TABLE of a partitioned table), which stages no data files
    // a bare load could infer from
    stageCommit(spark, "write", path, dir, Some(gated), format, committedSchema, physmap,
      effParts, effStats)
    commit(spark, path, next, Manifest(Seq(dir), format, None,
      committedSchema, effStats, kind = "overwrite",
      partitionCols = effParts, constraints = constraints,
      physmap = physmap, physRetired = parentRetired))
  }

  /** Enforce the table's CHECK constraints on a write batch — the gate
    * every content-adding operator runs BEFORE staging I/O. SQL CHECK
    * semantics: a row violates only when the expression is FALSE (NULL
    * passes). Constraints apply in declaration order; `drop`-mode
    * constraints filter the batch (the filter folds into the staging
    * write — no extra pass), `fail`-mode constraints refuse the whole
    * batch loudly on the first violation (one limit-3 scan of the
    * batch per fail constraint — batch-scale, never table-scale).
    * Rows matching `exempt` pass unchecked (merge DELETE markers,
    * whose payload columns carry no contract).
    */
  private def enforceConstraints(df: DataFrame, cs: Seq[Constraint], op: String,
                                 exempt: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    if (cs.isEmpty) return df
    val ex = exempt.getOrElse(lit(false))
    var out = df
    cs.foreach { c =>
      val violates = !ex && !coalesce(expr(c.expr), lit(true))
      c.mode match {
        case "drop" => out = out.filter(!violates)
        case _ =>
          val bad = phase(df.sparkSession, op, "constraint check")(
            out.filter(violates).limit(3).collect())
          if (bad.nonEmpty) throw new IllegalArgumentException(
            s"$op batch violates CHECK constraint '${c.name}' (${c.expr}); " +
              s"first violating row(s): ${bad.map(_.toString.take(160)).mkString("; ")}. " +
              "Fix the batch, drop the constraint, or re-add it with mode='drop' " +
              "to exclude violating rows instead")
      }
    }
    out
  }

  /** The constraint-name grammar: identifier-ish, no ':' (the manifest
    * line separator) and no newline.
    */
  private val constraintName = "[A-Za-z0-9_][A-Za-z0-9_.-]*".r

  /** Add a table CHECK constraint as a metadata commit (the Delta
    * `ALTER TABLE ADD CONSTRAINT` / DLT expectation contract — see
    * [[Constraint]] for the mode semantics). The expression is resolved
    * through the ANALYZER against the current snapshot (unknown columns
    * and non-boolean shapes fail here, not batches later), and a
    * `fail`-mode constraint additionally validates the EXISTING data —
    * one scan, violations refuse the add with samples (a constraint the
    * table already breaks would make every future read a lie); a
    * `drop`-mode constraint gates only future writes and skips the
    * scan. Later [[ingest]]/[[write]]/[[merge]]/[[mergeOnRead]] batches
    * are gated O(batch). A lost version-slot race surfaces
    * [[CommitConflictException]] — re-run against the current snapshot.
    * NOTE [[rollback]] restores a target manifest VERBATIM, constraint
    * config included: rolling back across an addConstraint removes it.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
                    exprSql: String, mode: String = "fail"): Long = {
    require(constraintName.pattern.matcher(name).matches(),
      s"constraint name must match ${constraintName.regex}; got '$name'")
    require(mode == "fail" || mode == "drop",
      s"constraint mode must be 'fail' or 'drop'; got '$mode'")
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    require(!exprSql.contains("\n") && !exprSql.contains("\r"),
      "constraint expression must be a single line")
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot at $path to constrain; create the table first"))
    val m = readManifestChecked(spark, path, cur)
    if (m.constraints.exists(_.name == name)) throw new IllegalArgumentException(
      s"constraint '$name' already exists on $path " +
        s"(${m.constraints.find(_.name == name).get.expr}); drop it first")
    // analyzer resolution + type check, driver-only: unknown columns
    // throw here; a non-boolean expression fails the filter analysis
    val probe = readAt(spark, path, cur)
    probe.filter(expr(exprSql)).queryExecution.analyzed
    if (mode == "fail") {
      val bad = probe.filter(!coalesce(expr(exprSql), lit(true))).limit(3).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"existing data at $path violates '$name' (${exprSql}); " +
          s"first violating row(s): ${bad.map(_.toString.take(160)).mkString("; ")}. " +
          "A fail-mode constraint must hold over existing data (clean it first " +
          "or add with mode='drop' to gate only future writes)")
    }
    commit(spark, path, cur + 1, m.copy(
      constraints = m.constraints :+ Constraint(name, mode, exprSql),
      kind = "constraint"))
    cur + 1
  }

  // ---- snapshot tags (named version pins) --------------------------------

  private def tagsDir(path: String) = new Path(versionsDir(path), "tags")
  private def tagFile(path: String, name: String) = new Path(tagsDir(path), name)

  /** Pin a retained version under a NAME (the Iceberg tag contract) —
    * the reproducibility primitive a training pipeline needs: tag the
    * corpus vintage a run consumed (`tag(path, "run-2026-08-15")`) and
    * [[expire]] keeps that snapshot alive FOREVER (refcounted like any
    * retained manifest) while the rest of the history ages out. Tags
    * are one tiny file each under `_versions/tags/<name>`, published
    * create-if-absent so concurrent taggers cannot silently overwrite
    * each other; re-pointing a name = dropTag + tag. Reads:
    * [[readTag]] / [[tags]]. An instant-based read that lands in the
    * gap an expired range leaves AROUND a tagged island refuses loudly
    * (see [[versionAtTimestamp]]) — the tag pins one state, not the
    * history near it.
    */
  def tag(spark: SparkSession, path: String, name: String,
          version: Option[Long] = None): Long = {
    require(constraintName.pattern.matcher(name).matches(),
      s"tag name must match ${constraintName.regex}; got '$name'")
    val vs = versions(spark, path)
    val v = version.orElse(vs.lastOption).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path to tag"))
    if (!vs.contains(v)) throw new IllegalArgumentException(
      s"cannot tag version $v of $path: retained versions are " +
        s"${vs.headOption.getOrElse(0L)}..${vs.lastOption.getOrElse(0L)}")
    val f = fs(spark, tagsDir(path))
    f.mkdirs(tagsDir(path))
    val out =
      try f.create(tagFile(path, name), false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.io.IOException =>
          throw new IllegalArgumentException(
            s"tag '$name' already exists on $path (at version " +
              s"${tags(spark, path).getOrElse(name, -1L)}); dropTag it first to re-point")
      }
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    v
  }

  /** Remove a tag; the pinned version becomes expirable again. */
  def dropTag(spark: SparkSession, path: String, name: String): Unit = {
    val f = fs(spark, tagsDir(path))
    if (!f.exists(tagFile(path, name))) throw new IllegalArgumentException(
      s"no tag named '$name' on $path (have: ${tags(spark, path).keys.toSeq.sorted.mkString(", ")})")
    f.delete(tagFile(path, name), false)
    ()
  }

  /** All tags as name → version. One directory listing. */
  def tags(spark: SparkSession, path: String): Map[String, Long] = {
    val d = tagsDir(path)
    val f = fs(spark, d)
    if (!f.exists(d)) Map.empty
    else f.listStatus(d).filter(_.isFile).map { s =>
      val in = f.open(s.getPath)
      val v = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong
      finally in.close()
      s.getPath.getName -> v
    }.toMap
  }

  /** Read the snapshot a tag pins: [[readAt]] of the tagged version. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame = {
    val v = tags(spark, path).getOrElse(name, throw new IllegalArgumentException(
      s"no tag named '$name' on $path (have: ${tags(spark, path).keys.toSeq.sorted.mkString(", ")})"))
    readAt(spark, path, v)
  }

  // ---- named branches (writable refs) ------------------------------------

  private def refsDir(path: String) = new Path(versionsDir(path), "refs")
  private[graft] def branchDir(path: String, name: String) =
    new Path(refsDir(path), name)
  private def branchBaseFile(path: String, name: String) =
    new Path(branchDir(path, name), "base")
  private[graft] def branchManifestFile(path: String, name: String, v: Long) =
    new Path(branchDir(path, name), f"v$v%08d.txt")

  /** Create a writable ref — the Iceberg branch contract, and the
    * write-audit-publish (WAP) primitive a 100 TB ingestion fleet
    * gates with: stage candidate batches onto an `audit` branch
    * ([[appendBranch]]), validate them THERE (the main table never
    * sees unaudited rows), then [[fastForward]] main to the audited
    * state in ONE atomic commit. A branch forks from a committed main
    * version (`version`, default current): its chain lives under
    * `_versions/refs/<name>/` as ordinary manifests numbered from the
    * fork point, while its DATA shares the table root — manifests are
    * self-contained full dir lists, so a branch read never consults
    * the main chain past the fork and branch deltas are refcounted by
    * [[expire]]/[[vacuum]] exactly like main-referenced dirs. The
    * branch name is published create-if-absent (its `base` pointer),
    * so two racing creators cannot silently share a ref.
    */
  def createBranch(spark: SparkSession, path: String, name: String,
                   version: Option[Long] = None): Long = {
    require(constraintName.pattern.matcher(name).matches(),
      s"branch name must match ${constraintName.regex}; got '$name'")
    require(name != "base", "'base' is reserved inside a branch directory")
    val vs = versions(spark, path)
    val v = version.orElse(vs.lastOption).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot at $path to branch from"))
    if (!vs.contains(v)) throw new IllegalArgumentException(
      s"cannot branch from version $v of $path: retained versions are " +
        s"${vs.headOption.getOrElse(0L)}..${vs.lastOption.getOrElse(0L)}")
    val d = branchDir(path, name)
    val f = fs(spark, d)
    f.mkdirs(d)
    val out =
      try f.create(branchBaseFile(path, name), false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.io.IOException =>
          throw new IllegalArgumentException(
            s"branch '$name' already exists on $path; dropBranch it first")
      }
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    v
  }

  /** The branch's fork-point version on the main chain. */
  private def branchBase(spark: SparkSession, path: String, name: String): Long = {
    val bf = branchBaseFile(path, name)
    val f = fs(spark, bf)
    if (!f.exists(bf)) throw new IllegalArgumentException(
      s"no branch named '$name' on $path " +
        s"(have: ${branches(spark, path).keys.toSeq.sorted.mkString(", ")})")
    val in = f.open(bf)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong
    finally in.close()
  }

  /** Branch-chain versions STRICTLY past the base pointer, ascending.
    * Manifests at or below the base are consumed leftovers of a
    * [[fastForward]] whose cleanup crashed — their content is already
    * published on main, so they are invisible here (and reclaimed by
    * the next fast-forward reset or [[dropBranch]]).
    */
  private[graft] def branchChainVersions(spark: SparkSession, path: String,
                                         name: String): Seq[Long] = {
    val base = branchBase(spark, path, name)
    val d = branchDir(path, name)
    val f = fs(spark, d)
    f.listStatus(d).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .flatMap(n => scala.util.Try(
        n.stripPrefix("v").stripSuffix(".txt").toLong).toOption)
      .filter(_ > base).toSeq.sorted
  }

  /** All branches as name → (base version, head version). head == base
    * for a branch with no commits yet. One listing per branch.
    */
  def branches(spark: SparkSession, path: String): Map[String, (Long, Long)] = {
    val rd = refsDir(path)
    val f = fs(spark, rd)
    if (!f.exists(rd)) Map.empty
    else f.listStatus(rd).filter(_.isDirectory).flatMap { s =>
      val n = s.getPath.getName
      scala.util.Try {
        val b = branchBase(spark, path, n)
        n -> (b, branchChainVersions(spark, path, n).lastOption.getOrElse(b))
      }.toOption // a concurrently-dropped or half-created branch lists as absent
    }.toMap
  }

  /** The branch head's (version, manifest): the latest branch-chain
    * manifest, or the fork-point main manifest when the branch has no
    * commits (that main version is expire-pinned by the branch's
    * existence — see [[expire]]).
    */
  private[graft] def branchHeadManifest(spark: SparkSession, path: String,
                                        name: String): (Long, Manifest) = {
    val base = branchBase(spark, path, name)
    branchChainVersions(spark, path, name).lastOption match {
      case Some(v) => v -> parseManifestAt(spark, branchManifestFile(path, name, v))
      case None => base -> readManifestChecked(spark, path, base)
    }
  }

  /** Read the branch head — same overlay machinery as [[read]], same
    * isolation guarantees (the head manifest is immutable once
    * committed; later branch or main commits never touch its files).
    */
  def readBranch(spark: SparkSession, path: String, name: String): DataFrame = {
    val (_, m) = branchHeadManifest(spark, path, name)
    readFromManifest(spark, path, m)
  }

  /** Append a batch to a BRANCH head: [[append]]'s kernel run on the
    * branch ref, so the same contract holds (schema additive-drift
    * refusal, CHECK-constraint gate, stats sidecars, O(delta) commit,
    * optimistic-concurrency retry against racing branch appenders),
    * with the chain's committed format, stats config and partitioning.
    * Main is never touched: the staged delta dir lands under the table
    * root (shared data namespace, caller-unique name) but only the
    * branch manifest references it until [[fastForward]] publishes.
    * Branch chains are append-only by construction — the rebase after
    * a lost slot race therefore only ever sees sibling appends, so it
    * re-parents onto the branch head and admits no main-chain kind.
    */
  def appendBranch(spark: SparkSession, incoming: DataFrame, path: String,
                   name: String): Long = {
    val (headV, head) = branchHeadManifest(spark, path, name)
    appendAt(spark, incoming, path, "appendBranch", Some(name), headV, Some(head),
      head.format, Nil, Nil, admits = Set.empty)
  }

  /** Publish a branch onto main — Iceberg's fast-forward merge. Legal
    * exactly when main has NOT advanced past the branch's fork point
    * (main head == branch base): the branch head manifest (a
    * self-contained superset of the fork state, since branch chains
    * are append-only) commits onto main as ONE atomic slot-race
    * publish of kind `fast-forward` — a squash merge, so the multi-
    * file chain can never publish torn. The branch then resets for
    * the next WAP cycle: its base re-points at the published version
    * and the consumed chain manifests are dropped. Every crash window
    * in the reset is self-healing: leftovers at or below the new base
    * are invisible ([[branchChainVersions]]); leftovers above it
    * describe exactly the published content, so the worst outcome is
    * a redundant re-publish of identical dirs (a no-op delta).
    * Divergence (main advanced past the base) refuses loudly — graft
    * has no merge-commit machinery, and silently rebasing audited
    * data under the auditor would defeat the WAP gate.
    */
  def fastForward(spark: SparkSession, path: String, name: String): Long = {
    val base = branchBase(spark, path, name)
    val chain = branchChainVersions(spark, path, name)
    val mainHead = currentVersion(spark, path).getOrElse(
      throw new IllegalStateException(
        s"no committed snapshot at $path — branch metadata inconsistent"))
    if (chain.isEmpty) return mainHead // nothing staged; main is the branch
    if (mainHead != base) throw new IllegalStateException(
      s"cannot fast-forward branch '$name' onto $path: main advanced to " +
        s"version $mainHead past the fork point $base — re-create the branch " +
        "from the current head and re-stage (graft refuses non-fast-forward merges)")
    val headM = parseManifestAt(spark, branchManifestFile(path, name, chain.last))
    val published =
      try commit(spark, path, base + 1, headM.copy(kind = "fast-forward"))
      catch { case _: CommitConflictException =>
        throw new IllegalStateException(
          s"fast-forward of branch '$name' at $path lost the publish race: " +
            "a concurrent main commit advanced the table — re-validate and retry")
      }
    // reset: re-point base FIRST (makes the consumed chain invisible),
    // then reclaim its files; see the crash-window note above
    val f = fs(spark, branchBaseFile(path, name))
    val out = f.create(branchBaseFile(path, name), true)
    try out.write(published.toString.getBytes("UTF-8")) finally out.close()
    chain.foreach(v => f.delete(branchManifestFile(path, name, v), false))
    published
  }

  /** Remove a branch ref. Its un-published delta dirs become
    * unreferenced and age out via [[vacuum]]'s grace window.
    */
  def dropBranch(spark: SparkSession, path: String, name: String): Unit = {
    val d = branchDir(path, name)
    val f = fs(spark, d)
    if (!f.exists(branchBaseFile(path, name))) throw new IllegalArgumentException(
      s"no branch named '$name' on $path " +
        s"(have: ${branches(spark, path).keys.toSeq.sorted.mkString(", ")})")
    f.delete(d, true)
    ()
  }

  /** Every live branch-chain manifest — the extra liveness ROOTS
    * [[expire]] and [[vacuum]] refcount against, so branch-only delta
    * dirs (and inherited overlay sidecars) survive main-chain
    * retention while the branch lives.
    */
  private[graft] def allBranchManifests(spark: SparkSession,
                                        path: String): Seq[Manifest] =
    branches(spark, path).keys.toSeq.flatMap { n =>
      branchChainVersions(spark, path, n).map(v =>
        parseManifestAt(spark, branchManifestFile(path, n, v)))
    }

  /** Remove a CHECK constraint by name as a metadata commit. */
  def dropConstraint(spark: SparkSession, path: String, name: String): Long = {
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    val m = readManifestChecked(spark, path, cur)
    if (!m.constraints.exists(_.name == name)) throw new IllegalArgumentException(
      s"no constraint named '$name' on $path " +
        s"(have: ${m.constraints.map(_.name).mkString(", ")})")
    commit(spark, path, cur + 1, m.copy(
      constraints = m.constraints.filterNot(_.name == name),
      kind = "drop-constraint"))
    cur + 1
  }

  // ---- column mapping: rename / drop as metadata-only commits ------------

  /** Top-level column names a constraint expression references —
    * parse-only (no resolution), the rename/drop guard's input.
    */
  private def referencedCols(spark: SparkSession, exprSql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }

  /** Shared rename/drop refusals: the operations are metadata-only, so
    * anything whose on-disk or persisted-expression state NAMES the
    * column must be resolved first, loudly — partition columns (their
    * name IS the directory layout), the merge-on-read key while an
    * overlay is outstanding (tombstone files carry the key column under
    * its current name), and CHECK constraints (their SQL would silently
    * stop resolving).
    */
  private def requireColumnUnpinned(spark: SparkSession, path: String,
                                    m: Manifest, name: String, op: String): Unit = {
    if (m.partitionCols.contains(name)) throw new IllegalArgumentException(
      s"$op: '$name' is a partition column of $path — the physical directory " +
        "layout is named by it; rewrite the table with different partitioning first")
    if (m.morKey.contains(name)) throw new IllegalArgumentException(
      s"$op: '$name' keys ${m.tombstones.size} outstanding merge-on-read " +
        s"tombstone sidecar(s) at $path; run compact() to materialize the " +
        "overlay first")
    val refs = m.constraints.filter(c =>
      referencedCols(spark, c.expr).exists(_.equalsIgnoreCase(name)))
    if (refs.nonEmpty) throw new IllegalArgumentException(
      s"$op: '$name' is referenced by CHECK constraint(s) " +
        refs.map(c => s"${c.name} (${c.expr})").mkString(", ") +
        s" at $path; dropConstraint first, then re-add against the new schema")
  }

  /** Rename a column as a METADATA-ONLY commit (the Delta column-mapping
    * "name mode" / Iceberg `RENAME COLUMN` contract): no data file is
    * read or written. The column's PHYSICAL name — what every retained
    * data file carries — never changes; the new manifest just maps the
    * new logical name onto it (`physmap`), and readers of every later
    * version alias physical→logical at the scan. Time travel is exact:
    * an old version reads under ITS manifest's names. Content sidecars
    * (bloom, hash) key on VALUES, not names, so the incremental-ingest
    * dedup invariant survives a rename of the content column — the next
    * `ingest(textCol = <newName>)` probes the same universe. Stats
    * sidecars key on physical names and stay valid; the persisted
    * `stats:` config follows the rename. Refuses (loudly) on partition
    * columns, the outstanding merge-on-read key, and constraint-
    * referenced columns — see [[requireColumnUnpinned]]. Concurrency:
    * optimistic like every commit; a lost race throws
    * [[CommitConflictException]] (metadata-only — just re-run), and
    * in-flight writers that staged under the old mapping refuse their
    * rebase (the winner committed a different schema/mapping).
    */
  def renameColumn(spark: SparkSession, path: String,
                   oldName: String, newName: String): Long = {
    require(newName.nonEmpty, "renameColumn: new name must be non-empty")
    require(!newName.exists(c => c == ',' || c == '=' || c == ':' ||
        c == '\n' || c == '\r'),
      s"renameColumn: new name must not contain ',', '=', ':' or newlines: '$newName'")
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    val m = readManifestChecked(spark, path, cur)
    require(m.schema.fieldNames.contains(oldName),
      s"renameColumn: '$oldName' is not a table column " +
        s"(${m.schema.fieldNames.mkString(", ")})")
    if (newName != oldName && m.schema.fieldNames.exists(_.equalsIgnoreCase(newName)))
      throw new IllegalArgumentException(
        s"renameColumn: a column named '$newName' already exists " +
          "(Spark's default resolver is case-insensitive)")
    requireColumnUnpinned(spark, path, m, oldName, "renameColumn")
    if (newName == oldName) return cur
    val physical = m.physOf(oldName)
    // when the rename keeps a physical mapping, that physical name — an
    // ORIGINAL schema name never validated at first write — lands in the
    // '='/','-delimited physmap manifest line; refuse unsafe ones loudly
    // (a rewrite under the new name clears the mapping entirely)
    if (newName != physical)
      requireManifestSafe(physical, "renameColumn",
        s"physical name of column '$oldName'")
    val newMap0 = m.physmap - oldName
    val newMap =
      if (newName == physical) newMap0 else newMap0 + (newName -> physical)
    val newSchema = StructType(m.schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val newStats = m.statsCols.map(c => if (c == oldName) newName else c)
    commit(spark, path, cur + 1, m.copy(schema = newSchema,
      statsCols = newStats, physmap = newMap, kind = "renamecol"))
    cur + 1
  }

  /** Drop a column as a METADATA-ONLY commit: no data file is read or
    * written — the column's bytes stay in retained files (old versions
    * still read them; time travel is exact) but leave every projection
    * from this version on. The physical name is RETIRED: a later re-add
    * of the same logical name (ingest `evolveSchema` / overwrite) mints
    * a fresh physical name, so the dropped column's bytes can never
    * resurrect as the new column's values. The manifest's bloom
    * reference is conservatively CLEARED **and the per-dir hash
    * sidecars are marked untrusted** (`nohashes` manifest flag): if the
    * dropped column was the table's content-dedup column, the bloom AND
    * the `_hashes` sidecars describe content that no longer exists
    * logically — [[existingHashes]] routes to the one-scan payload
    * fallback keyed on the NEXT ingest's content column until a rewrite
    * ([[compact]] with `textCol`, [[write]], [[merge]]) regenerates
    * sidecars keyed on live content, instead of verifying probe-positive
    * rows against hashes of dropped bytes (which would re-admit
    * duplicates, or wrongly drop new rows whose values collide with the
    * dropped column's). Same refusals as [[renameColumn]]; additionally
    * refuses to drop the last data column.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Long = {
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    val m = readManifestChecked(spark, path, cur)
    require(m.schema.fieldNames.contains(name),
      s"dropColumn: '$name' is not a table column " +
        s"(${m.schema.fieldNames.mkString(", ")})")
    requireColumnUnpinned(spark, path, m, name, "dropColumn")
    // the physical name is about to be written into the comma/colon-
    // delimited physretired manifest line; an unsafe original schema
    // name (never validated at first write) would commit an unreadable
    // or misparsed manifest — refuse loudly instead
    requireManifestSafe(m.physOf(name), "dropColumn",
      s"physical name of column '$name'")
    val remaining = m.schema.fields.filterNot(_.name == name)
    if (remaining.isEmpty || remaining.forall(f => m.partitionCols.contains(f.name)))
      throw new IllegalArgumentException(
        s"dropColumn: dropping '$name' would leave no data column at $path")
    commit(spark, path, cur + 1, m.copy(
      schema = StructType(remaining),
      statsCols = m.statsCols.filterNot(_ == name),
      physmap = m.physmap - name,
      physRetired = (m.physRetired :+ m.physOf(name)).distinct,
      bloom = None,
      hashesValid = false,
      kind = "dropcol"))
    cur + 1
  }

  /** Requested stats columns, or the parent manifest's persisted config
    * when the caller passed Nil — the table "remembers" its pruning
    * columns the way Iceberg persists metrics config in table
    * properties, so ingest/compact/merge maintain them without every
    * call site re-stating the list.
    */
  private def effectiveStatsCols(spark: SparkSession, path: String,
                                 cur: Option[Long], requested: Seq[String]): Seq[String] =
    if (requested.nonEmpty) requested
    else cur.map(v => readManifestChecked(spark, path, v).statsCols).getOrElse(Nil)

  private[graft] def nullableSchema(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  // ---- identity partitioning --------------------------------------------

  /** Validate a partitioning spec against the committed schema: every
    * partition column must be a schema column, and at least one data
    * column must remain (parquet cannot write a zero-column file).
    */
  private def requirePartitionable(cols: Seq[String], schema: StructType,
                                   ctx: String): Unit = {
    val missing = cols.filterNot(schema.fieldNames.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"$ctx: partition columns ${missing.mkString(", ")} not in schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    if (cols.nonEmpty && cols.size >= schema.size)
      throw new IllegalArgumentException(
        s"$ctx: partitioning on every column leaves no data columns to write")
  }

  /** The table's partitioning for an INCREMENTAL commit: the parent
    * manifest's spec, full stop. Partitioning is a physical-layout
    * contract every snapshot directory must share (a mixed chain breaks
    * the multi-dir partition discovery Spark's scan relies on), so an
    * append/merge may not restate it differently — re-partitioning a
    * table is a REWRITE ([[write]] redefines it, because an overwrite
    * replaces every directory at once).
    */
  private def inheritedPartitionCols(parent: Option[Manifest],
                                     requested: Seq[String],
                                     ctx: String): Seq[String] =
    parent match {
      case Some(pm) =>
        if (requested.nonEmpty && requested != pm.partitionCols)
          throw new IllegalArgumentException(
            s"$ctx: partitionCols ${requested.mkString(", ")} do not match the " +
              s"table's committed partitioning (${pm.partitionCols.mkString(", ")}); " +
              "changing a table's partitioning requires a full rewrite (write)")
        pm.partitionCols
      case None => requested
    }

  /** `schema` with every field renamed to its physical (on-disk) name —
    * what data files actually carry and what raw (pre-alias) readers
    * must declare. Identity when the manifest has no column mapping.
    */
  private def physSchema(schema: StructType, physmap: Map[String, String]): StructType =
    if (physmap.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = physmap.getOrElse(f.name, f.name))))

  /** A name about to be embedded in the comma/'='/':'-delimited manifest
    * lines (physmap values, physretired entries) must not contain the
    * delimiters — an unsafe one would commit a manifest that either
    * misparses into wrong names or fails the parse require on every
    * later read, leaving a committed table unreadable.
    */
  private def requireManifestSafe(name: String, op: String, what: String): Unit =
    if (name.exists(c => c == ',' || c == '=' || c == ':' ||
        c == '\n' || c == '\r'))
      throw new IllegalArgumentException(
        s"$op: $what ('$name') contains a manifest delimiter " +
          "(',', '=', ':' or newline) and cannot be recorded in the " +
          "column-mapping manifest; rewrite the table (write) under a " +
          "safe column name first")

  /** Physical-name assignment for a commit's schema (the column-mapping
    * invariant keeper): existing mappings are kept (filtered to live
    * fields), and a field WITHOUT a mapping gets one minted exactly when
    * its identity name is already claimed — by another column's physical
    * data or by a retired (dropped) column whose bytes still sit in
    * retained files. Claim checks are CASE-INSENSITIVE to match Spark's
    * default parquet column resolution: re-adding a dropped column under
    * a different case (N_CHARS after dropping n_chars) must still mint a
    * fresh physical name, or the case-insensitive reader would resolve
    * the new column to the retired column's bytes in old files — the
    * exact resurrection [[dropColumn]] promises to prevent.
    * Deterministic (`<name>__p<i>`), collision-checked against every
    * reserved name.
    */
  private def assignPhysical(schema: StructType, physmap: Map[String, String],
                             retired: Seq[String]): Map[String, String] = {
    val names = schema.fieldNames.toSeq
    val keep = physmap.filter { case (l, _) => names.contains(l) }
    if (retired.isEmpty && keep.isEmpty) return keep
    val reserved = scala.collection.mutable.Set[String]()
    reserved ++= keep.values.map(_.toLowerCase)
    reserved ++= retired.map(_.toLowerCase)
    reserved ++= names.map(_.toLowerCase)
    var out = keep
    names.foreach { n =>
      if (!out.contains(n) && (keep.values.exists(_.equalsIgnoreCase(n)) ||
          retired.exists(_.equalsIgnoreCase(n)))) {
        var i = 1
        var cand = s"${n}__p$i"
        while (reserved(cand.toLowerCase)) { i += 1; cand = s"${n}__p$i" }
        requireManifestSafe(cand, "ingest/write", s"minted physical name for column '$n'")
        out += n -> cand
        reserved += cand.toLowerCase
      }
    }
    out
  }

  /** Write one commit's data files from `df` (logical column names) into
    * `dest` and return the number of rows written, as counted by the
    * write job itself ([[GraftSqlShim.saveCounted]]) — callers never
    * re-read the dir to learn it. Only [[stageCommit]] calls it, so
    * every data dir a commit stages is written here: names translate to
    * the table's physical names at this one choke point, and "files
    * carry physical names" holds by construction (partition columns
    * too, though rename/drop refuse on them). A partitioned table is
    * written Hive-layout, `dest/<k1>=<v1>/.../part-*`: partition values
    * live in the path and Spark's partition discovery restores them on
    * read (each manifest
    * dir is a discovery root; the first non-`k=v` segment stops the
    * upward walk, so the snapshot-dir name never parses as a partition).
    *
    * On a PARTITIONED table the write distribution matters at scale: a
    * naive `partitionBy` makes every task open a file per partition
    * value it happens to hold — at thousands of tasks × hundreds of
    * values that is the small-files explosion (millions of files per
    * commit). The session conf `spark.graft.write.distribution` picks
    * the Iceberg write.distribution-mode answer:
    *   - `none` (default): no extra exchange — callers that already
    *     cluster (compact's range-exchange, sorted ingests) pay nothing
    *   - `hash`: one exchange on the partition columns — each value
    *     lands in exactly one task ⇒ ONE file per partition dir
    *   - `rebalance`: hash clustering through AQE's RebalancePartitions
    *     — same co-location, but runtime-split when one value's data
    *     is skewed past a single healthy file (the 100 TB default)
    *   - `range`: range-exchange on the partition columns — adjacent
    *     values co-locate, for value-correlated downstream reads
    * Unpartitioned writes never re-shuffle here (their file count is
    * the caller's repartition decision).
    */
  private def stagedWrite(op: String, df: DataFrame, dest: Path, format: String,
                          partitionCols: Seq[String],
                          physmap: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.col
    val out =
      if (physmap.isEmpty) df
      else df.select(df.columns.map(c =>
        col(c).as(physmap.getOrElse(c, c))).toSeq: _*)
    val parts = partitionCols.map(c => physmap.getOrElse(c, c))
    val clustered =
      if (parts.isEmpty) out
      else df.sparkSession.conf
        .get("spark.graft.write.distribution", "none") match {
        case "none" => out
        case "hash" => out.repartition(parts.map(col): _*)
        case "rebalance" => out.hint("rebalance", parts: _*)
        case "range" => out.repartitionByRange(parts.map(col): _*)
        case other => throw new IllegalArgumentException(
          s"spark.graft.write.distribution must be one of " +
            s"none|hash|rebalance|range; got '$other'")
      }
    phase(df.sparkSession, op, "staged write")(
      GraftSqlShim.saveCounted(clustered, format, parts, dest.toString))
  }

  /** A dir [[stageCommit]] staged: the rows its write counted (0 when
    * executors staged it) and one lazy raw re-read (physical names).
    */
  private final class StagedDir(dir: String, val rows: Long, reread: String => DataFrame) {
    lazy val written: DataFrame = reread(dir)
    /** The staged files under the name a rebase re-homed them to. */
    def at(name: String): DataFrame = if (name == dir) written else reread(name)
  }

  /** The one staging path of every SnapshotTable commit: writes `data`
    * (logical names) into `dir` through [[stagedWrite]], or takes `dir`
    * as executors staged it (`data` None), and decides here alone which
    * sidecars the dir carries, both off one re-read of its files:
    *  - `_stats/<dir>` iff `statsCols` is non-empty: what [[readWhere]]
    *    prunes on; a dir without one is never pruned.
    *  - `_hashes/<dir>` iff the op knows the dir's content: the union of
    *    the `unionOf` dirs' sidecars when all exist (content moved, not
    *    changed: no payload re-hash), else the content key of
    *    `contentCol` over the written rows. Without either, an ingest's
    *    exact verify hashes the dir's payload instead: only the op that
    *    names [[ingest]]'s content column can key a sidecar correctly.
    */
  private def stageCommit(spark: SparkSession, op: String, path: String, dir: String,
      data: Option[DataFrame], format: String, schema: StructType,
      physmap: Map[String, String], partitionCols: Seq[String], statsCols: Seq[String],
      contentCol: Option[String] = None, unionOf: Seq[String] = Nil): StagedDir = {
    val rows = data.fold(0L)(
      stagedWrite(op, _, new Path(path, dir), format, partitionCols, physmap))
    // the raw re-read declares the committed schema (physical names), so
    // the load infers nothing (no footer job) and partition values come
    // back in their declared types
    val staged = new StagedDir(dir, rows, d => spark.read.format(format)
      .schema(physSchema(schema, physmap)).load(new Path(path, d).toString))
    val union = unionOf.map(hashesDir(path, _))
    if (union.nonEmpty && union.forall(fs(spark, new Path(path)).exists))
      phase(spark, op, "hash sidecar")(GraftSqlShim.saveCounted(
        readHashes(spark, format, union), format, Nil, hashesDir(path, dir).toString))
    else contentCol.foreach(c => writeHashSidecar(op, path, dir, staged.written,
      physmap.getOrElse(c, c), format))
    writeStatsSidecar(op, path, dir, staged.written,
      statsCols.map(c => physmap.getOrElse(c, c)))
    staged
  }

  /** Fold a commit's delta bloom into `prior` and publish it as
    * `_versions/b<v>-<dir suffix>.bin`, the one bloom name. Blooms are
    * mergeable summaries: the bloom of a union is the bitwise OR of the
    * blooms at equal (expectedItems, fpp), so no commit rescans history,
    * and re-folding is idempotent. `prior` None publishes `delta`; an
    * incompatible `prior` publishes nothing (None: the commit names no
    * bloom and the next ingest rebuilds it in one scan).
    */
  private def publishBloom(spark: SparkSession, path: String, v: Long, dir: String,
      prior: Option[org.apache.spark.util.sketch.BloomFilter],
      delta: org.apache.spark.util.sketch.BloomFilter): Option[String] = {
    val bloom = prior match {
      case None => delta
      case Some(p) if p.isCompatible(delta) => p.mergeInPlace(delta)
      case Some(_) => return None
    }
    val name = f"b$v%08d-${dir.takeRight(8)}.bin"
    writeBloomAt(spark, path, name, bloom)
    Some(name)
  }

  /** First data file of one snapshot dir, if any — a dir's files share
    * one write job's schema, so one footer stands for the dir (the
    * V2 aggregate-pushdown evolution guard's probe).
    */
  private[graft] def firstDataFile(spark: SparkSession, path: String,
                                   dir: String): Option[org.apache.hadoop.fs.FileStatus] = {
    val root = new Path(path, dir)
    val f = fs(spark, root)
    if (!f.exists(root)) None
    else listDataFiles(f, root).headOption
  }

  /** Data files under one snapshot directory, descending through
    * partition subdirectories; `_`/`.`-prefixed names are skipped at
    * every level (sidecars, _SUCCESS, hidden files).
    */
  private def listDataFiles(f: org.apache.hadoop.fs.FileSystem,
                            dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    def walk(p: Path): Unit =
      f.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isFile) out += st else walk(st.getPath)
        }
      }
    if (f.exists(dir)) walk(dir)
    out.result()
  }

  /** Read the CURRENT snapshot. The manifest resolves here, once — the
    * returned DataFrame is pinned to this snapshot's immutable files and
    * is unaffected by any later commit (snapshot isolation). An
    * append-chain snapshot lists several directories; the scan unions
    * their file lists (same format, one multi-path scan node).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    readAt(spark, path, v)
  }

  /** Time travel: read a PINNED committed version (the Iceberg/Delta
    * `VERSION AS OF` contract). The manifest chain already retains every
    * version inside the [[expire]] window and snapshot directories are
    * immutable, so an old version's read is exactly as stable as the
    * current one: later commits (including concurrent ingests racing
    * this read) never touch its files. Reading an expired or
    * never-committed version fails loudly with the retained range — a
    * silent fallback to "current" would turn an audit query into a lie.
    * (A concurrent expire racing this call hits the same loud error via
    * [[readManifestChecked]]; there is no exists-then-read window.)
    */
  def readAt(spark: SparkSession, path: String, version: Long): DataFrame =
    readFromManifest(spark, path, readManifestChecked(spark, path, version))

  /** Read the snapshot an ALREADY-RESOLVED manifest describes — the
    * shared kernel behind [[readAt]], [[readBranch]], and the V2
    * oversize-overlay fallback (which must serve the EXACT manifest its
    * table pinned, not whatever the version number resolves to on the
    * main chain — branch manifests share the main chain's numbering).
    */
  private[graft] def readFromManifest(spark: SparkSession, path: String,
                                      m: Manifest): DataFrame = {
    if (!m.hasOverlay) rawScan(spark, path, m)
    else {
      val base = m.dirs.map { d =>
        val s = rawScanPos(spark, path, m.copy(dirs = Seq(d)),
          withPos = m.posDeletes.nonEmpty)
        s.withColumn(dirVersionCol,
          org.apache.spark.sql.functions.lit(dirVersion(d)))
      }.reduce(_ unionByName _)
      val keyMasked =
        if (m.tombstones.isEmpty) base.drop(dirVersionCol)
        else applyTombstones(spark, path, m, base)
      if (m.posDeletes.isEmpty) keyMasked
      else applyPosDeletes(spark, path, m, keyMasked)
    }
  }

  /** The effective commit instant of every retained version, ascending —
    * the recorded `ts:` manifest line monotonicized by a running max, so
    * clock skew between racing committers can never make time travel
    * non-monotonic. Driver metadata only, bounded by
    * the retention window — the same cost class as [[history]].
    */
  private[graft] def effectiveCommitTimes(spark: SparkSession,
                                          path: String): Seq[(Long, Long)] = {
    val f = fs(spark, versionsDir(path))
    // the running max SEEDS from the persisted clock floor — the eff
    // instant of the newest EXPIRED commit ([[expire]] writes it before
    // dropping manifests). Without it, trimming a chain whose
    // skewed-ahead early commit had flattened its successors would make
    // the retained versions' effective instants DECREASE across the
    // expire, silently changing versionAtTimestamp answers and letting
    // the changelog's trimmed-left-edge completeness guard pass an
    // instant whose commits expired. (Commits stamped by this writer
    // are strictly increasing by construction, so the floor only ever
    // matters for chains stamped before the clamp in [[commit]].)
    var eff = readClockFloor(f, path)
    versions(spark, path).map { v =>
      eff = math.max(eff, readManifestChecked(spark, path, v).ts)
      v -> eff
    }
  }

  /** The persisted clock floor: `_versions/tsfloor`, a single long —
    * the effective commit instant of the newest expired manifest.
    */
  private def clockFloorFile(path: String) = new Path(versionsDir(path), "tsfloor")

  private def readClockFloor(f: org.apache.hadoop.fs.FileSystem,
                             path: String): Long = {
    val p = clockFloorFile(path)
    try {
      if (!f.exists(p)) Long.MinValue
      else {
        val in = f.open(p)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
          .trim.toLong
        finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => Long.MinValue }
  }

  /** The version a wall-clock instant resolves to — the newest retained
    * commit at or before `tsMillis` (the Delta/Iceberg `TIMESTAMP AS
    * OF` contract). An instant before the retained left edge fails
    * loudly with the earliest retained commit time: silently clamping
    * to the oldest snapshot would hand an audit query a state that did
    * not exist at that instant (or existed but has expired).
    */
  def versionAtTimestamp(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val times = effectiveCommitTimes(spark, path)
    if (times.isEmpty) throw new IllegalArgumentException(
      s"no committed snapshot at $path")
    val hit = times.takeWhile(_._2 <= tsMillis)
    if (hit.isEmpty) throw new IllegalArgumentException(
      s"timestamp $tsMillis predates the retained history of $path " +
        s"(earliest retained commit: version ${times.head._1} at " +
        s"${times.head._2}); earlier snapshots have expired")
    val r = hit.last._1
    // a TAGGED old version survives expire as an island: versions
    // between it and the next retained one are gone. An instant EQUAL
    // to the island's own commit instant is provably that version; any
    // instant strictly after it (and before the next retained commit)
    // is unknowable — the expired successor that superseded the island
    // may have committed before or after it, and silently handing back
    // the island would present a state that may already have been
    // superseded then. Contiguous retention (no tags) never enters this
    // branch: version numbers are consecutive by construction.
    if (r != times.last._1 && !times.exists(_._1 == r + 1) && tsMillis > hit.last._2)
      throw new IllegalArgumentException(
        s"timestamp $tsMillis falls in an expired gap of $path: version $r is " +
          s"retained (tagged), but its successors up to the next retained " +
          s"version have expired — the state at that instant is gone. Read the " +
          s"tagged snapshot explicitly via readAt/readTag")
    r
  }

  /** Time travel by wall clock: [[readAt]] of [[versionAtTimestamp]]. */
  def readAtTimestamp(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    readAt(spark, path, versionAtTimestamp(spark, path, tsMillis))

  /** Age-based retention (the Delta `delete retention` / Iceberg
    * `expireSnapshots(olderThan)` contract): drop every snapshot whose
    * effective commit instant is before `cutoffMillis`, always keeping
    * at least the current one. Delegates to [[expire]]'s refcounted
    * delete, so directories/blooms/tombstones shared with retained
    * manifests survive exactly as with count-based retention.
    */
  def expireOlderThan(spark: SparkSession, path: String, cutoffMillis: Long): Int = {
    val times = effectiveCommitTimes(spark, path)
    if (times.isEmpty) return 0
    val keep = math.max(1, times.count(_._2 >= cutoffMillis))
    expire(spark, path, keep)
  }

  /** The snapshot's plain multi-path file scan, tombstones NOT applied —
    * the physical-bytes view. Internal callers that need the real row
    * set must go through [[readAt]]/[[applyTombstones]].
    */
  private def rawScan(spark: SparkSession, path: String, m: Manifest): DataFrame = {
    import org.apache.spark.sql.functions.col
    // data files carry PHYSICAL names ([[stagedWrite]]): declare the
    // physical schema at the scan, then alias back to the manifest's
    // logical names — the column-mapping read half. Identity (and
    // therefore alias-free, preserving pre-r14 plans exactly) when no
    // rename/drop ever touched the table.
    def reader = spark.read.format(m.format).schema(physSchema(m.schema, m.physmap))
    def toLogical(df: DataFrame): DataFrame =
      if (m.physmap.isEmpty) df
      else df.select(m.schema.fieldNames.map(n =>
        col(m.physOf(n)).as(n)).toSeq: _*)
    if (m.partitionCols.isEmpty)
      toLogical(reader.load(m.dirs.map(d => new Path(path, d).toString): _*))
    else {
      // Partitioned chains scan PER DIR and union: Spark's partition
      // discovery demands one "discovered base path" across all leaves,
      // and a multi-root load over snap dirs discovers one base per dir
      // (CONFLICTING_DIRECTORY_STRUCTURES). Per-dir scans each discover
      // cleanly; unionByName reconciles discovery's column reorder, and
      // the final select restores the manifest's declared order so a
      // partitioned table reads identical to its unpartitioned twin.
      val df = m.dirs.map(d => reader.load(new Path(path, d).toString))
        .reduceLeft(_ unionByName _)
      if (m.physmap.nonEmpty) toLogical(df)
      else df.select(m.schema.fieldNames.map(col(_)).toSeq: _*)
    }
  }

  // ---- merge-on-read tombstone overlay -----------------------------------

  private val dirVersionCol = "__graft_dirv"
  private val posFileCol = "__graft_pfile"
  private val posOrdCol = "__graft_pord"

  /** Canonical FILE IDENTITY inside a snapshot: the path RELATIVE TO its
    * snapshot directory (`part-....parquet`, or
    * `lang=en/part-....parquet` under hive partitioning). Bare file
    * names are NOT unique on partitioned tables — one write job emits
    * the SAME task file name into every partition directory it touches —
    * while the subpath is unique within a dir (task numbers), unique
    * across dirs (one job per dir, job-unique UUIDs), and stable when a
    * rebase RENAMES the directory (contents unchanged). On
    * unpartitioned tables the subpath IS the file name, so sidecars
    * written under the old name keying read back unchanged there.
    */
  private def fileSubpath(fullPath: String, dataDir: String): String = {
    val marker = "/" + dataDir + "/"
    val i = fullPath.lastIndexOf(marker)
    if (i < 0) fullPath.split('/').last
    else fullPath.substring(i + marker.length)
  }

  /** Column form of [[fileSubpath]] for a KNOWN snapshot dir. */
  private def fileSubpathCol(c: org.apache.spark.sql.Column, dataDir: String)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{element_at, split}
    element_at(split(c, java.util.regex.Pattern.quote("/" + dataDir + "/")), -1)
  }

  /** [[fileSubpath]] as an expression over `_metadata.file_path` when
    * the snapshot dir varies per row (multi-dir scans): every data dir
    * is [[stageDir]]-named, so the subpath is whatever follows the LAST
    * `snap-*` segment.
    */
  private def fileSubpathMetaCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    regexp_extract(col("_metadata.file_path"), "^.*/snap-[^/]+/(.*)$", 1)
  }

  private def posDeletesRoot(path: String) = new Path(path, "_posdel")
  private[graft] def posDeletePath(path: String, name: String) =
    new Path(posDeletesRoot(path), name)

  /** Positional-delete sidecar layout: (file subpath, row ordinal). */
  private val posDeleteSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ord", org.apache.spark.sql.types.LongType)))

  /** The union of the named positional-delete sidecars, schema declared
    * (no footer inference job).
    */
  private def readPosDeletes(spark: SparkSession, path: String, format: String,
                             names: Seq[String]): DataFrame =
    spark.read.format(format).schema(posDeleteSchema)
      .load(names.map(posDeletePath(path, _).toString): _*)

  /** [[rawScan]] plus — when `withPos` — each row's (file subpath, row
    * ordinal) identity from the parquet scan's `_metadata` struct: the
    * positional-delete join key. The subpath ([[fileSubpath]] — the
    * path relative to the row's snapshot dir, partition segments
    * included) is unique across the chain, unlike the bare file NAME,
    * which repeats across partition sibling dirs written by one job; so
    * (subpath, ordinal) identifies a physical row with no key column
    * involved.
    */
  private def rawScanPos(spark: SparkSession, path: String, m: Manifest,
                         withPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!withPos) rawScan(spark, path, m)
    else {
      def reader = spark.read.format(m.format).schema(physSchema(m.schema, m.physmap))
      val posCols = Seq(fileSubpathMetaCol.as(posFileCol),
        col("_metadata.row_index").as(posOrdCol))
      def project(df: DataFrame): DataFrame = {
        val dataCols =
          if (m.physmap.nonEmpty)
            m.schema.fieldNames.toSeq.map(n => col(m.physOf(n)).as(n))
          else m.schema.fieldNames.toSeq.map(col(_))
        df.select(dataCols ++ posCols: _*)
      }
      if (m.partitionCols.isEmpty)
        project(reader.load(m.dirs.map(d => new Path(path, d).toString): _*))
      else
        m.dirs.map(d => project(reader.load(new Path(path, d).toString)))
          .reduceLeft(_ unionByName _)
    }
  }

  /** Apply the positional-delete overlay: anti-join the base rows'
    * (file, ordinal) identity against the union of the manifest's
    * delete sidecars. Delete sets are delta-scale, so the build side
    * broadcasts under the same size guard as the key-tombstone overlay;
    * `keepPosCols` lets [[deleteWherePositional]]'s victim scan retain
    * the identity columns it is about to record.
    */
  /** Refuse positional-delete sidecars written by a pre-subpath-keying
    * revision against a PARTITIONED table: those keys are bare file
    * names, the current readers match on partition-qualified subpaths,
    * and a silent mismatch would RESURRECT deleted rows. On a
    * partitioned table every data file lives under `k=v/` segments, so
    * a key with no '/' is old-vintage exactly. Delta-scale check (one
    * pass over sidecar metadata, only on partitioned tables with an
    * outstanding overlay).
    */
  private def bareNamePosDeleteError(path: String): IllegalStateException =
    new IllegalStateException(
      s"graft table at $path is partitioned but carries positional-delete " +
        "sidecar keys with no partition segment (bare file names) — written " +
        "by an older revision whose keys the current subpath-keyed readers " +
        "cannot match; applying them would silently resurrect deleted rows. " +
        "Re-apply the deletes from a pre-overlay version (rollback + " +
        "deleteWherePositional), or rewrite the table")

  /** One validation per (table, sidecar set, sidecar bytes) per JVM —
    * sidecars are immutable once committed, so a clean verdict never
    * changes and the per-read job would otherwise re-scan the overlay
    * on EVERY read of a partitioned masked table. The memo key carries
    * a CONTENT fingerprint (total sidecar length) on top of the name
    * set: a table dropped and re-created at the same path could reuse
    * sidecar names, and a name-only memo would skip validating the new
    * content. Bounded: a long-lived session scanning many tables must
    * not leak verdict strings forever — past the cap the memo resets
    * (the cost of a reset is one re-validation per table, metadata
    * scale).
    */
  private val vintageCheckedPosDeletes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val vintageMemoMaxEntries = 4096

  private def requireSubpathKeyedPosDeletes(spark: SparkSession, path: String,
                                            m: Manifest): Unit = {
    import org.apache.spark.sql.functions.col
    if (m.partitionCols.isEmpty || m.posDeletes.isEmpty) return
    val bytes = posDeleteBytes(spark, path, m.posDeletes)
    val memoKey = path + "|" + m.posDeletes.sorted.mkString(",") + "|" + bytes
    if (vintageCheckedPosDeletes.contains(memoKey)) return
    val bare = readPosDeletes(spark, path, m.format, m.posDeletes)
      .filter(!col("file").contains("/")).limit(1).count()
    if (bare > 0) throw bareNamePosDeleteError(path)
    if (vintageCheckedPosDeletes.size >= vintageMemoMaxEntries)
      vintageCheckedPosDeletes.clear()
    vintageCheckedPosDeletes.add(memoKey)
    ()
  }

  private def applyPosDeletes(spark: SparkSession, path: String, m: Manifest,
                              base: DataFrame,
                              keepPosCols: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    requireSubpathKeyedPosDeletes(spark, path, m)
    val pd = readPosDeletes(spark, path, m.format, m.posDeletes)
      .select(col("file").as("__graft_delf"), col("ord").as("__graft_delo"))
    val bytes = posDeleteBytes(spark, path, m.posDeletes)
    val build = if (bytes <= tombstoneBroadcastMaxBytes) broadcast(pd) else pd
    val masked = base.join(build,
      base(posFileCol) === col("__graft_delf") &&
        base(posOrdCol) === col("__graft_delo"),
      "left_anti")
    if (keepPosCols) masked else masked.drop(posFileCol, posOrdCol)
  }

  /** The positional-delete overlay as a DRIVER-side mask for readers
    * that cannot run the anti-join in-plan (the DataSource V2 scan,
    * [[graft.sources.v2.GraftDataSource]]): file name → sorted deleted
    * ordinals. Gated by the same size bound as the broadcast overlay
    * join — the mask is exactly the join's build side, so materializing
    * it on the driver is the same memory class as broadcasting it.
    * Returns None above the bound: the caller must degrade loudly
    * (compact first) rather than OOM the driver on a compaction-starved
    * overlay.
    */
  private[graft] def posDeleteMask(spark: SparkSession, path: String,
                                   m: Manifest,
                                   names0: Seq[String] = null): Option[Map[String, Array[Long]]] = {
    val names = Option(names0).getOrElse(m.posDeletes)
    if (names.isEmpty) return Some(Map.empty)
    if (posDeleteBytes(spark, path, names) > tombstoneBroadcastMaxBytes) None
    else {
      val mask = readPosDeletes(spark, path, m.format, names).collect()
        .groupBy(_.getString(0))
        .map { case (file, rows) => file -> rows.map(_.getLong(1)).sorted }
        .toMap
      // same old-vintage guard as the in-plan overlay, free here (the
      // keys are already on the driver — no re-read, throw directly)
      if (m.partitionCols.nonEmpty && mask.keys.exists(!_.contains("/")))
        throw bareNamePosDeleteError(path)
      Some(mask)
    }
  }

  /** The distinct non-null values of a ONE-column frame in CATALYST
    * representation (UTF8String for strings — the per-row probe form
    * the V2 readers need, like [[tombstoneKeyMask]]). Driver-side by
    * contract: callers must pass a frame already bounded (the CDF
    * pairing sets are semi-joins against the size-gated tombstone key
    * set).
    */
  private[graft] def catalystKeySet(df: DataFrame): Set[Any] = {
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(df.schema.head.dataType)
    df.distinct().collect().iterator
      .map(_.get(0)).filter(_ != null).map(conv).toSet
  }

  /** The merge-on-read KEY overlay as a DRIVER-side mask for readers
    * that cannot run the keyed anti-join in-plan (the DataSource V2
    * scan): MOR key (CATALYST representation — UTF8String for strings,
    * so a per-row probe against InternalRow values needs no conversion)
    * → the LATEST tombstone version naming it. A row is masked iff its
    * key maps to a version STRICTLY LATER than its dir's commit version
    * (the same-version exemption keeps a mergeOnRead commit's own
    * upserts visible — identical algebra to [[applyTombstones]]).
    * Same size gate as the broadcast overlay join; None above the bound
    * (caller degrades loudly — compact first). NULL keys mask nothing
    * and are never written to tombstones.
    */
  private[graft] def tombstoneKeyMask(spark: SparkSession, path: String,
                                      m: Manifest): Option[Map[Any, Long]] = {
    import org.apache.spark.sql.functions.col
    if (m.tombstones.isEmpty) return Some(Map.empty)
    val key = m.morKey.getOrElse(throw new IllegalStateException(
      s"manifest at $path lists tombstones but no morkey — corrupt manifest"))
    if (tombstoneBytes(spark, path, m.tombstones) > tombstoneBroadcastMaxBytes) None
    else {
      val perName = m.tombstones.map { name =>
        val df = readTombstone(spark, path, m, key, name).select(col(key))
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(df.schema.head.dataType)
        (dirVersion(name), df.collect().iterator
          .map(_.get(0)).filter(_ != null).map(conv).toArray)
      }
      val out = scala.collection.mutable.HashMap.empty[Any, Long]
      perName.foreach { case (v, keys) =>
        keys.foreach { k =>
          val prev = out.getOrElse(k, Long.MinValue)
          if (v > prev) out.update(k, v)
        }
      }
      Some(out.toMap)
    }
  }

  /** The full file paths a predicate's stats/bloom/partition pruning
    * keeps for `m`'s snapshot — the planning-only half of [[readWhere]],
    * exposed for readers that assemble their own scans (the change
    * feed's victim frames). Strictly conservative: a file is dropped
    * only when its stats PROVE the predicate cannot match.
    */
  private[graft] def prunedFilePaths(spark: SparkSession, path: String,
                                     m: Manifest,
                                     predicate: Column): Set[String] = {
    val (perDir, _) = planPrunedFiles(spark, path, m, Some(predicate))
    perDir.flatMap(_._3).map(_.toString).toSet
  }

  private def tombstonesRoot(path: String) = new Path(path, "_tombstones")
  private[graft] def tombstonePath(path: String, name: String) =
    new Path(tombstonesRoot(path), name)

  /** One tombstone sidecar: the merge-on-read key column, declared at its
    * table type (no footer inference job).
    */
  private def readTombstone(spark: SparkSession, path: String, m: Manifest,
                            key: String, name: String): DataFrame = {
    val r = spark.read.format(m.format)
    m.schema.fields.find(_.name == key)
      .fold(r)(f => r.schema(StructType(Seq(f.copy(nullable = true)))))
      .load(tombstonePath(path, name).toString)
  }

  /** Commit version encoded in a staged artifact name
    * (`snap-<v>-<uuid>` / `t<v>-<uuid>` — both from the same zero-padded
    * scheme), used to order data rows against tombstones at read time.
    * Reads the FULL digit run, not a fixed width: %08d widens past
    * eight digits beyond version 99,999,999 (a few years of per-second
    * micro-batch commits) and a truncated parse would mis-order the
    * overlay there.
    */
  private def dirVersion(name: String): Long =
    name.dropWhile(!_.isDigit).takeWhile(_.isDigit).toLong

  /** Overlay the manifest's tombstones on `base` (which carries each
    * row's commit version in [[dirVersionCol]]): a row is masked when
    * some tombstone with a STRICTLY LATER commit version names its key —
    * the same-version exemption is what keeps a [[mergeOnRead]] commit's
    * own upsert rows visible. The tombstone side is delta-scale by the
    * MOR premise (rewrites reset it), so it aggregates to one row per
    * key and broadcasts; the anti-join's extra `later-than` clause rides
    * the hash join as a post-match filter. NULL keys mask nothing and
    * are never written to tombstones — SQL-equality semantics, matching
    * [[merge]]'s NULL-key contract.
    */
  /** Outstanding-overlay size above which [[applyTombstones]] stops
    * FORCING a broadcast and lets size stats / AQE pick the join
    * strategy: a compaction-starved table whose tombstone keys outgrew
    * executor memory must degrade to a shuffled anti-join, not OOM on
    * a hint. Well under Spark's broadcast comfort zone; key-only
    * parquet at this size is several million keys.
    */
  private[graft] var tombstoneBroadcastMaxBytes: Long = 64L * 1024 * 1024

  /** Total bytes of a committed sidecar NAME SET, memoized per (table,
    * kind, names): sidecars are immutable once committed (UUID-named,
    * never rewritten in place), so their sizes never change and one
    * read of a masked table would otherwise pay the same
    * exists+contentSummary RPC loop up to three times (vintage-memo
    * key, broadcast gate, V2 plan-time oversize check) — on object
    * stores that is per-sidecar round-trip latency, not arithmetic.
    * Bounded like the vintage memo: past the cap the map resets (cost
    * of a reset = one re-listing per table).
    */
  private val sidecarBytesMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def overlaySidecarBytes(spark: SparkSession, path: String,
                                         kind: String, names: Seq[String],
                                         pathOf: String => Path): Long = {
    if (names.isEmpty) return 0L
    val key = path + "|" + kind + "|" + names.sorted.mkString(",")
    val hit = sidecarBytesMemo.get(key)
    if (hit != null) return hit
    val f = fs(spark, new Path(path))
    val bytes = names.map { n =>
      val p = pathOf(n)
      if (!f.exists(p)) 0L else f.getContentSummary(p).getLength
    }.sum
    if (sidecarBytesMemo.size >= vintageMemoMaxEntries) sidecarBytesMemo.clear()
    sidecarBytesMemo.put(key, bytes)
    bytes
  }

  private[graft] def posDeleteBytes(spark: SparkSession, path: String,
                                    names: Seq[String]): Long =
    overlaySidecarBytes(spark, path, "posdel", names, posDeletePath(path, _))

  private[graft] def tombstoneBytes(spark: SparkSession, path: String,
                                    names: Seq[String]): Long =
    overlaySidecarBytes(spark, path, "tomb", names, tombstonePath(path, _))

  /** True when either read overlay — positional-delete sidecars or MOR
    * tombstones — is past the driver-mask broadcast gate, i.e. the V2
    * scan could not materialize its in-scan masks without risking the
    * driver. Metadata-only (two memoized content-summary sums); the V2
    * scan builder uses it to pick the distributed-anti-join fallback at
    * PLAN time instead of failing at execution.
    */
  private[graft] def overlayOversized(spark: SparkSession, path: String,
                                      m: Manifest): Boolean =
    posDeleteBytes(spark, path, m.posDeletes) > tombstoneBroadcastMaxBytes ||
      tombstoneBytes(spark, path, m.tombstones) > tombstoneBroadcastMaxBytes

  private def applyTombstones(spark: SparkSession, path: String, m: Manifest,
                              base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val key = m.morKey.getOrElse(throw new IllegalStateException(
      s"manifest at $path lists tombstones but no morkey — corrupt manifest"))
    val ts = m.tombstones.map { name =>
      readTombstone(spark, path, m, key, name)
        .select(col(key).as("__graft_tk"), lit(dirVersion(name)).as("__graft_tsv"))
    }.reduce(_ unionByName _)
      .groupBy(col("__graft_tk")).agg(max(col("__graft_tsv")).as("__graft_tsv"))
    // hint broadcast only while the overlay is provably small (file
    // metadata check, no data read); past the bound the optimizer
    // plans from its own stats — overload protection, not a plan pin
    val build =
      if (tombstoneBytes(spark, path, m.tombstones) <= tombstoneBroadcastMaxBytes) broadcast(ts)
      else ts
    base.join(build,
        base(key) === col("__graft_tk") && col("__graft_tsv") > base(dirVersionCol),
        "left_anti")
      .drop(dirVersionCol)
  }

  // ---- per-file column stats + predicate-pruned scan planning -----------

  /** Per-data-directory stats sidecar (`_stats/<dirname>`, always
    * parquet): one row per (file, stats column) with min/max encoded by
    * kind — numerics as conservatively-widened doubles, strings as-is.
    * This is the manifest-metrics half of the Iceberg/Delta scan
    * planning contract: at 100 TB the difference between "read the
    * table" and "open the three files whose [min,max] the predicate
    * intersects". Sidecars are written from the freshly-committed
    * (page-cache-hot) output, never by re-scanning history, and
    * [[readWhere]] treats them as strictly optional — a dir without
    * stats simply isn't pruned.
    */
  private def statsDir(path: String, dataDir: String) =
    new Path(new Path(path, "_stats"), dataDir)

  /** One file's stats for one column. Numeric bounds are widened one
    * ulp outward at write time, so a long→double cast's rounding can
    * never tighten a bound past a true value (pruning stays strictly
    * conservative even beyond 2^53).
    */
  private final case class ColStat(loD: Option[Double], hiD: Option[Double],
                                   loS: Option[String], hiS: Option[String],
                                   nNonNull: Long)

  private def isNumeric(dt: DataType): Boolean =
    dt.isInstanceOf[org.apache.spark.sql.types.NumericType]

  /** Double-space encoder for a column's min/max stats, by type:
    * numerics cast directly, timestamps as epoch MICROS (matching the
    * analyzer's internal Literal representation, so the query side
    * compares in the same space; NTZ goes through a session-UTC cast —
    * [[graft.Sessions]] pins UTC), dates as epoch days. None = the type
    * has no numeric stats encoding (strings use their own min/max pair;
    * everything else is simply not pruned).
    */
  private def numEncoder(dt: DataType): Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    dt match {
      case _ if isNumeric(dt) => Some(c => c.cast("double"))
      case TimestampType => Some(c => unix_micros(c).cast("double"))
      case TimestampNTZType => Some(c => unix_micros(c.cast(TimestampType)).cast("double"))
      case DateType => Some(c => unix_date(c).cast("double"))
      case _ => None
    }
  }

  /** Stats sidecar layout, declared explicitly on every read so sidecar
    * vintages mix: pre-bloom files (no `bloom` column) read back
    * null-filled, and a bloom-bearing file read by the range-only path
    * just carries an unused column.
    */
  private val statsSidecarSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("col", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lo_d", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("hi_d", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("lo_s", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("hi_s", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_nonnull", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bloom", org.apache.spark.sql.types.BinaryType)))

  private def writeStatsSidecar(op: String, path: String, dataDir: String,
                                writtenIn: => DataFrame, statsCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    if (statsCols.isEmpty) return
    val written = writtenIn
    val spark = written.sparkSession
    val byName = written.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = statsCols.filter(c => byName.get(c).exists(dt =>
      numEncoder(dt).isDefined || dt == org.apache.spark.sql.types.StringType))
    if (cols.isEmpty) return
    val aggs = cols.flatMap { c =>
      val enc = numEncoder(byName(c))
      Seq(
        enc.map(e => min(e(col(c))).cast("double")).getOrElse(lit(null).cast("double")).as(s"__lod_$c"),
        enc.map(e => max(e(col(c))).cast("double")).getOrElse(lit(null).cast("double")).as(s"__hid_$c"),
        (if (enc.isDefined) lit(null).cast("string") else min(col(c))).as(s"__los_$c"),
        (if (enc.isDefined) lit(null).cast("string") else max(col(c))).as(s"__his_$c"),
        count(col(c)).as(s"__n_$c"))
    }
    // One pass over the just-written files; stats rows are metadata
    // (files × columns), so the driver-side reshape is a few KB even at
    // thousand-file commits — the same scale class as a manifest.
    val perFile = phase(spark, op, "stats sidecar")(written
      .groupBy(input_file_name().as("__file")).agg(aggs.head, aggs.tail: _*).collect())
    val rows = perFile.flatMap { r =>
      val fname = fileSubpath(r.getAs[String]("__file"), dataDir)
      cols.map { c =>
        def d(n: String): java.lang.Double =
          if (r.isNullAt(r.fieldIndex(n))) null else java.lang.Double.valueOf(r.getAs[Double](n))
        def s(n: String): String = r.getAs[String](n)
        // Spark ORDERS NaN as the largest double while IEEE comparisons
        // with NaN are all false — a NaN bound would wrongly prune a
        // file whose NaN rows DO match `x >= v` under Spark semantics.
        // Canonicalize: max=NaN (some NaN present) → +∞; min=NaN (ALL
        // values NaN) → +∞ too, since the whole file sorts at +∞.
        def wlo(v: java.lang.Double): java.lang.Double =
          if (v.isNaN) java.lang.Double.valueOf(Double.PositiveInfinity)
          else java.lang.Double.valueOf(Math.nextDown(v.doubleValue))
        def whi(v: java.lang.Double): java.lang.Double =
          if (v.isNaN) java.lang.Double.valueOf(Double.PositiveInfinity)
          else java.lang.Double.valueOf(Math.nextUp(v.doubleValue))
        (fname, c,
          Option(d(s"__lod_$c")).map(wlo).orNull,
          Option(d(s"__hid_$c")).map(whi).orNull,
          s(s"__los_$c"), s(s"__his_$c"),
          r.getAs[Long](s"__n_$c"))
      }
    }
    import spark.implicits._
    val rangeRows = rows.toSeq
      .toDF("file", "col", "lo_d", "hi_d", "lo_s", "hi_s", "n_nonnull")
      .withColumn("bloom", lit(null).cast(org.apache.spark.sql.types.BinaryType))
    // POINT-LOOKUP blooms for the string stats columns: min/max intervals
    // prune range predicates, but equality on a hash-distributed key
    // (URL, content key, uuid) finds every file's [min,max] spanning the
    // whole space — the bloom is what skips files there. One extra
    // columnar pass over the freshly-written (page-cache-hot) files,
    // sized to the largest file's row count from the pass-1 stats, so
    // the filter never saturates on its own commit; rows are written
    // DISTRIBUTED next to the range rows (`bloom` set, interval fields
    // null), never collected to the driver.
    val strCols = cols.filter(c => byName(c) == org.apache.spark.sql.types.StringType)
    val bloomRows =
      if (strCols.isEmpty) None
      else {
        val maxN = rows.map(_._7).maxOption.getOrElse(0L)
        val items = math.max(1024L, maxN)
        val aggs = strCols.map(c => GraftSqlShim.column(
          graft.plans.BloomAgg(
            GraftSqlShim.expression(col(c)),
            items, 0.02).toAggregateExpression()).as(s"__bl_$c"))
        val agged = written.groupBy(input_file_name().as("__file"))
          .agg(aggs.head, aggs.tail: _*)
        Some(agged.select(col("__file"),
            explode(array(strCols.map(c =>
              struct(lit(c).as("col"), col(s"__bl_$c").as("bloom"))): _*)).as("e"))
          .select(
            fileSubpathCol(col("__file"), dataDir).as("file"),
            col("e.col").as("col"),
            lit(null).cast("double").as("lo_d"),
            lit(null).cast("double").as("hi_d"),
            lit(null).cast("string").as("lo_s"),
            lit(null).cast("string").as("hi_s"),
            lit(null).cast("long").as("n_nonnull"),
            col("e.bloom").as("bloom")))
      }
    phase(spark, op, "stats sidecar")(GraftSqlShim.saveCounted(
      bloomRows.fold(rangeRows)(rangeRows.unionByName(_)).coalesce(1),
      "parquet", Nil, statsDir(path, dataDir).toString))
    ()
  }

  /** Extracted range constraint from one predicate conjunct: closed
    * interval by kind (numeric vs string). Exclusive bounds are widened
    * to inclusive — pruning may only ever be conservative.
    */
  private final case class Range(colName: String, loD: Option[Double], hiD: Option[Double],
                                 loS: Option[String], hiS: Option[String])

  /** Unsigned UTF-8 byte comparison — the collation Spark's string
    * min/max aggregate uses (UTF8String binary order), so driver-side
    * pruning decisions agree with executor-computed stats even for
    * supplementary characters where UTF-16 code-unit order differs.
    */
  private def cmpUtf8(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private def litNum(v: Any): Option[Double] = {
    val d = v match {
      case n: Byte => Some(n.toDouble)
      case n: Short => Some(n.toDouble)
      case n: Int => Some(n.toDouble)
      case n: Long => Some(n.toDouble)
      case n: Float => Some(n.toDouble)
      case n: Double => Some(n)
      case n: org.apache.spark.sql.types.Decimal => Some(n.toDouble)
      case n: java.math.BigDecimal => Some(n.doubleValue)
      case _ => None
    }
    // mirror the stats-side canonicalization: Spark sorts NaN at +∞
    d.map(x => if (x.isNaN) Double.PositiveInfinity else x)
  }

  private def litStr(v: Any): Option[String] = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case s: String => Some(s)
    case _ => None
  }

  /** Encode one analyzed-literal bound into the stats comparison space,
    * BY ITS TYPE: timestamp literals are internal epoch-micros longs and
    * date literals epoch-day ints (the exact space [[numEncoder]] wrote
    * the column stats in); everything else falls to the raw numeric /
    * string encodings. None = this bound has no stats encoding, which
    * voids the whole conjunct (a half-encoded range could over-prune).
    */
  private def litVal(v: Any, dt: DataType): Option[Either[Double, String]] = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType | TimestampNTZType => v match {
        case l: Long => Some(Left(l.toDouble))
        case _ => None
      }
      case DateType => v match {
        case i: Int => Some(Left(i.toDouble))
        case _ => None
      }
      case _ => litNum(v).map(Left(_): Either[Double, String])
        .orElse(litStr(v).map(Right(_): Either[Double, String]))
    }
  }

  /** Pull simple column-vs-literal range conjuncts out of a Catalyst
    * predicate tree. Anything unrecognized (casts, functions, ORs,
    * nulls tests) contributes NO constraint — the file keeps being
    * read and the residual filter stays exact, so unsupported shapes
    * cost only the pruning opportunity, never correctness.
    */
  private def extractRanges(raw: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Range] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    // The analyzer wraps literals in type-promotion casts (700 becomes
    // CAST(700 AS BIGINT) against a bigint column); fold every foldable
    // subtree back to a bare Literal so the matchers below see it.
    val e = raw.transformUp {
      case x if x.foldable && !x.isInstanceOf[Literal] =>
        scala.util.Try(Literal.create(x.eval(null), x.dataType)).getOrElse(x)
    }
    // A cast may be seen through ONLY when comparing the DOUBLE-encoded
    // column (what the stats sidecar holds) against the double-encoded
    // literal is equivalent to the predicate's own comparison in cast
    // space. True for rank-widening integral casts (value-preserving)
    // and for any-numeric→double (the stats encoder applies the
    // IDENTICAL cast, so both sides round the same way). False for
    // everything else: a NARROWING cast truncates/wraps (cast(score AS
    // int) === 5 matches score ∈ [5.0, 6.0), but stripping it would
    // prune to the point [5,5] and silently drop matching rows), and a
    // →float cast rounds differently than the double-space stats.
    def castSeeThrough(from: DataType, to: DataType): Boolean = {
      import org.apache.spark.sql.types._
      def rank(dt: DataType): Option[Int] = dt match {
        case ByteType => Some(0); case ShortType => Some(1)
        case IntegerType => Some(2); case LongType => Some(3)
        case _ => None
      }
      (rank(from), rank(to)) match {
        case (Some(f), Some(t)) => f <= t
        case _ => to == DoubleType && isNumeric(from)
      }
    }
    def attr(x: Expression): Option[String] = x match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case Cast(c, dt, _, _) if attr(c).isDefined && c.dataType != null &&
          castSeeThrough(c.dataType, dt) => attr(c)
      case _ => None
    }
    def range(colName: String, lo: Option[Literal], hi: Option[Literal]): Option[Range] = {
      val loE = lo.map(l => litVal(l.value, l.dataType))
      val hiE = hi.map(l => litVal(l.value, l.dataType))
      // a bound with no stats encoding (binary, interval…) voids the
      // conjunct — a half-encoded range could over-prune the other side
      if (loE.exists(_.isEmpty) || hiE.exists(_.isEmpty)) None
      else {
        val l = loE.flatten; val h = hiE.flatten
        val r = Range(colName,
          l.collect { case scala.util.Left(d) => d }, h.collect { case scala.util.Left(d) => d },
          l.collect { case scala.util.Right(s) => s }, h.collect { case scala.util.Right(s) => s })
        if (r.loD.orElse(r.hiD).isDefined || r.loS.orElse(r.hiS).isDefined) Some(r) else None
      }
    }
    def conjuncts(x: Expression): Seq[Expression] = x match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(e).flatMap {
      case EqualTo(a, l: Literal) if attr(a).isDefined =>
        range(attr(a).get, Some(l), Some(l))
      case EqualTo(l: Literal, a) if attr(a).isDefined =>
        range(attr(a).get, Some(l), Some(l))
      case GreaterThan(a, l: Literal) if attr(a).isDefined =>
        range(attr(a).get, Some(l), None)
      case GreaterThanOrEqual(a, l: Literal) if attr(a).isDefined =>
        range(attr(a).get, Some(l), None)
      case LessThan(a, l: Literal) if attr(a).isDefined =>
        range(attr(a).get, None, Some(l))
      case LessThanOrEqual(a, l: Literal) if attr(a).isDefined =>
        range(attr(a).get, None, Some(l))
      case GreaterThan(l: Literal, a) if attr(a).isDefined =>
        range(attr(a).get, None, Some(l))
      case GreaterThanOrEqual(l: Literal, a) if attr(a).isDefined =>
        range(attr(a).get, None, Some(l))
      case LessThan(l: Literal, a) if attr(a).isDefined =>
        range(attr(a).get, Some(l), None)
      case LessThanOrEqual(l: Literal, a) if attr(a).isDefined =>
        range(attr(a).get, Some(l), None)
      case In(a, vs) if attr(a).isDefined && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        val encoded = vs.map { x =>
          val l = x.asInstanceOf[Literal]
          litVal(l.value, l.dataType)
        }
        if (encoded.exists(_.isEmpty)) None
        else {
          val es = encoded.flatten
          if (es.forall(_.isLeft)) {
            val ds = es.collect { case scala.util.Left(d) => d }
            Some(Range(attr(a).get, Some(ds.min), Some(ds.max), None, None))
          } else if (es.forall(_.isRight)) {
            val ss = es.collect { case scala.util.Right(s) => s }
            val ord = Ordering.fromLessThan[String](cmpUtf8(_, _) < 0)
            Some(Range(attr(a).get, None, None, Some(ss.min(ord)), Some(ss.max(ord))))
          } else None
        }
      case _ => None
    }
  }

  /** [[extractRanges]] lifted over OR: a predicate becomes a CONJUNCTION
    * of prunable DISJUNCTIONS — `Seq[branches]`, each branch a
    * conjunction of [[Range]]s. A file survives a term when SOME branch
    * is stats-possible; it must survive EVERY term. Three shapes feed
    * the terms:
    *
    *   - a plain range conjunct → a one-branch term (the pre-r15 path,
    *     bit-identical pruning);
    *   - a top-level OR over extractable branches — the backfill
    *     time-slice-union shape `(ts BETWEEN a AND b) OR (ts BETWEEN c
    *     AND d)`, which previously degraded to read-everything — prunes
    *     as a union of intervals (any branch with an unextractable
    *     conjunct voids just that TERM, never correctness);
    *   - `IN (v1..vk)` (k ≤ 32) → a k-branch term of point ranges,
    *     sharper than the old [min,max] collapse: per-file string
    *     blooms veto each value independently, and scattered values
    *     stop over-keeping mid-range files. Larger INs keep the
    *     min/max collapse (term count stays bounded by the predicate
    *     size, not its value lists).
    */
  private def extractPruneTerms(
      raw: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Seq[Seq[Range]]] = {
    import org.apache.spark.sql.catalyst.expressions._
    def conjuncts(x: Expression): Seq[Expression] = x match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def disjuncts(x: Expression): Seq[Expression] = x match {
      case Or(l, r) => disjuncts(l) ++ disjuncts(r)
      case other => Seq(other)
    }
    conjuncts(raw).flatMap {
      case in @ In(a, vs) if vs.nonEmpty && vs.size <= 32 && vs.forall(_.foldable) =>
        val branches = vs.map(v => extractRanges(EqualTo(a, v)))
        if (branches.exists(_.isEmpty)) extractRanges(in).map(r => Seq(Seq(r)))
        else Seq(branches)
      case or @ Or(_, _) =>
        val branches = disjuncts(or).map(extractRanges)
        // one unconstrained branch makes the whole disjunction unable
        // to prune anything — contribute no term (never wrong, the
        // residual filter stays exact)
        if (branches.exists(_.isEmpty)) Nil else Seq(branches)
      case other =>
        extractRanges(other).map(r => Seq(Seq(r)))
    }
  }

  /** Does the file's stat interval intersect the query range? A file
    * with zero non-null values cannot satisfy any range/equality
    * predicate on the column (NULL never compares true), so it prunes;
    * a file with no stat ROW for the column keeps being read.
    */
  private def mayMatch(st: ColStat, q: Range): Boolean = {
    if (st.nNonNull == 0L) return false
    val numOk = (q.loD, q.hiD, st.loD, st.hiD) match {
      case (None, None, _, _) => true
      case (lo, hi, Some(slo), Some(shi)) =>
        lo.forall(l => shi >= l) && hi.forall(h => slo <= h)
      case _ => true // numeric query bound but string-kind stats: no info
    }
    val strOk = (q.loS, q.hiS, st.loS, st.hiS) match {
      case (None, None, _, _) => true
      case (lo, hi, Some(slo), Some(shi)) =>
        lo.forall(l => cmpUtf8(shi, l) >= 0) && hi.forall(h => cmpUtf8(slo, h) <= 0)
      case _ => true
    }
    numOk && strOk
  }

  /** Scan-planning decision for one [[readWhere]]: file counts after
    * stats pruning, and — for partitioned tables — partition-directory
    * counts (examined vs descended). When partition pruning skips a
    * subtree its files are never LISTED, so `nFilesTotal` counts only
    * the files of surviving partitions (listing the pruned ones would
    * reintroduce exactly the metadata cost pruning exists to avoid).
    */
  final case class PruneReport(nFilesTotal: Int, nFilesKept: Int,
                               nPartDirsTotal: Int = 0, nPartDirsKept: Int = 0)

  /** Synthetic single-value stats for a Hive partition-path segment
    * `col=value`: min = max = value in the column's kind (numeric
    * widened one ulp each way, mirroring the sidecar writer's
    * conservatism), so [[mayMatch]] evaluates partition pruning with
    * the same rule as file pruning. `__HIVE_DEFAULT_PARTITION__` is a
    * null partition — `nNonNull = 0`, which every extracted range
    * rejects (ranges come from null-rejecting comparisons only).
    * Types outside numeric/string (timestamps, dates — path-FORMATTED,
    * not epoch-encoded) return None: that segment is never pruned on.
    */
  private def partColStat(raw: String, dt: DataType): Option[ColStat] = {
    val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(raw)
    if (v == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .DEFAULT_PARTITION_NAME)
      Some(ColStat(None, None, None, None, 0L))
    else if (dt == org.apache.spark.sql.types.StringType)
      Some(ColStat(None, None, Some(v), Some(v), 1L))
    else if (isNumeric(dt))
      try {
        val d = v.toDouble
        Some(ColStat(Some(Math.nextDown(d)), Some(Math.nextUp(d)), None, None, 1L))
      } catch { case _: NumberFormatException => None }
    else None
  }

  /** Predicate-pruned snapshot read — the scan-planning half of the
    * stats contract. Resolves the (current or pinned) manifest, extracts
    * simple range conjuncts from `predicate`, drops every data file
    * whose persisted [min,max] cannot intersect them, and applies the
    * FULL predicate to the survivors, so the result is exactly
    * `readAt(...).filter(predicate)` at a fraction of the bytes when
    * stats exist ([[write]]/[[ingest]]/[[compact]]/[[merge]] maintain
    * them per the manifest's `stats:` config). Dirs without sidecars,
    * columns without stats, and unsupported predicate shapes all fall
    * back to reading — pruning is only ever an optimization. Stats
    * sidecars are metadata-scale (one row per file×column) and resolve
    * on the driver exactly like the manifest itself.
    */
  def readWhere(spark: SparkSession, path: String, predicate: Column,
                version: Option[Long] = None): DataFrame =
    readWhereReport(spark, path, predicate, version)._1

  /** [[readWhere]] plus the pruning decision (total vs kept file
    * counts) for audits and tests.
    */
  def readWhereReport(spark: SparkSession, path: String, predicate: Column,
                      version: Option[Long] = None): (DataFrame, PruneReport) = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    val m = readManifestChecked(spark, path, v)
    val (perDir, report) = planPrunedFiles(spark, path, m, Some(predicate))
    buildPrunedRead(spark, path, m, perDir, predicate, report)
  }

  /** The scan-planning kernel, shared by [[readWhereReport]] and the
    * DataSource V2 scan ([[graft.sources.v2.GraftDataSource]] — the
    * `spark.read.format("graft")` / SQL surface): extract prune terms
    * from `predicate` (when given), list data files with PARTITION
    * pruning per manifest dir, then drop every file whose stats
    * interval / string bloom cannot satisfy the terms. Returns per-dir
    * (dir, total files, kept files, partition-dir counts) plus the
    * aggregate decision report. Pruning is only ever an optimization:
    * callers re-apply the full predicate to the survivors.
    */
  private[graft] def planPrunedFiles(spark: SparkSession, path: String,
      m: Manifest, predicate: Option[Column])
      : (Seq[(String, Int, Seq[Path], Int, Int)], PruneReport) = {
    // Resolve the predicate the way Spark itself would: analyze a
    // filter of the snapshot (driver-only, no execution) and extract
    // the condition — the analyzer resolves names, inserts promotion
    // casts, and rejects unknown columns loudly, all for free. The
    // analysis runs over the RAW scan (tombstones not applied): the
    // predicate names table columns only, and the mask join would just
    // add plan noise to walk past.
    // ranges come out in LOGICAL names (the analyzer resolves the
    // caller's predicate); stats sidecars, partition dir names, and
    // file contents are all PHYSICAL — translate once here
    // terms: conjunction of disjunctions of range-conjunctions (see
    // [[extractPruneTerms]]); a file/partition must keep SOME branch of
    // EVERY term possible
    val terms = predicate.toSeq.flatMap(p =>
      rawScan(spark, path, m).filter(p)
        .queryExecution.analyzed.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        }.flatMap(extractPruneTerms)
        .map(_.map(_.map(r => r.copy(colName = m.physOf(r.colName))))))
    val allRanges = terms.flatten.flatten
    val f = fs(spark, new Path(path))
    val typeOf: Map[String, DataType] =
      m.schema.fields.map(fd => m.physOf(fd.name) -> fd.dataType).toMap
    // Partition-aware listing with PARTITION pruning: a `col=value`
    // subtree whose single-point stats no extracted range can intersect
    // is skipped WITHOUT listing its files — at 100 TB this is the
    // Hive-metastore contract (touch O(partitions) names, not
    // O(files)), and it runs BEFORE the per-file stats pass below.
    // Returns the surviving files plus partition-dir counts.
    def dataFiles(d: String): (Seq[Path], Int, Int) = {
      var partsTotal = 0
      var partsKept = 0
      val out = Seq.newBuilder[Path]
      def walk(p: Path): Unit =
        f.listStatus(p).foreach { st =>
          val n = st.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".")) {
            if (st.isFile) out += st.getPath
            else {
              val eq = n.indexOf('=')
              val keep =
                if (eq <= 0) true
                else {
                  partsTotal += 1
                  val k = n.substring(0, eq)
                  val ok =
                    if (!allRanges.exists(_.colName == k)) true
                    else partColStat(n.substring(eq + 1), typeOf.getOrElse(k,
                        org.apache.spark.sql.types.NullType))
                      .forall(st0 => terms.forall(_.exists(_.forall(q =>
                        q.colName != k || mayMatch(st0, q)))))
                  if (ok) partsKept += 1
                  ok
                }
              if (keep) walk(st.getPath)
            }
          }
        }
      val root = new Path(path, d)
      if (f.exists(root)) walk(root)
      (out.result(), partsTotal, partsKept)
    }
    // One multi-path read over every present sidecar (rows key on the
    // snapshot-dir-relative subpath — see [[fileSubpath]]: unique across
    // dirs AND across partition siblings), so stats resolution is a
    // single driver-side job regardless of chain length.
    val statPaths =
      if (terms.isEmpty) Nil
      else m.dirs.map(d => statsDir(path, d)).filter(f.exists)
    // string EQUALITY values in the predicate — the point lookups the
    // per-file blooms can answer (including each branch of an OR/IN
    // term: a branch whose value the file's bloom rules out is dead for
    // that file). Blooms are probed IN THE SIDECAR SCAN (the per-row
    // [[graft.plans.BloomMightContainBinary]] expression): only (file,
    // col, value-verdict) booleans ever reach the driver, so planning a
    // point lookup over an arbitrarily long chain costs O(files) driver
    // memory, never O(files × bloom bytes).
    val pointStr: Seq[(String, String)] = allRanges.collect {
      case q if q.loS.isDefined && q.loS == q.hiS => q.colName -> q.loS.get
    }.distinct
    def sidecarScan = spark.read.schema(statsSidecarSchema)
      .parquet(statPaths.map(_.toString): _*)
    val stats: Map[(String, String), ColStat] =
      if (statPaths.isEmpty) Map.empty
      else sidecarScan.filter(org.apache.spark.sql.functions.col("bloom").isNull)
        .collect().map { r =>
          (r.getAs[String]("file"), r.getAs[String]("col")) -> ColStat(
            Option(r.getAs[java.lang.Double]("lo_d")).map(_.doubleValue),
            Option(r.getAs[java.lang.Double]("hi_d")).map(_.doubleValue),
            Option(r.getAs[String]("lo_s")), Option(r.getAs[String]("hi_s")),
            r.getAs[Long]("n_nonnull"))
        }.toMap
    // (file, col, value) -> "the bloom rules the queried value OUT" —
    // absent entries (no bloom row: legacy sidecar, numeric column) keep
    // the file. One probe OUTPUT COLUMN per distinct queried value, so
    // an OR/IN term's values each get their own verdict in the same
    // single sidecar scan.
    val bloomExcludes: Set[(String, String, String)] =
      if (statPaths.isEmpty || pointStr.isEmpty) Set.empty
      else {
        import org.apache.spark.sql.functions.{col => c, lit, when}
        val probes = pointStr.map { case (colName, value) =>
          when(c("col") === colName,
            GraftSqlShim.column(
              graft.plans.BloomMightContainBinary(
                GraftSqlShim.expression(c("bloom")),
                org.apache.spark.sql.catalyst.expressions.Literal(
                  value.getBytes(java.nio.charset.StandardCharsets.UTF_8)))))
            .otherwise(lit(null).cast("boolean"))
        }
        sidecarScan.filter(c("bloom").isNotNull &&
            c("col").isin(pointStr.map(_._1).distinct: _*))
          .select(c("file") +: c("col") +: probes: _*)
          .collect()
          .flatMap { r =>
            pointStr.zipWithIndex.collect {
              case ((colName, value), i)
                  if r.getString(1) == colName && !r.isNullAt(2 + i) &&
                    !r.getBoolean(2 + i) =>
                (r.getString(0), colName, value)
            }
          }
          .toSet
      }
    // one range's verdict for one file: stats interval must intersect,
    // and — for a string point — the file's bloom must not veto the
    // value (the hash-distributed-key case where intervals never prune)
    def rangeOk(file: String, q: Range): Boolean =
      stats.get((file, q.colName)).forall(st => mayMatch(st, q)) &&
        !(q.loS.isDefined && q.loS == q.hiS &&
          bloomExcludes((file, q.colName, q.loS.get)))
    val perDir = m.dirs.map { d =>
      val (files, pt, pk) = dataFiles(d)
      val kept =
        if (terms.isEmpty || (stats.isEmpty && bloomExcludes.isEmpty)) files
        else files.filter { p =>
          val id = fileSubpath(p.toString, d)
          terms.forall(_.exists(_.forall(q => rangeOk(id, q))))
        }
      (d, files.size, kept, pt, pk)
    }
    val total = perDir.map(_._2).sum
    val report = PruneReport(total, perDir.map(_._3.size).sum,
      perDir.map(_._4).sum, perDir.map(_._5).sum)
    (perDir, report)
  }

  /** Assemble the [[readWhere]] result from a [[planPrunedFiles]]
    * decision: per-dir kept-file scans (basePath-grouped on partitioned
    * tables), tombstone overlay, then the FULL predicate re-applied so
    * pruning can never change the answer.
    */
  private def buildPrunedRead(spark: SparkSession, path: String, m: Manifest,
      perDir: Seq[(String, Int, Seq[Path], Int, Int)], predicate: Column,
      report: PruneReport, exposePos: Boolean = false): (DataFrame, PruneReport) = {
    val kept = perDir.flatMap(_._3)
    val df =
      if (kept.isEmpty)
        // constant-false filter folds to an empty LocalRelation: right
        // schema, zero files opened
        rawScan(spark, path, m)
          .filter(org.apache.spark.sql.functions.lit(false))
      else {
        // Loading LEAF FILES loses the k=v path context partition
        // discovery needs; basePath = the file's SNAPSHOT dir restores
        // it. Discovery tolerates only one base per scan, so partitioned
        // kept-file scans group by manifest dir and union (mirroring
        // [[rawScan]]); unpartitioned tables keep the single
        // multi-file scan node.
        import org.apache.spark.sql.functions.col
        val withPos = exposePos || m.posDeletes.nonEmpty
        def filesScan(d: String, paths: Seq[Path]) = {
          val reader0 = spark.read.format(m.format)
          val reader =
            if (m.partitionCols.isEmpty) reader0
            else reader0.option("basePath", new Path(path, d).toString)
          val df0 = reader.schema(physSchema(m.schema, m.physmap))
            .load(paths.map(_.toString): _*)
          // the unpartitioned fast path feeds ALL dirs' kept files into
          // one scan, so the subpath must derive from each ROW's own
          // path (the generic last-`snap-*`-segment form), not from a
          // single dir name
          val posCols =
            if (!withPos) Nil
            else Seq(fileSubpathMetaCol.as(posFileCol),
              col("_metadata.row_index").as(posOrdCol))
          if (m.physmap.nonEmpty)
            df0.select(m.schema.fieldNames.toSeq.map(n =>
              col(m.physOf(n)).as(n)) ++ posCols: _*)
          else if (posCols.nonEmpty)
            df0.select(m.schema.fieldNames.toSeq.map(col(_)) ++ posCols: _*)
          else if (m.partitionCols.isEmpty) df0
          else df0.select(m.schema.fieldNames.map(col(_)).toSeq: _*)
        }
        // the tombstone overlay additionally needs each row's commit
        // version, so its per-dir scans tag before masking (the group
        // key is the MANIFEST dir tracked through the listing — a
        // partition subdir's name must never reach dirVersion)
        val base =
          if (m.tombstones.isEmpty && m.partitionCols.isEmpty)
            filesScan(perDir.head._1, kept)
          else {
            val perDirScans = perDir.filter(_._3.nonEmpty)
              .map { case (d, _, files, _, _) =>
                val s = filesScan(d, files)
                if (m.tombstones.isEmpty) s
                else s.withColumn(dirVersionCol,
                  org.apache.spark.sql.functions.lit(dirVersion(d)))
              }
            perDirScans.reduceLeft(_ unionByName _)
          }
        val keyMasked =
          if (m.tombstones.isEmpty) base else applyTombstones(spark, path, m, base)
        val masked =
          if (m.posDeletes.isEmpty) keyMasked
          else applyPosDeletes(spark, path, m, keyMasked, keepPosCols = exposePos)
        masked.filter(predicate)
      }
    (df, report)
  }

  /** Size-targeted compaction as a SNAPSHOT COMMIT: the rewrite stages
    * into the next snapshot directory and becomes visible atomically at
    * manifest rename; the previous snapshot's files are retained, so
    * in-flight readers finish on the exact file set they resolved.
    * Same rewrite kernel as [[Sink.compact]] (scan → repartition to
    * ceil(bytes/target) → write; a z-order rewrite rounds that count
    * up to a power of two), different publication contract.
    *
    * With `textCol` set, compaction also REPAIRS the incremental-ingest
    * sidecars for chains that started from a plain [[write]] (which
    * commits neither hash sidecar nor bloom): when they cannot be
    * carried forward — a source dir lacks its hash sidecar, or the
    * manifest names no bloom — they are rebuilt from the compacted
    * output this pass is already rewriting (one hash-projection scan of
    * freshly-written, page-cache-hot files; never an extra pass over the
    * old chain). After that, [[ingest]] on the compacted table keeps the
    * never-reads-payloads invariant: the bloom gates probe-negatives and
    * probe-positives verify against ~16 B/row hash sidecars. Without
    * `textCol` the prior behavior stands (sidecars collapse only when
    * the whole chain has them; a gap falls back to one payload scan at
    * the next ingest). `expectedItems`/`fpp` here MUST match the values
    * the table's ingests use — blooms merge only at equal parameters,
    * so a repaired bloom built at different ones is incompatible with
    * the next ingest's delta bloom and that ingest pays the one
    * full-table rebuild scan the repair exists to avoid (correctness
    * is unaffected either way).
    *
    * Stats sidecars are REBUILT for the compacted output (the old
    * per-file intervals name rewritten files), per the manifest's
    * persisted `stats:` config or this call's `statsCols` override —
    * compacting with `sortCols` on a stats column is exactly what makes
    * the rebuilt intervals disjoint and pruning sharp.
    *
    * CONCURRENT APPENDS are safe: a compaction that loses the
    * version-slot race to interleaved `ingest` commits REBASES
    * ([[commitLoop]]) — the compacted dir re-homes (pure rename) next
    * to the interleaved append dirs it never read, so the table is
    * never re-scanned. The appends were deduped against a bloom that
    * covers the compacted content and never add tombstones, so neither
    * the dedup invariant nor the materialized overlay changes under
    * them. A concurrent COMPACTION or any rewrite (overwrite/merge/
    * merge-on-read) refuses loudly — the chain this rewrite replaced
    * no longer exists — and so does a binpack, whose merged dir would
    * list next to this full rewrite and double-count its content.
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              sortCols: Seq[String] = Nil,
              textCol: Option[String] = None,
              expectedItems: Long = 1000000L,
              fpp: Double = 0.01,
              statsCols: Seq[String] = Nil,
              zorderCols: Seq[String] = Nil,
              zorderBits: Int = 16): Sink.CompactionStats = {
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "sortCols and zorderCols are alternative clusterings; pass one")
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    val m = readManifestChecked(spark, path, v)
    val f = fs(spark, new Path(path))
    val before = m.dirs.flatMap(d => listDataFiles(f, new Path(path, d)))
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = readAt(spark, path, v)
    // With sortCols, compaction CLUSTERS: range-repartition on the sort
    // key gives every output file a disjoint key interval (round-robin
    // would spread the whole range across every file), which is exactly
    // what makes the rebuilt min/max stats prunable — the write-side
    // half of [[readWhere]]'s contract. With zorderCols, the cluster
    // key is the Morton interleave ([[ZOrder.zValue]] — non-negative
    // integral domains; rank/bucket first otherwise): each file covers
    // a compact z-range and therefore a compact range in EVERY
    // interleaved dimension, so [[readWhere]] prunes on predicates
    // over ANY of them — the lakehouse multi-dim layout, committed
    // through the same atomic manifest path. Without either, the
    // rewrite stays pure round-robin size-targeting.
    // On a partitioned table every clustering key is PREFIXED with the
    // partition columns: each output task then holds a contiguous run
    // of (partition, cluster-key), so partitionBy at write emits a
    // handful of files per task instead of one per (task × partition
    // value) — the file-explosion failure mode of naive repartition +
    // partitionBy. The plain branch spreads within partition values on
    // a synthetic id so a large partition still splits to size targets.
    val pcols = m.partitionCols.map(df(_))
    val sorted =
      if (zorderCols.nonEmpty) {
        import org.apache.spark.sql.functions.col
        // Morton cells are aligned at powers of two, so over evenly spread
        // keys a power-of-two file count puts every range boundary near a
        // cell edge. Any other count cuts cells: 3 files over a square
        // grid each hold some x = 0 row, so an x-slice never prunes.
        // Files stay between half the target and the target.
        val nZ = Iterator.iterate(1)(_ * 2).dropWhile(_ < nOut).next()
        df.withColumn("__z", ZOrder.zValue(zorderCols.map(df(_)), zorderBits))
          .repartitionByRange(nZ, pcols :+ col("__z"): _*)
          .sortWithinPartitions(pcols :+ col("__z"): _*).drop("__z")
      } else if (sortCols.nonEmpty)
        df.repartitionByRange(nOut, pcols ++ sortCols.map(df(_)): _*)
          .sortWithinPartitions(pcols ++ sortCols.map(df(_)): _*)
      else if (m.partitionCols.nonEmpty) {
        import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
        df.withColumn("__spread", monotonically_increasing_id())
          .repartitionByRange(nOut, pcols :+ col("__spread"): _*)
          .drop("__spread")
      } else df.repartition(nOut)
    val nextDir = stageDir(v + 1)
    // Compaction also collapses an append chain back to ONE directory.
    // The hash sidecar — when the whole chain has one — collapses by
    // pure hash union (no payload re-hash), and the bloom carries over
    // BY REFERENCE: the new manifest names the same bloom file (same
    // content, same set — expire refcounts bloom names like dirs).
    // When either is missing and the caller named the content column,
    // rebuild it from the just-written compacted output (see scaladoc).
    import org.apache.spark.sql.functions.{col, xxhash64}
    // A tombstone overlay makes BOTH carry-forward shortcuts invalid:
    // the old hash sidecars and bloom still contain the masked rows'
    // content, and compaction is exactly the point where deleted content
    // must leave the dedup universe (so a re-crawled deleted row can be
    // re-admitted). With tombstones, rebuild from the compacted output
    // (textCol) or drop the sidecars (next ingest pays one rebuild scan).
    // an untrusted chain (post-dropColumn `nohashes`) must NOT collapse
    // by union — that would launder stale hashes into the new dir; the
    // rebuild-from-written branch is exactly how compaction HEALS the
    // table (the committed manifest below defaults back to trusted)
    val effStats = if (statsCols.nonEmpty) statsCols else m.statsCols
    val staged = stageCommit(spark, "compact", path, nextDir, Some(sorted), m.format,
      m.schema, m.physmap, m.partitionCols, effStats, contentCol = textCol,
      unionOf = if (!m.hasOverlay && m.hashesValid) m.dirs else Nil)
    // A chain with NO named bloom gets one built from the compacted
    // output when textCol is given, so the next ingest's probe path is
    // O(delta).
    var rebuiltBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None
    val outBloomName = (m.bloom, textCol) match {
      case (some @ Some(_), _) if !m.hasOverlay => some
      case (_, Some(tc)) =>
        val b = bloomOf("compact", staged.written, xxhash64(contentKey(col(m.physOf(tc)))),
          expectedItems, fpp)
        rebuiltBloom = Some(b)
        publishBloom(spark, path, v + 1, nextDir, None, b)
      case _ => None
    }
    val parentDirs = m.dirs.toSet
    val committed = commitLoop(spark, path, "compaction", v, Some(m), Seq(nextDir),
        admits = appendKinds,
        why = { case "compact" => "a concurrent compaction won: this rewrite is " +
          "obsolete, the chain it replaced no longer exists" }) { (cv, base, chain) =>
      val dir = atVersion(nextDir, cv)
      val appendAdded = base.get.dirs.filterNot(parentDirs)
      // rebased bloom: with no overlay the compacted content is the
      // parent's, which the winner's bloom already covers (with the
      // appends); with one, deleted content must LEAVE the dedup
      // universe, so only the rebuilt bloom plus the appends' hash
      // sidecars qualifies — else the manifest names none
      val bloom =
        if (chain.isEmpty) outBloomName
        else if (!m.hasOverlay) base.get.bloom
        else rebuiltBloom.flatMap { rb =>
          val sidecars = appendAdded.map(d => hashesDir(path, d))
          if (!sidecars.forall(f.exists)) None
          else if (appendAdded.isEmpty) publishBloom(spark, path, cv, dir, None, rb)
          else publishBloom(spark, path, cv, dir, Some(rb),
            bloomOf("compact", readHashes(spark, m.format, sidecars),
              xxhash64(col("__h")), expectedItems, fpp))
        }
      Some(Manifest(dir +: appendAdded, m.format, bloom, m.schema,
        effStats, kind = "compact", partitionCols = m.partitionCols,
        constraints = base.get.constraints, physmap = m.physmap,
        physRetired = base.get.physRetired))
    }
    val after = listDataFiles(f, new Path(path, atVersion(nextDir, committed))).size
    Sink.CompactionStats(before.length, after, totalBytes)
  }

  final case class BinpackStats(version: Long, nDirsMerged: Int, nDirsKept: Int,
                                bytesMerged: Long, committed: Boolean)

  /** Incremental bin-pack compaction: merge ONLY the small-directory
    * tail of an append chain into one size-targeted directory, leaving
    * every directory at or above `smallDirBytes` untouched — the
    * Iceberg `rewriteDataFiles` binpack strategy reduced to its chain
    * form. Cost is O(small tail): the big directories are never read,
    * never rewritten, and keep their exact file names, so their stats
    * sidecars (and therefore [[readWhere]] pruning) survive unchanged.
    * This is what daily maintenance on a 100 TB table actually runs —
    * [[compact]]'s full rewrite is the right tool after a merge or to
    * re-cluster, but compacting a petabyte because the last hour added
    * forty small commits is not a plan that survives scale.
    *
    * PURE LAYOUT OP: content is unchanged, so the merged directory's
    * hash sidecar is the pure union of the merged inputs' sidecars (no
    * payload re-hash; if any input lacks one, none is written and the
    * next ingest pays the usual one-time rebuild) and the table bloom
    * carries forward BY REFERENCE — the dedup universe is exactly what
    * it was, unlike [[compact]] over tombstones, which is precisely the
    * operation that re-opens it.
    *
    * Fewer than two small directories = a content AND layout no-op:
    * nothing commits, the version log does not grow (idempotent
    * maintenance loops never churn the manifest chain).
    *
    * An outstanding merge-on-read overlay refuses loudly: the overlay
    * masks by key across ALL directories, and materializing it for only
    * the rewritten subset would silently split the table into
    * overlay-applied and overlay-pending halves under one tombstone
    * list. Run [[compact]] (which materializes and resets the overlay)
    * first.
    *
    * Like every rewrite it is a rewrite-class commit downstream:
    * [[addedBetween]] refuses ranges crossing it and the version-log
    * stream flags it with kind `binpack`.
    *
    * CONCURRENT APPENDS are safe — the maintenance-loop norm is binpack
    * racing a streaming ingest: a lost version-slot race REBASES the
    * staged merge onto the winner's state ([[commitLoop]]). The merged
    * dir re-homes by pure rename, and the rebased manifest is the
    * winner's dirs minus the merged smalls plus the merge. Binpack adds
    * no content, so the winner's bloom (covering parent ∪ appends),
    * schema and stats config all carry as-is, and appends add no
    * tombstones, so the overlay stays empty. Any other interleaving —
    * a rewrite, merge, merge-on-read or another compaction — may have
    * removed the dirs this merge replaced and refuses loudly; re-running
    * binpack against the new snapshot is cheap by construction.
    */
  def compactSmall(spark: SparkSession, path: String,
                   smallDirBytes: Long = 64L * 1024 * 1024,
                   targetFileBytes: Long = 128L * 1024 * 1024): BinpackStats = {
    require(smallDirBytes > 0, s"smallDirBytes must be positive, got $smallDirBytes")
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    val m = readManifestChecked(spark, path, v)
    if (m.hasOverlay) throw new IllegalStateException(
      s"$path has ${m.tombstones.size} outstanding merge-on-read tombstone sidecar(s) " +
        s"and ${m.posDeletes.size} positional-delete sidecar(s); binpack rewrites " +
        "only a subset of directories and cannot materialize a table-wide overlay " +
        "for it (a partial rewrite would also orphan positional ordinals). Run " +
        "compact() first to materialize and reset the overlay, then binpack the " +
        "append tail")
    val f = fs(spark, new Path(path))
    val sized = m.dirs.map(d => d -> listDataFiles(f, new Path(path, d)).map(_.getLen).sum)
    val (smalls, bigs) = sized.partition(_._2 < smallDirBytes)
    if (smalls.size < 2)
      return BinpackStats(v, 0, m.dirs.size, 0L, committed = false)
    val smallBytes = smalls.map(_._2).sum
    val nOut = math.max(1, math.ceil(smallBytes.toDouble / targetFileBytes).toInt)
    val df = rawScan(spark, path, m.copy(dirs = smalls.map(_._1)))
    // same partition-safe spreading as [[compact]]'s plain branch: on a
    // partitioned table, range-spread on a synthetic id keeps each task
    // on a contiguous slice so partitionBy emits a handful of files per
    // task instead of one per (task × partition value)
    val spread =
      if (m.partitionCols.nonEmpty) {
        import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
        df.withColumn("__spread", monotonically_increasing_id())
          .repartitionByRange(nOut, m.partitionCols.map(df(_)) :+ col("__spread"): _*)
          .drop("__spread")
      } else df.repartition(nOut)
    val nextDir = stageDir(v + 1)
    // hash sidecar: pure union of the merged inputs' sidecars — content
    // is unchanged, so no payload is re-hashed
    stageCommit(spark, "binpack", path, nextDir, Some(spread), m.format, m.schema,
      m.physmap, m.partitionCols, m.statsCols, unionOf = smalls.map(_._1))
    val merged = smalls.map(_._1).toSet
    val version = commitLoop(spark, path, "binpack", v, Some(m), Seq(nextDir),
        admits = appendKinds) { (cv, base, _) =>
      Some(base.get.copy(dirs = base.get.dirs.filterNot(merged) :+ atVersion(nextDir, cv),
        kind = "binpack"))
    }
    BinpackStats(version, smalls.size, bigs.size, smallBytes, committed = true)
  }

  /** Drop snapshots older than the `keep` most recent manifests — the
    * retention window concurrent readers get to finish inside. With
    * append chains, directories are SHARED between consecutive
    * manifests: a directory is deleted only when no retained manifest
    * still references it.
    */
  def expire(spark: SparkSession, path: String, keep: Int = 2): Int = {
    require(keep >= 1, "must retain at least the current snapshot")
    val f = fs(spark, versionsDir(path))
    val vs = versions(spark, path)
    if (vs.isEmpty) return 0
    // TAGGED versions are pinned, and so is every branch's FORK POINT:
    // a commit-less branch reads (and its first append parents) through
    // the base manifest, so the base must outlive the retention window
    // for as long as the ref does — the Iceberg ref-retention contract.
    val tagged = tags(spark, path).values.toSet ++
      branches(spark, path).values.map(_._1)
    val drop = vs.dropRight(keep).filterNot(tagged)
    // branch-chain manifests are liveness roots exactly like retained
    // main manifests: a branch delta dir (or an overlay sidecar the
    // branch inherited at its fork) must survive main-chain expiry
    val retained = vs.filterNot(drop.toSet).map(v => readManifestFull(spark, path, v)) ++
      allBranchManifests(spark, path)
    val retainedDirs = retained.flatMap(_.dirs).toSet
    // bloom files are shared by reference across compactions — refcount
    // their names exactly like dirs; tombstone sidecars are shared by
    // every later pre-rewrite manifest and refcount the same way
    val retainedBlooms = retained.flatMap(_.bloom).toSet
    val retainedTs = retained.flatMap(_.tombstones).toSet
    val retainedPd = retained.flatMap(_.posDeletes).toSet
    // persist the clock floor BEFORE dropping: the newest expired
    // commit's EFFECTIVE instant seeds [[effectiveCommitTimes]] so the
    // retained versions' effective clock never moves backward across an
    // expire (see the seeding comment there). Only the CONTIGUOUS
    // left-edge prefix of the drop feeds the floor — a version dropped
    // from the interior (between tagged islands) must not inflate the
    // older retained islands' instants; interior drops cannot lower
    // anyone's eff under the strictly-increasing stamp discipline, and
    // skewed pre-clamp chains predate tags. Overwrite-in-place is fine
    // under the same single-maintainer assumption as vacuum.
    val retainedHead = vs.filterNot(drop.toSet).head
    val leftPrefix = drop.filter(_ < retainedHead)
    if (leftPrefix.nonEmpty) {
      val floor = effectiveCommitTimes(spark, path).toMap.apply(leftPrefix.last)
      val out = f.create(clockFloorFile(path), true)
      try out.write(floor.toString.getBytes("UTF-8")) finally out.close()
    }
    drop.foreach { v =>
      val m = readManifestFull(spark, path, v)
      m.dirs.filterNot(retainedDirs).foreach { d =>
        f.delete(new Path(path, d), true)
        f.delete(hashesDir(path, d), true)
        f.delete(statsDir(path, d), true)
        // minhash sidecars live under per-parameter subdirs
        // (_minhash/k32s3/<dir>) — sweep every parameter vintage
        val mh = new Path(path, "_minhash")
        if (f.exists(mh)) f.listStatus(mh).foreach(p =>
          f.delete(new Path(p.getPath, d), true))
      }
      m.tombstones.filterNot(retainedTs)
        .foreach(n => f.delete(tombstonePath(path, n), true))
      m.posDeletes.filterNot(retainedPd)
        .foreach(n => f.delete(posDeletePath(path, n), true))
      f.delete(manifest(path, v), false)
      m.bloom.filterNot(retainedBlooms)
        .foreach(n => f.delete(new Path(versionsDir(path), n), false))
    }
    drop.length
  }

  // ---- the commit classifier every change consumer reads ---------------

  /** Kinds whose commit only adds dirs over its parent: a fast-forward
    * publish (branch merge) lists a superset of the fork state's dirs,
    * so it reads as the branch-staged dirs appended.
    */
  private[graft] val appendKinds: Set[String] = Set("append", "fast-forward")

  /** Kinds that leave the rows a reader sees unchanged: compactions
    * rewrite files without changing content, and constraint, column
    * mapping and partition-layout commits are metadata. A change
    * consumer rolls its cursor past them with no events.
    */
  private[graft] val contentNoOpKinds: Set[String] = Set("compact", "binpack",
    "posdelete-compact", "constraint", "drop-constraint", "renamecol", "dropcol",
    "repartition")

  /** Kinds that rewrite files without changing their content. */
  private val layoutKinds: Set[String] = Set("compact", "binpack")
  /** Kinds that only mask rows by file position, over files they keep. */
  private val posMaskKinds: Set[String] = Set("posdelete", "posdelete-compact")
  /** Position masks, plus a `posupdate`'s delta dir of updated rows. */
  private val positionalKinds: Set[String] = posMaskKinds + "posupdate"
  /** Every overlay: a position mask or a keyed tombstone, over kept files. */
  private val overlayKinds: Set[String] = positionalKinds + "merge-on-read"

  // What each op's [[commitLoop]] rebases over (its scaladoc has the table):
  // a delta that references no row composes with every kind keeping the files
  private val appendAdmits: Set[String] = appendKinds ++ layoutKinds ++ overlayKinds
  // the content its dedup saw must stay: a posupdate adds rows it never saw
  private val ingestAdmits: Set[String] = appendKinds ++ layoutKinds ++ posMaskKinds
  // a tombstone masks a binpacked dir like any other; merge-on-reads stack
  private val morAdmits: Set[String] = appendKinds ++ Set("binpack", "merge-on-read")
  // the files the ordinals name must stay
  private val posDeltaAdmits: Set[String] = appendKinds ++ positionalKinds
  // a fold rewrites no data file
  private val posFoldAdmits: Set[String] = appendKinds ++ overlayKinds

  /** What one manifest lists over another: dirs, key tombstones and
    * `_posdel` sidecars added and dropped, each in manifest order.
    */
  private[graft] final case class ManifestDiff(
      addedDirs: Seq[String], droppedDirs: Seq[String],
      addedTombstones: Seq[String], droppedTombstones: Seq[String],
      addedPosDeletes: Seq[String], droppedPosDeletes: Seq[String]) {
    /** True when the change is readable by directory: dirs and
      * tombstones were only added and no positional-delete sidecar came
      * or went. The added tombstones (a merge-on-read commit's deleted
      * or updated keys) travel with the added dirs.
      */
    def dirDelta: Boolean = droppedDirs.isEmpty && droppedTombstones.isEmpty &&
      addedPosDeletes.isEmpty && droppedPosDeletes.isEmpty
  }

  /** `to` over `from`; None is the empty table before version 1. */
  private[graft] def manifestDiff(from: Option[Manifest], to: Manifest): ManifestDiff = {
    def diff(names: Manifest => Seq[String]): (Seq[String], Seq[String]) = {
      val before = from.fold(Seq.empty[String])(names)
      val after = names(to)
      (after.filterNot(before.toSet), before.filterNot(after.toSet))
    }
    val (addedDirs, droppedDirs) = diff(_.dirs)
    val (addedTs, droppedTs) = diff(_.tombstones)
    val (addedPd, droppedPd) = diff(_.posDeletes)
    ManifestDiff(addedDirs, droppedDirs, addedTs, droppedTs, addedPd, droppedPd)
  }

  /** O(delta) changelog: the rows APPENDED after `fromVersion` (exclusive)
    * up to `toVersion` (inclusive, default current). Valid when the chain
    * is append-only across the range — every directory `fromVersion`
    * lists is still listed by `toVersion`, which is exactly what
    * [[ingest]] commits guarantee. The scan loads ONLY the added
    * directories, never the base, so a daily "what arrived since v"
    * reads O(new data) regardless of table size — the CDC-read shape
    * every table format pairs with time travel (vs d11's full-outer
    * diff, which is the right tool when versions DON'T share files).
    * An intervening [[compact]]/[[write]]/[[merge]] rewrites the file
    * set, making the delta unidentifiable by directory — that range
    * fails loudly instead of silently returning the whole rewritten
    * table.
    */
  def addedBetween(spark: SparkSession, path: String, fromVersion: Long,
                   toVersion: Option[Long] = None): DataFrame = {
    val to = toVersion.getOrElse(currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path")))
    require(fromVersion <= to, s"fromVersion $fromVersion is after toVersion $to")
    // an expired/unknown/concurrently-expired endpoint gets the loud
    // retained-range error, not a raw missing-file failure
    val fromM = readManifestChecked(spark, path, fromVersion)
    val toM = readManifestChecked(spark, path, to)
    val d = manifestDiff(Some(fromM), toM)
    def refuse(what: String, names: Seq[String], how: String): Unit =
      if (names.nonEmpty) throw new IllegalArgumentException(
        s"versions $fromVersion..$to at $path are not an append-only chain " +
          s"($what${names.mkString(", ")} $how); use a keyed diff of readAt frames instead")
    val masked = "were added in the range, masking earlier rows"
    val resurrected = "were dropped in the range — a rollback resurrected rows they masked"
    refuse("", d.droppedDirs, "rewritten by a compact/overwrite in the range")
    // merge-on-read commits mutate rows WITHOUT touching the dir list:
    // their logical deletes/updates have no append representation, so a
    // range that crosses one cannot be answered by added rows alone
    refuse("merge-on-read tombstones ", d.addedTombstones, masked)
    refuse("positional deletes ", d.addedPosDeletes, masked)
    refuse("positional deletes ", d.droppedPosDeletes, resurrected)
    // the symmetric check: tombstones DROPPED with the dir list intact
    // (a rollback across a pure-delete merge-on-read commit) resurrect
    // masked rows — rows were logically ADDED with no dir to show for it
    refuse("tombstones ", d.droppedTombstones, resurrected)
    val added = d.addedDirs
    if (added.isEmpty) readAt(spark, path, to).limit(0)
    // delta dirs are a sub-chain of `to`'s snapshot: scan them through
    // the same manifest machinery (physical names, partition discovery,
    // logical aliasing) as a full read — just with the dir list cut down
    else rawScan(spark, path, toM.copy(dirs = added))
  }

  /** The table's CHANGE DATA FEED over a version range — every
    * row-level event the commits in `[fromVersion, toVersion]` applied,
    * as a DataFrame of the table's columns (under `toVersion`'s logical
    * names) plus `_change_type` ('insert' / 'delete'; an update is its
    * delete+insert pair, Iceberg-changes style) and `_commit_version`.
    * This is what [[addedBetween]] refuses to be: a range crossing
    * row-mutating commits replayed EXACTLY, with the masked victims'
    * full pre-images. Per commit kind:
    *
    *  - version 1 / `overwrite`-created baseline: its content as inserts;
    *  - `append` (ingest / SQL INSERT / streaming epochs): the added
    *    dirs' rows as inserts — O(delta) scan, never the table;
    *  - `merge-on-read`: the newly-tombstoned keys' rows VISIBLE at v-1
    *    as delete-side events (keyed semi-join of the pre-image read
    *    against the delta-scale tombstone — an upsert's new-key
    *    tombstone matches nothing, so pure inserts emit no phantom
    *    delete), plus the added dirs' rows as insert-side events; keys
    *    on BOTH sides (existed at v-1 AND re-added by this commit) are
    *    UPDATES and emit as `update_preimage`/`update_postimage` pairs
    *    (Delta's CDF typing — what lets a MERGE consumer apply updates
    *    as updates), pure deletes stay `delete`, fresh keys stay
    *    `insert`;
    *  - `posdelete` / `posupdate` (SQL DELETE / UPDATE / MERGE deltas):
    *    the new sidecars' (file, ordinal) victims as deletes (positional
    *    semi-join against the v-1 raw scan), plus any staged updates as
    *    inserts;
    *  - `compact` / `binpack` / `posdelete-compact` / constraint and
    *    column-mapping metadata commits: content no-ops, no events;
    *  - `overwrite` / `merge` / `rollback` (rewrite class): the honest
    *    full diff — every v-1 row as delete, every v row as insert
    *    (a rewrite IS a whole-table change; consumers that want cheaper
    *    semantics should window their range around it).
    *
    * Column-mapping drift inside the range is handled by the physical
    * names' immutability: every per-version frame re-aliases physical →
    * `toVersion`-vintage logical names, so one schema serves the whole
    * range (columns dropped by `toVersion` leave the feed; columns
    * added later null-fill). Needs manifest `fromVersion - 1` retained
    * (pre-images are read at v-1); fails with the retained range
    * otherwise. Scale shape: per-commit event frames are delta-scale
    * scans and delta-keyed semi-joins — only rewrite-class commits pay
    * table-scale, which is what they cost by definition.
    */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
              toVersion: Option[Long] = None,
              schemaVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val to = toVersion.getOrElse(currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path")))
    require(fromVersion >= 1L && fromVersion <= to,
      s"changes: bad version range [$fromVersion, $to]")
    // the feed's column names/arity anchor at `schemaVersion` (>= to;
    // default to) — a WINDOWED feed served under a fixed relation schema
    // (the catalog's `t$changes`) must not shape-shift with the window
    val toM = readManifestChecked(spark, path, schemaVersion.getOrElse(to))
    val toSchema = toM.schema
    // physical → toVersion-vintage logical name (physicals are immutable,
    // so this re-names any version's frame into toVersion's schema)
    val toLogicalOfPhys: Map[String, String] =
      toSchema.fieldNames.map(n => toM.physOf(n) -> n).toMap
    // `changeType` is a COLUMN evaluated against the pre-remap frame
    // (so the merge-on-read pairing can classify per row); constant
    // frames pass a literal
    def remap(df: DataFrame, mv: Manifest, changeType: Column, v: Long): DataFrame = {
      val have = df.columns.toSet
      val cols = toSchema.fields.map { fld =>
        // this version's logical name for the field's physical identity
        val vName = mv.physmap.find(_._2 == toM.physOf(fld.name))
          .map(_._1).getOrElse(toM.physOf(fld.name))
        if (have.contains(vName)) col(vName).cast(fld.dataType).as(fld.name)
        else lit(null).cast(fld.dataType).as(fld.name) // added after v
      }
      df.select((cols.toIndexedSeq :+ changeType.as("_change_type")
        :+ lit(v).as("_commit_version")): _*)
    }
    val frames = (fromVersion to to).flatMap { v =>
      val mv = readManifestChecked(spark, path, v)
      val mp = if (v == 1L) None
        else Some(try readManifestChecked(spark, path, v - 1) catch {
          case e: IllegalArgumentException => throw new IllegalArgumentException(
            s"changes over [$fromVersion, $to] at $path needs version ${v - 1} " +
              s"for the pre-image of version $v, but it expired: ${e.getMessage}")
        })
      val d = manifestDiff(mp, mv)
      def addedDirRows: Option[DataFrame] =
        if (d.addedDirs.isEmpty) None
        else Some(remap(rawScan(spark, path, mv.copy(dirs = d.addedDirs, tombstones = Nil)),
          mv, lit("insert"), v))
      def posVictims: Option[DataFrame] = {
        val newPd = d.addedPosDeletes
        if (newPd.isEmpty) None
        else {
          val pre = rawScanPos(spark, path, mp.get, withPos = true)
          val sidecar = readPosDeletes(spark, path, mv.format, newPd)
            .select(col("file").as("__graft_cf"), col("ord").as("__graft_co"))
          Some(remap(pre.join(broadcast(sidecar),
              pre(posFileCol) === col("__graft_cf") &&
                pre(posOrdCol) === col("__graft_co"), "left_semi")
            .drop(posFileCol, posOrdCol), mp.get, lit("delete"), v))
        }
      }
      mv.kind match {
        case _ if v == 1L => addedDirRows.toSeq // creation baseline: inserts
        case k if appendKinds(k) => addedDirRows.toSeq
        case k if contentNoOpKinds(k) => Nil
        case "merge-on-read" =>
          val newTs = d.addedTombstones
          // a MOR commit can add ZERO tombstones (an upsert batch whose
          // rows all gated away, or NULL-keyed inserts) — then there are
          // no delete events and no morkey requirement
          if (newTs.isEmpty) addedDirRows.toSeq
          else {
            val key = mv.morKey.getOrElse(throw new IllegalStateException(
              s"merge-on-read commit $v at $path lists tombstones but no " +
                "morkey — corrupt manifest"))
            val keys = newTs.map(n => readTombstone(spark, path, mv, key, n)
                .select(col(key).as("__graft_ck")))
              .reduce(_ unionByName _).distinct()
            val pre = readAt(spark, path, v - 1)
            // UPDATE PAIRING (Delta's CDF contract): a tombstoned key
            // that BOTH existed at v-1 AND is re-added by this commit's
            // delta dirs is an update — its pre-image emits as
            // 'update_preimage' and its new row as 'update_postimage' —
            // while keys only tombstoned (pure deletes) keep 'delete'
            // and keys only added keep 'insert'. The tombstone lists
            // EVERY winning key including brand-new ones, so membership
            // in the tombstone set alone cannot classify: the victim
            // side probes "re-added" and the insert side probes
            // "existed" (the two sides of the same intersection), both
            // as broadcast delta-scale key sets.
            val added = d.addedDirs
            val victims = pre.join(broadcast(keys),
              pre(key) === col("__graft_ck"), "left_semi")
            val addedScan = if (added.isEmpty) None
              else Some(rawScan(spark, path, mv.copy(dirs = added, tombstones = Nil)))
            val deletes = {
              val readdedKeys = addedScan.map(_.select(col(key).as("__graft_rk"))
                .distinct()
                .join(broadcast(keys), col("__graft_rk") === col("__graft_ck"),
                  "left_semi"))
              val typed = readdedKeys match {
                case None => remap(victims, mp.get, lit("delete"), v)
                case Some(rk) =>
                  val marked = victims.join(broadcast(rk),
                    victims(key) === col("__graft_rk"), "left")
                  remap(marked, mp.get,
                    when(col("__graft_rk").isNotNull, lit("update_preimage"))
                      .otherwise(lit("delete")), v)
              }
              typed
            }
            val inserts = addedScan.map { scan =>
              val victimKeys = victims.select(col(key).as("__graft_vk")).distinct()
              val marked = scan.join(broadcast(victimKeys),
                scan(key) === col("__graft_vk"), "left")
              remap(marked, mv,
                when(col("__graft_vk").isNotNull, lit("update_postimage"))
                  .otherwise(lit("insert")), v)
            }
            Seq(deletes) ++ inserts.toSeq
          }
        case "posdelete" | "posupdate" =>
          posVictims.toSeq ++ addedDirRows.toSeq
        case _ => // overwrite / merge / rollback: full diff
          Seq(remap(readAt(spark, path, v - 1), mp.get, lit("delete"), v),
            remap(readAt(spark, path, v), mv, lit("insert"), v))
      }
    }
    val metaSchema = StructType(toSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false)))
    if (frames.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        metaSchema)
    else frames.reduce(_ unionByName _)
  }

  /** Scan a subset of `version`'s snapshot directories through the full
    * manifest machinery — declared PHYSICAL schema, partition discovery,
    * logical-name aliasing — without the tombstone mask (the caller is
    * reading an append/upsert delta, whose rows commit at-or-after every
    * outstanding tombstone). This is the changelog consumer's delta
    * read: a raw `spark.read.load(dirs)` would surface physical column
    * names on a renamed table and miss null-filling on an evolved one.
    * `dirPaths` accepts the full paths the log source emits or bare dir
    * names.
    */
  def scanDirsAt(spark: SparkSession, path: String, version: Long,
                 dirPaths: Seq[String]): DataFrame = {
    val m = readManifestChecked(spark, path, version)
    val names = dirPaths.map(p => new Path(p).getName)
    val unknown = names.filterNot(m.dirs.contains)
    require(unknown.isEmpty,
      s"scanDirsAt: ${unknown.mkString(", ")} are not directories of version $version at $path")
    rawScan(spark, path, m.copy(dirs = names, tombstones = Nil))
  }

  final case class RollbackStats(version: Long, toVersion: Long)

  /** Roll the table back to a RETAINED earlier version as a NEW commit
    * (the Delta RESTORE / Iceberg rollback contract): version cur+1
    * re-references `toVersion`'s manifest content verbatim — dirs,
    * bloom, schema, stats config, tombstone overlay, partitioning.
    * PURE METADATA: no data file is read, copied, or moved. Snapshot
    * dirs are immutable and [[expire]]/[[vacuum]] refcount dirs,
    * blooms, and tombstones across ALL retained manifests, so the
    * re-references keep every artifact alive even after the rolled-over
    * versions expire. History stays linear and auditable — the bad
    * commits remain retained and time-travelable until [[expire]] trims
    * them, and "rolling forward" again is just another rollback to a
    * later retained version. Rolling back to the CURRENT version is a
    * no-op and does not commit (idempotent re-runs never grow the
    * version log); an expired or never-committed target fails loudly
    * with the retained range. Dedup follows content: content first
    * admitted AFTER `toVersion` leaves the bloom universe with the
    * rollback, so a later re-crawl re-admits it — the same re-admission
    * contract compaction applies to deleted content.
    *
    * Changelog semantics: a rollback is a REWRITE-class commit — the
    * version-log stream flags it (including the dirs-intact case where
    * only tombstones were dropped, resurrecting the rows they masked)
    * and [[addedBetween]] refuses ranges that cross it.
    *
    * Concurrency: a lost version-slot race surfaces
    * [[CommitConflictException]] to the caller — rebasing a rollback
    * over a concurrent commit would silently discard that commit, which
    * is exactly what a rollback must never do implicitly.
    */
  def rollback(spark: SparkSession, path: String, toVersion: Long): RollbackStats = {
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    require(toVersion <= cur,
      s"cannot roll back to future version $toVersion (current is $cur)")
    if (toVersion == cur) return RollbackStats(cur, toVersion)
    val target = readManifestChecked(spark, path, toVersion)
    commit(spark, path, cur + 1, target.copy(kind = "rollback"))
    RollbackStats(cur + 1, toVersion)
  }

  /** PARTITION SPEC EVOLUTION as a metadata commit (the Iceberg
    * spec-evolution contract, re-expressed for hive layouts): commit
    * cur+1 re-references the current content verbatim but declares a
    * NEW identity-partitioning column list that applies to every
    * FUTURE write — no data file is read, copied, or rewritten.
    * Existing snapshot dirs keep the layout they were written under,
    * and reads handle the mixed chain because every per-dir scan is
    * already layout-agnostic: a dir's partition values restore from
    * ITS OWN `k=v` path segments (per-dir discovery), columns absent
    * from a vintage's paths read from its data files (an identity
    * partition column is always materialized in one of the two), and
    * partition-subtree pruning evaluates whatever segments each dir
    * actually has — so predicates on BOTH the old and the new
    * partition column keep pruning their own vintages. The manifest
    * records the mixed state (`partevolved:`), which delta commits
    * carry forward and any full rewrite (write / compact / COW merge)
    * clears by re-staging everything under the current spec.
    *
    * Boundaries, all loud: the new column list must be non-empty
    * (un-partitioning has no path-restoration story for the old
    * vintage's values — rewrite via [[write]]/[[compact]] instead) and
    * name existing columns; the SQL V2 scan serves evolved chains
    * through the distributed-read fallback until a compact normalizes
    * the layout (the single delegated parquet scan cannot mix
    * partition discoveries); streams refuse ranges that cross the
    * boundary (their physical schemas are captured at start) and
    * resume on restart/compact. A same-spec restatement is an
    * idempotent no-op and does not commit. A lost version-slot race
    * surfaces [[CommitConflictException]]: silently re-homing a layout
    * change over a concurrent commit could mislabel that commit's
    * staged layout.
    */
  def repartitionTable(spark: SparkSession, path: String,
                       cols: Seq[String]): Long = {
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    val m = readManifestChecked(spark, path, cur)
    require(cols.nonEmpty,
      s"repartitionTable at $path: the new partition column list is empty — " +
        "un-partitioning needs a rewrite (write/compact), not a metadata commit")
    require(cols.distinct == cols,
      s"repartitionTable at $path: duplicate columns in (${cols.mkString(", ")})")
    if (cols == m.partitionCols) return cur // idempotent no-op
    val unknown = cols.filterNot(m.schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"repartitionTable at $path: ${unknown.mkString(", ")} are not table " +
        s"columns (schema: ${m.schema.fieldNames.mkString(", ")})")
    commit(spark, path, cur + 1, m.copy(partitionCols = cols,
      kind = "repartition",
      // only a chain that HAS old-layout dirs is mixed; a content-empty
      // table re-specs cleanly
      partEvolved = m.partEvolved || m.dirs.nonEmpty))
    cur + 1
  }

  /** Cheap chain shape probe for maintenance policies: (number of
    * directories the CURRENT manifest lists, total data bytes in every
    * dir after the first, number of outstanding merge-on-read
    * tombstones). The first-listed dir is the chain's base
    * (post-compaction snapshots list exactly one); the rest are the
    * appended deltas a compaction would fold in — their byte total is
    * what decides whether an O(table) rewrite is worth paying. The
    * tombstone count matters separately because a pure-delete
    * [[mergeOnRead]] grows the read overlay WITHOUT adding a dir or a
    * delta byte — a dirs/bytes-only gate would never compact it away.
    * File metadata listings only; no data is read.
    */
  private[graft] def chainInfo(spark: SparkSession, path: String): (Int, Long, Int) = {
    val v = currentVersion(spark, path).getOrElse(return (0, 0L, 0))
    val m = readManifestChecked(spark, path, v)
    val f = fs(spark, new Path(path))
    val deltaBytes = m.dirs.drop(1).map { d =>
      listDataFiles(f, new Path(path, d)).map(_.getLen).sum
    }.sum
    (m.dirs.size, deltaBytes, m.tombstones.size)
  }

  final case class VacuumStats(nDataDirs: Int, nHashSidecars: Int, nVersionFiles: Int)

  /** Staging-orphan janitor. A lost commit race or a crashed ingest
    * leaves artifacts no manifest ever came to reference: a staged
    * `snap-*` directory, its `_hashes/<dir>` and `_stats/<dir>`
    * sidecars, a committer-unique bloom, a `.tmp-*` manifest. They are
    * harmless to correctness (nothing resolves them) but at cronjob
    * cadence they accumulate storage forever. Vacuum deletes everything
    * a retained manifest does not reference — data dirs, sidecars,
    * bloom/tmp files under `_versions/` — PROVIDED it is older than
    * `graceMs`: the grace window is what keeps an in-flight committer's
    * freshly staged (not yet committed) artifacts safe, exactly the
    * remove-orphan-files contract of production table formats. A grace
    * below the worst-case staging duration is safe only under strict
    * single-writer (see [[graft.streaming.EventStream.Maintenance]]).
    * Manifests themselves are never touched ([[expire]] owns version
    * retention).
    */
  /** Minimum effective grace for the STAGING-area sweep (10 min): the
    * worst-case gap between an executor's staging write and its
    * driver-side commit is task/epoch-scale seconds-to-minutes, so ten
    * minutes bounds it with margin while still letting a nightly
    * vacuum reclaim yesterday's crashes. Only the `_staging_*` sweep
    * floors — unreferenced `snap-*`/sidecar orphans can never be
    * seconds-from-live (a commit references them atomically or never).
    */
  private[graft] val stagingGraceFloorMs: Long = 10L * 60 * 1000

  def vacuum(spark: SparkSession, path: String,
             graceMs: Long = 24L * 3600 * 1000): VacuumStats = {
    val root = new Path(path)
    val f = fs(spark, root)
    if (!f.exists(root)) return VacuumStats(0, 0, 0)
    // branch-chain manifests are liveness roots alongside the main
    // chain's: a branch-only delta dir is live data, not an orphan
    val retained = versions(spark, path).map(v => readManifestFull(spark, path, v)) ++
      allBranchManifests(spark, path)
    val refDirs = retained.flatMap(_.dirs).toSet
    val refBlooms = retained.flatMap(_.bloom).toSet
    val refTs = retained.flatMap(_.tombstones).toSet
    val refPd = retained.flatMap(_.posDeletes).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    def deletable(s: org.apache.hadoop.fs.FileStatus): Boolean =
      s.getModificationTime < cutoff
    val dataDirs = f.listStatus(root).filter(s => s.isDirectory &&
      s.getPath.getName.startsWith("snap-") && !refDirs(s.getPath.getName) && deletable(s))
    dataDirs.foreach(s => f.delete(s.getPath, true))
    val sidecars = Seq("_hashes", "_stats").flatMap { side =>
      val hd = new Path(path, side)
      if (!f.exists(hd)) Nil
      else f.listStatus(hd).filter(s => !refDirs(s.getPath.getName) && deletable(s)).toSeq
    } ++ {
      val td = tombstonesRoot(path)
      if (!f.exists(td)) Nil
      else f.listStatus(td).filter(s => !refTs(s.getPath.getName) && deletable(s)).toSeq
    } ++ {
      // positional-delete sidecars a crashed deleteWherePositional
      // staged but never committed: unreferenced by every retained
      // manifest, reclaimable once past the grace window
      val pd = posDeletesRoot(path)
      if (!f.exists(pd)) Nil
      else f.listStatus(pd).filter(s => !refPd(s.getPath.getName) && deletable(s)).toSeq
    }
    sidecars.foreach(s => f.delete(s.getPath, true))
    // executor-staging areas (the row-level delta writers' `_staging_rl`,
    // the streaming sink's `_staging_stream`): a crashed driver leaves
    // its per-writer UUID dir behind with no manifest reference ever —
    // reclaim once past the grace window. UNLIKE the dir/sidecar sweep,
    // this sweep enforces a FLOOR on the grace: a staging dir is live
    // between the executor write and the driver's epoch/delta commit,
    // so `graceMs = 0` (a legitimate way to reap known-dead snap-*
    // orphans immediately) must never race a commit that is seconds
    // from landing — below the floor the staging area is skipped, not
    // swept early.
    val stagingCutoff =
      System.currentTimeMillis() - math.max(graceMs, stagingGraceFloorMs)
    val stagingDirs = Seq("_staging_rl", "_staging_stream").flatMap { side =>
      val sd = new Path(path, side)
      if (!f.exists(sd)) Nil
      else f.listStatus(sd).filter(_.getModificationTime < stagingCutoff).toSeq
    }
    stagingDirs.foreach(s => f.delete(s.getPath, true))
    val vd = versionsDir(path)
    val versionFiles =
      if (!f.exists(vd)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else f.listStatus(vd).filter { s =>
        val n = s.getPath.getName
        val isManifest = n.startsWith("v") && n.endsWith(".txt")
        // tsfloor (the expire clock floor) and the tags/ directory are
        // live table metadata, not staging orphans — never reaped
        s.isFile && !isManifest && n != "tsfloor" && !refBlooms(n) && deletable(s)
      }
    versionFiles.foreach(s => f.delete(s.getPath, false))
    VacuumStats(dataDirs.length + stagingDirs.length, sidecars.length,
      versionFiles.length)
  }

  // ---- incremental content-dedup ingest (the d14 bloom path over
  // commits) --------------------------------------------------------------

  /** Content identity key: md5 of the payload, with NULL payloads mapped
    * to a sentinel no 32-hex-char md5 can equal. NULL content is still
    * content — two null-payload rows are duplicates of each other — and
    * nothing in the probe/verify path may be nullable: a null join key
    * would evaluate the anti-join condition to NULL, the left_anti
    * would KEEP the row, and every replay would re-admit it.
    */
  private def contentKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    coalesce(md5(c), lit("<null>"))
  }

  /** Per-data-directory md5 sidecar (`_hashes/<dirname>`): the exact-
    * verify anti-join's build side as hash-only parquet (~16 B/row), so
    * verifying probe-positives reads hashes, never the full payload — at
    * 100 TB that is the difference between a hash-column scan and a
    * whole-table scan per ingest. `read()` loads only manifest dirs, so
    * sidecars never pollute table reads; a missing sidecar (e.g. a
    * snapshot written by plain [[write]]) falls back to hashing the
    * payload once.
    */
  private def hashesDir(path: String, dataDir: String) =
    new Path(new Path(path, "_hashes"), dataDir)

  private def writeHashSidecar(op: String, path: String, dataDir: String,
                               data: DataFrame, textCol: String, format: String): Unit = {
    import org.apache.spark.sql.functions._
    phase(data.sparkSession, op, "hash sidecar")(GraftSqlShim.saveCounted(
      data.select(contentKey(col(textCol)).as("__h")), format, Nil,
      hashesDir(path, dataDir).toString))
    ()
  }

  private val hashSidecarSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("__h", org.apache.spark.sql.types.StringType)))

  /** The union of the given `_hashes` dirs, schema declared (no footer
    * inference job).
    */
  private def readHashes(spark: SparkSession, format: String, dirs: Seq[Path]): DataFrame =
    spark.read.format(format).schema(hashSidecarSchema).load(dirs.map(_.toString): _*)

  /** Union of the chain's hash sidecars when they all exist AND the
    * manifest still trusts them (`trusted` — false after a
    * [[dropColumn]] until a rewrite regenerates sidecars keyed on live
    * content); else one fallback scan hashing the current snapshot's
    * payload under the CALLER's content column. No distinct: the
    * consumer is a left_anti probe ("does a match exist"), which
    * duplicate build keys cannot change — deduplicating the whole
    * history's key set per ingest would buy nothing.
    */
  private def existingHashes(spark: SparkSession, path: String, dirs: Seq[String],
                             textCol: String, format: String,
                             trusted: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions._
    val f = fs(spark, new Path(path))
    val sidecars = dirs.map(d => hashesDir(path, d))
    if (trusted && sidecars.nonEmpty && sidecars.forall(f.exists))
      readHashes(spark, format, sidecars)
    else read(spark, path).select(contentKey(col(textCol)).as("__h"))
  }

  /** Resolve version v's bloom: the manifest-named sidecar, or None
    * when the manifest names none (the caller then rebuilds it in one
    * scan).
    */
  private def readBloom(spark: SparkSession, path: String,
                        v: Long): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val f = fs(spark, versionsDir(path))
    readManifestChecked(spark, path, v).bloom
      .map(n => new Path(versionsDir(path), n))
      .filter(f.exists)
      .map { bf =>
        val in = f.open(bf)
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
      }
  }

  /** The bloom `df.stat.bloomFilter(keyCol, expectedItems, fpp)` builds,
    * byte for byte, in ONE aggregate: the same `bloom_filter_agg` over
    * the same bit count. Zero input rows aggregate to NULL (where
    * `stat.bloomFilter` would NPE), which maps to the empty filter
    * `BloomFilter.create(expectedItems, fpp)`.
    */
  private[graft] def bloomOf(op: String, df: DataFrame, keyCol: org.apache.spark.sql.Column,
                      expectedItems: Long, fpp: Double): org.apache.spark.util.sketch.BloomFilter = {
    import org.apache.spark.util.sketch.BloomFilter
    val bits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val bytes = phase(df.sparkSession, op, "bloom")(df.select(
      GraftSqlShim.bloomFilterAgg(keyCol, expectedItems, bits))
      .head().getAs[Array[Byte]](0))
    if (bytes == null) BloomFilter.create(expectedItems, fpp) else BloomFilter.readFrom(bytes)
  }

  private def writeBloomAt(spark: SparkSession, path: String, name: String,
                           bloom: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val bf = new Path(versionsDir(path), name)
    val f = fs(spark, bf)
    f.mkdirs(versionsDir(path))
    val out = f.create(bf, false) // unique name per committer: never overwrite
    try bloom.writeTo(out) finally out.close()
  }

  /** Ingest's drift contract: an incoming batch must carry every table
    * column at the same type (nullability ignored — parquet round-trips
    * it loosely). Missing or re-typed columns are NON-ADDITIVE drift
    * and fail loudly here, BEFORE any staging I/O — silently
    * union-by-name-ing a half-matching batch would corrupt the table
    * for every later reader. Extra columns are ADDITIVE drift: accepted
    * only when the caller opted in via `evolveSchema`, in which case the
    * committed schema widens and old directories read back null-filled
    * (the manifest's explicit schema is what makes that read work).
    */
  private def mergedIngestSchema(table: StructType, incoming: StructType,
                                 evolveSchema: Boolean): StructType = {
    val inByName = incoming.fields.map(f => f.name -> f).toMap
    val missing = table.fields.filterNot(f => inByName.contains(f.name))
    val retyped = table.fields.flatMap(f =>
      inByName.get(f.name).filter(_.dataType != f.dataType).map(g => (f, g)))
    if (missing.nonEmpty || retyped.nonEmpty) throw new IllegalArgumentException(
      "non-additive schema drift rejected at ingest: " +
        (missing.map(f => s"missing column ${f.name}: ${f.dataType.simpleString}") ++
          retyped.map { case (f, g) =>
            s"column ${f.name} retyped ${f.dataType.simpleString} -> ${g.dataType.simpleString}" })
          .mkString("; ") +
        " — rewrite the table explicitly (write/merge) to change existing columns")
    val tableNames = table.fieldNames.toSet
    val extras = incoming.fields.filterNot(f => tableNames.contains(f.name))
    if (extras.isEmpty) table
    else if (!evolveSchema) throw new IllegalArgumentException(
      s"additive schema drift rejected at ingest: new column(s) " +
        extras.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
        " — pass evolveSchema = true to widen the table schema " +
        "(old snapshots read back null-filled)")
    else nullableSchema(StructType(table.fields ++ extras))
  }

  final case class IngestStats(version: Long, nIncoming: Long, nNew: Long)

  /** Incremental content-dedup ingest — "this batch minus ALL prior
    * content" as one committed operator (the cronjob shape of corpus
    * dedup at 100 TB, [[Dedup.newDocuments]] wired over snapshot
    * commits). Three properties make it scale:
    *
    *  1. The content bloom is a PERSISTED SIDECAR (a committer-unique
    *     file under `_versions/`, NAMED in the manifest) updated by
    *     merging the delta's bloom — bloom-of-union is the bitwise OR
    *     at fixed (expectedItems, fpp), so no ingest ever rescans
    *     history to rebuild the filter; the filter cost is O(delta)
    *     per commit forever.
    *  2. The commit APPENDS: the new manifest lists the parent's
    *     directories plus one delta directory, so the write cost is
    *     O(new rows), never a table rewrite. [[compact]] collapses the
    *     chain back to one directory when file counts grow.
    *  3. Probe-negative rows (the overwhelming majority at normal dup
    *     rates) are definitely-new and never join; probe-positive rows
    *     (true dups + the fpp share) resolve EXACTLY against the
    *     chain's md5 HASH SIDECARS (`_hashes/<dir>`, ~16 B/row — the
    *     verify pass reads hashes, never the payload; a sidecar-less
    *     snapshot falls back to hashing the payload once), keyed
    *     anti-join sized by the bloom's positive rate. The sketch is a
    *     pure prefilter: output is exactly "incoming minus exact
    *     content duplicates", fully deterministic.
    *
    * Re-ingesting a batch is idempotent (its content is now in the
    * table, so the delta is empty and version still advances by one —
    * commit history stays an audit log). Within-batch duplicates pass
    * through, matching [[Dedup.newDocuments]]. NULL payloads dedup like
    * any other content (the key is [[contentKey]]'s non-null sentinel —
    * a raw md5 key would be NULL, the anti-join condition would
    * evaluate to NULL, and every replay would re-admit the row).
    * `expectedItems`/`fpp` must stay constant per table (sidecar blooms
    * merge only at equal parameters); a parameter change or missing
    * sidecar falls back to one rebuild scan of the current snapshot.
    *
    * Schema drift is checked BEFORE any staging I/O (see
    * [[mergedIngestSchema]]): non-additive drift always fails loudly;
    * additive columns commit a widened schema when `evolveSchema` is
    * set. `statsCols` seeds or overrides the per-file min/max sidecar
    * config; Nil inherits the table's persisted config.
    *
    * CONCURRENT INGESTS both succeed: a committer that loses the
    * version-slot race REBASES its staged delta onto the winner's
    * state instead of failing ([[commitLoop]]), at O(delta) cost — the
    * rebase never scans the table. It rebases over commits that keep
    * the content its dedup decisions were made against: appends add
    * content (the staged rows are re-deduped against the interleaved
    * appends' ~16 B/row hash sidecars, per-dir payload fallback, so
    * rows a racer admitted first drop out and the survivors are
    * rewritten), compact/binpack preserve it (a binpack's merged-away
    * dirs keep their sidecars for the retained old snapshot), and
    * positional deletes only mask it. The delta's bloom merges into the
    * WINNER's, which already covers the interleaved content (the delta
    * bloom may over-cover dropped rows — always safe, the hash verify
    * catches false positives); a winner with no compatible bloom makes
    * the commit name none, and the next ingest pays the one-scan
    * rebuild. Rewrites (overwrite / merge / merge-on-read) invalidate
    * the staged dedup decisions and refuse loudly, as do schema
    * changes; the caller re-runs against the new snapshot.
    */
  def ingest(spark: SparkSession, incoming: DataFrame, path: String,
             textCol: String, expectedItems: Long = 1000000L,
             fpp: Double = 0.01, format: String = "parquet",
             statsCols: Seq[String] = Nil,
             evolveSchema: Boolean = false,
             partitionCols: Seq[String] = Nil,
             // internal ([[ingestFuzzy]]): extra admission gate re-run
             // against racer-added dirs inside a lost-race rebase —
             // (staged delta (physical names), racer dirs, winner
             // version) => surviving rows
             rebaseRegate: Option[(DataFrame, Seq[String], Long) => DataFrame] = None)
      : IngestStats = {
    import org.apache.spark.sql.functions._
    val cur = currentVersion(spark, path)
    val next = cur.getOrElse(0L) + 1
    val deltaDir = stageDir(next)
    val parent = cur.map(v => readManifestChecked(spark, path, v))
    val parentDirs = parent.map(_.dirs).getOrElse(Nil)
    // Drift gate first: fail before any staging I/O. A first commit
    // defines the table schema; later commits check against the
    // manifest's schema.
    val committedSchema = parent.fold(nullableSchema(incoming.schema))(m =>
      mergedIngestSchema(m.schema, incoming.schema, evolveSchema))
    // the parent manifest is already parsed above — no second read
    val effStats =
      if (statsCols.nonEmpty) statsCols else parent.map(_.statsCols).getOrElse(Nil)
    // partitioning: set at table creation, inherited (and enforced)
    // after — every snapshot dir must share one physical layout
    val effParts = inheritedPartitionCols(parent, partitionCols, "ingest")
    requirePartitionable(effParts, committedSchema, "ingest")
    // column mapping: inherit the parent's, minting physicals for any
    // evolved-in columns whose identity name is claimed or retired
    val parentRetired = parent.map(_.physRetired).getOrElse(Nil)
    val physmap = assignPhysical(committedSchema,
      parent.map(_.physmap).getOrElse(Map.empty), parentRetired)
    val physText = physmap.getOrElse(textCol, textCol)
    // Cache the batch: the constraint gate, both probe branches, and
    // the stats count all scan it, and a crawl batch is expensive to
    // recompute (batch-sized to hold). Persisted BEFORE the gate so a
    // fail-mode constraint's violation probe reads the cache instead of
    // recomputing the source once per constraint. Only cache what WE
    // cached: unpersisting a caller-established cache would silently
    // evict it (persist is not refcounted).
    val weCached = incoming.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (weCached) incoming.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // CHECK-constraint gate, after the drift gate: still before any
      // staging I/O. fail-mode refuses the batch; drop-mode filters it,
      // and the filter rides the cached plan below (one batch pass).
      val gated = enforceConstraints(incoming,
        parent.map(_.constraints).getOrElse(Nil), "ingest")
      val nIncoming = phase(spark, "ingest", "batch count")(gated.count())
      // Prior-content bloom (keyed on xxhash64 of the CONTENT KEY): the
      // sidecar when present (O(1)), else ONE rebuild scan of the
      // current snapshot (zero-row-guarded — a committed EMPTY snapshot
      // is legal). It MUST cover all existing content — a gap would let
      // a duplicate pass as probe-negative.
      val priorBloom = cur.map { v =>
        readBloom(spark, path, v).getOrElse(
          bloomOf("ingest", read(spark, path), xxhash64(contentKey(col(textCol))),
            expectedItems, fpp))
      }
      val delta = priorBloom match {
        case None => gated
        case Some(bloom) =>
          val bos = new java.io.ByteArrayOutputStream()
          bloom.writeTo(bos)
          val probe = call_function("graft_might_contain",
            lit(bos.toByteArray), xxhash64(contentKey(col(textCol))))
          val definitelyNew = gated.filter(!probe)
          val needsCheck = gated.filter(probe)
          val verifiedNew = needsCheck.join(
            existingHashes(spark, path, parentDirs, textCol, parent.get.format,
              trusted = parent.get.hashesValid),
            contentKey(needsCheck(textCol)) === col("__h"), "left_anti")
          definitelyNew.unionByName(verifiedNew)
      }
      // Canonical column order: the committed schema's. An evolved batch
      // appends its new columns after the table's; a reordered batch
      // lands in table order.
      // Publish sidecars BEFORE the manifest rename: when the version
      // becomes visible, its bloom, hash sidecar, and stats sidecar
      // already exist. All staged names are committer-unique (stageDir
      // suffix, bloom named after it), so a lost commit race leaves only
      // unreferenced orphans — the winner's files are untouched, and
      // [[vacuum]] reclaims never-committed staging artifacts once they
      // age past its grace window.
      def stage(dir: String, rows: DataFrame) = stageCommit(spark, "ingest", path, dir,
        Some(rows), format, committedSchema, physmap, effParts, effStats,
        contentCol = Some(textCol))
      val staged = stage(deltaDir,
        delta.select(committedSchema.fieldNames.map(col(_)).toSeq: _*))
      // The delta is on disk (the write counted it): build its bloom from
      // the WRITTEN files (one small scan — never re-executes the dedup
      // plan). Raw re-reads see PHYSICAL column names.
      val deltaBloom = bloomOf("ingest", staged.written,
        xxhash64(contentKey(col(physText))), expectedItems, fpp)
      val bloomName = priorBloom match {
        case Some(prior) if !prior.isCompatible(deltaBloom) =>
          // caller changed (expectedItems, fpp) mid-table: rebuild once
          // over the whole next snapshot so coverage stays total
          publishBloom(spark, path, next, deltaDir, None,
            bloomOf("ingest", read(spark, path).select(col(textCol))
              .unionByName(staged.written.select(col(physText).as(textCol))),
              xxhash64(contentKey(col(textCol))), expectedItems, fpp))
        case prior => publishBloom(spark, path, next, deltaDir, prior, deltaBloom)
      }
      var nCommitted = staged.rows
      val version = commitLoop(spark, path, "ingest", cur.getOrElse(0L), parent,
          Seq(deltaDir), admits = ingestAdmits) { (v, base, chain) =>
        val dir = atVersion(deltaDir, v)
        val bloom =
          if (chain.isEmpty) bloomName
          else {
            // dirs the interleaved APPENDs (and fast-forwards, which add
            // dirs the same way) added; a compact REPLACES the dir list
            // but keeps content the delta was already deduped against
            val appendAdded = (parentDirs +: chain.map(_._2.dirs)).zip(chain.map(_._2))
              .flatMap { case (prev, mm) =>
                if (appendKinds(mm.kind)) mm.dirs.diff(prev)
                else Nil
              }
            if (appendAdded.nonEmpty) {
              val f = fs(spark, new Path(path))
              val stagedRead = staged.at(dir)
              val sidecars = appendAdded.map(d => hashesDir(path, d))
              val theirs =
                if (sidecars.forall(f.exists)) readHashes(spark, format, sidecars)
                else rawScan(spark, path,
                    base.get.copy(dirs = appendAdded, tombstones = Nil))
                  .select(contentKey(col(textCol)).as("__h"))
              val survExact = stagedRead.join(theirs,
                contentKey(stagedRead(physText)) === col("__h"), "left_anti")
              val surv = rebaseRegate.fold(survExact)(g => g(survExact, appendAdded, v - 1))
              val nSurv = phase(spark, "ingest", "rebase")(surv.count())
              // nCommitted is the staged dir's row count (the write's, or
              // the last rewrite's)
              if (nSurv != nCommitted) {
                // a racer admitted some of our content first: rewrite the
                // survivors (raw rows carry physical names; staging takes
                // logical ones) and swap them in under the staged name
                val tmp = stageDir(v)
                stage(tmp, surv.select(committedSchema.fieldNames.map(n =>
                  col(physmap.getOrElse(n, n)).as(n)).toSeq: _*))
                stagedPaths(path, dir).foreach(f.delete(_, true))
                renameStaged(f, path, tmp, dir)
              }
              nCommitted = nSurv
            }
            readBloom(spark, path, v - 1).flatMap(wb =>
              publishBloom(spark, path, v, dir, Some(wb), deltaBloom))
          }
        Some(appendManifest(base, dir, format, bloom, committedSchema, effStats,
          effParts, physmap, parentRetired))
      }
      IngestStats(version, nIncoming, nCommitted)
    } finally { if (weCached) { incoming.unpersist(); () } }
  }

  // ---- plain append (the SQL INSERT INTO kernel) --------------------------

  /** Plain committed APPEND — SQL `INSERT INTO` semantics over the
    * snapshot chain (the kernel behind the DataSource V2 write path,
    * [[graft.sources.v2.GraftDataSource]]): admit the batch VERBATIM.
    * SQL inserts are row-preserving by contract, so there is no dedup
    * gate here — [[ingest]]/[[ingestFuzzy]] are the content-gated twins.
    * Everything else matches ingest's commit discipline: schema must
    * match the table's exactly (INSERT never evolves a schema — Spark's
    * own output resolution has already cast and positionally aligned the
    * batch by the time a V2 write lands here), CHECK constraints gate
    * the batch, partitioning is inherited and enforced, column mapping
    * translates at the [[stagedWrite]] choke point, stats sidecars are
    * written for the delta, and the commit APPENDS one delta directory —
    * O(new rows), never a table rewrite.
    *
    * Dedup-accelerator interaction: the manifest does not record which
    * column [[ingest]]'s content universe is keyed on, so an append can
    * neither extend the content bloom nor write a correctly-keyed
    * `_hashes` sidecar for its delta. It therefore commits with NO bloom
    * reference — carrying the parent's bloom forward would UNDER-cover
    * the appended content and let true duplicates of it pass a later
    * ingest as probe-negative. The next ingest detects the missing bloom
    * and pays the documented ONE-SCAN rebuild over the current snapshot
    * (self-healing, conservative); the delta's missing hash sidecar
    * likewise routes exact-verify to its payload fallback.
    *
    * A first commit CREATES the table (defines schema, partitioning,
    * stats config) — the CTAS path. Concurrency: a lost version-slot
    * race re-homes the staged delta at the winner's next version — a
    * pure rename, O(1) data I/O ([[commitLoop]]) — over every
    * interleaving that keeps the rows it appends to: content-preserving
    * ones (append / compact / binpack) and overlay ones (posdelete /
    * posupdate / merge-on-read / posdelete-compact). The delta
    * references NO existing rows and re-homes to a version STRICTLY
    * LATER than any racer tombstone, so no overlay can mask it.
    * Rewrites and schema changes conflict loudly. Returns the committed
    * version. [[appendBranch]] runs the same kernel on a branch ref.
    */
  def append(spark: SparkSession, incoming: DataFrame, path: String,
             format: String = "parquet", statsCols: Seq[String] = Nil,
             partitionCols: Seq[String] = Nil): Long = {
    val cur = currentVersion(spark, path)
    appendAt(spark, incoming, path, "append", None, cur.getOrElse(0L),
      cur.map(v => readManifestChecked(spark, path, v)), format, statsCols, partitionCols,
      appendAdmits)
  }

  /** The append kernel: `incoming` appended as one delta dir over
    * `parent` (version `parentV`, None = the table's first commit) of
    * the main chain, or of branch `ref`'s chain. `op` names the gate,
    * the staging phases and, with the ref, the commit.
    */
  private def appendAt(spark: SparkSession, incoming: DataFrame, path: String,
      op: String, ref: Option[String], parentV: Long, parent: Option[Manifest],
      format: String, statsCols: Seq[String], partitionCols: Seq[String],
      admits: Set[String]): Long = {
    import org.apache.spark.sql.functions._
    val committedSchema = parent.fold(nullableSchema(incoming.schema))(m =>
      mergedIngestSchema(m.schema, incoming.schema, evolveSchema = false))
    val effStats =
      if (statsCols.nonEmpty) statsCols else parent.map(_.statsCols).getOrElse(Nil)
    val effParts = inheritedPartitionCols(parent, partitionCols, op)
    requirePartitionable(effParts, committedSchema, op)
    val parentRetired = parent.map(_.physRetired).getOrElse(Nil)
    val physmap = assignPhysical(committedSchema,
      parent.map(_.physmap).getOrElse(Map.empty), parentRetired)
    // constraint gate before any staging I/O. Fail-mode probes scan the
    // batch and stagedWrite scans it again, so the batch is cached then
    // (only what WE cached); otherwise the write is its only scan.
    val constraints = parent.map(_.constraints).getOrElse(Nil)
    val weCached = constraints.exists(_.mode != "drop") &&
      incoming.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (weCached) incoming.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val gated = enforceConstraints(incoming, constraints, op)
      val deltaDir = stageDir(parentV + 1)
      stageCommit(spark, op, path, deltaDir,
        Some(gated.select(committedSchema.fieldNames.map(col(_)).toSeq: _*)), format,
        committedSchema, physmap, effParts, effStats)
      commitLoop(spark, path, ref.fold(op)(r => s"$op('$r')"), parentV, parent,
          Seq(deltaDir), admits, ref = ref) { (v, base, _) =>
        Some(appendManifest(base, atVersion(deltaDir, v), format, None,
          committedSchema, effStats, effParts, physmap, parentRetired))
      }
    } finally { if (weCached) { incoming.unpersist(); () } }
  }

  // ---- native streaming sink kernel ---------------------------------------

  /** Everything a `writeStream.format("graft")` sink needs to stage an
    * epoch's rows EXECUTOR-side, resolved once at query start: the
    * committed schema contract (same additive-drift refusal as ingest,
    * no evolution — streams must not widen schemas mid-query), the
    * table's format/stats/partitioning/column-mapping config, and the
    * CHECK constraints the writers gate every row with (fail
    * semantics). When no snapshot exists yet, the FIRST epoch's commit
    * creates the table from the stream's own schema.
    */
  private[graft] final case class StreamWritePlan(
      committedSchema: StructType, format: String, statsCols: Seq[String],
      partitionCols: Seq[String], physmap: Map[String, String],
      physRetired: Seq[String], constraints: Seq[Constraint],
      creates: Boolean)

  private[graft] def streamWritePlan(spark: SparkSession, path: String,
                                     incoming: StructType): StreamWritePlan =
    currentVersion(spark, path) match {
      case Some(v) =>
        val m = readManifestChecked(spark, path, v)
        val committed = mergedIngestSchema(m.schema, incoming, evolveSchema = false)
        StreamWritePlan(committed, m.format, m.statsCols, m.partitionCols,
          m.physmap, m.physRetired, m.constraints, creates = false)
      case None =>
        val committed = nullableSchema(incoming)
        StreamWritePlan(committed, "parquet", Nil, Nil,
          assignPhysical(committed, Map.empty, Nil), Nil, Nil, creates = true)
    }

  /** True iff some RETAINED manifest witnesses a streaming-epoch marker
    * for `queryId` at `epochId` OR LATER — the exactly-once redelivery
    * gate for the native streaming sink (Delta's SetTransaction
    * contract): after a crash, Spark re-delivers the last epoch; if its
    * commit already landed, the redelivery must be a no-op. O(retained
    * versions) manifest reads, driver metadata scale, bounded by the
    * expire policy — which is also the documented retention caveat: an
    * epoch marker expired while the stream was down can no longer
    * deduplicate a very stale redelivery (Delta has the same bound).
    * A marker carried forward by later commits' manifest copies still
    * witnesses a truly committed epoch, so over-matching is impossible.
    * The scan stops at the NEWEST manifest carrying this query's marker
    * (epochs commit in order and markers propagate forward, so it
    * decides): O(commits since the last stream epoch) in steady state,
    * and after a ROLLBACK across stream commits the restored (older)
    * marker correctly lets the redelivered epoch re-land — the rollback
    * erased its rows deliberately.
    */
  private[graft] def streamEpochCommitted(spark: SparkSession, path: String,
                                          queryId: String, epochId: Long): Boolean = {
    val it = versions(spark, path).reverseIterator
    while (it.hasNext) {
      val v = it.next()
      // ONLY the concurrent-expire race (version vanishing between the
      // listing and the read) may be skipped — any other failure must
      // propagate, or a transient I/O error on the marker-carrying
      // manifest would report "not committed" and a redelivered epoch
      // would land twice
      val marker =
        try readManifestChecked(spark, path, v).streamEpoch
        catch { case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("not committed") =>
          None
        }
      marker match {
        case Some((q, e)) if q == queryId =>
          // epochs commit in order and markers propagate forward, so the
          // NEWEST manifest carrying this query's marker decides — no
          // need to scan deeper
          return e >= epochId
        case _ => ()
      }
    }
    false
  }

  /** Staging dir name for the NEXT commit slot (the streaming sink's
    * executors need it before the final version is known; the commit
    * loop below re-homes it on lost races, exactly like the row-level
    * staging).
    */
  private[graft] def streamStagingDir(spark: SparkSession, path: String): String =
    stageDir(currentVersion(spark, path).getOrElse(0L) + 1)

  /** Commit one streaming epoch's staged delta — the tail of the native
    * `writeStream.format("graft")` sink: `stagedDir0` already holds the
    * epoch's rows (physical names, hive layout, written executor-side);
    * this writes its stats sidecar and lands an ordinary APPEND commit
    * carrying the `(queryId, epochId)` marker [[streamEpochCommitted]]
    * replays against. Concurrency admits what [[append]] does, for the
    * same reason (an epoch's rows reference no existing rows), with one
    * extra gate: a racer that turns out to be ANOTHER INCARNATION of
    * this same query committing this same epoch (zombie driver) makes
    * our staged delta a duplicate — it is dropped and the winner's
    * version returned, so exactly-once holds even under concurrent
    * drivers. Terminal failure reclaims the staged dir and its stats
    * sidecar.
    */
  private[graft] def commitStreamAppend(spark: SparkSession, path: String,
      stagedDir0: String, plan: StreamWritePlan,
      queryId: String, epochId: Long): Long = {
    val f = fs(spark, new Path(path))
    stageCommit(spark, "streaming append", path, stagedDir0, None, plan.format,
      plan.committedSchema, plan.physmap, plan.partitionCols, plan.statsCols)
    val parentV = currentVersion(spark, path)
    commitLoop(spark, path, "streaming append", parentV.getOrElse(0L),
        parentV.map(v => readManifestChecked(spark, path, v)), Seq(stagedDir0),
        admits = appendAdmits, reclaim = Some(Nil)) { (v, base, chain) =>
      if (streamEpochCommitted(spark, path, queryId, epochId)) {
        // zombie gate, checked on every attempt: another incarnation
        // landed this epoch before the parent resolution or in our slot
        stagedPaths(path, atVersion(stagedDir0, v)).foreach(f.delete(_, true))
        None
      } else {
        // DDL gate against the parent the query resolved: a long-running
        // stream races table DDL WITHOUT ever colliding on a version
        // slot — a constraint added, a schema evolved, a column renamed,
        // or partitioning changed BETWEEN epochs would otherwise be
        // silently REGRESSED by this epoch's manifest (which re-states
        // the plan's query-start view) and un-enforced by its writers.
        // A retry's winner chain passed the admission check instead.
        if (chain.isEmpty) {
          if (plan.creates && base.isDefined) throw new java.io.IOException(
            s"streaming sink at $path resolved against an empty path but another " +
              "writer created the table first — restart the query so the schema " +
              "contract re-resolves against the committed table")
          base.foreach { pm =>
            val drift =
              pm.schema != plan.committedSchema ||
                pm.physmap != plan.physmap ||
                pm.partitionCols != plan.partitionCols ||
                pm.constraints != plan.constraints
            if (drift) throw new java.io.IOException(
              s"streaming sink at $path: the table's schema, column mapping, " +
                "partitioning, or constraints changed since the query started " +
                "(DDL mid-stream); restart the query so the write plan " +
                "re-resolves against the current table")
          }
        }
        Some(appendManifest(base, atVersion(stagedDir0, v), plan.format, None,
          plan.committedSchema, plan.statsCols, plan.partitionCols, plan.physmap,
          plan.physRetired).copy(streamEpoch = Some((queryId, epochId)),
          constraints = base.fold(plan.constraints)(_.constraints)))
      }
    }
  }

  // ---- fuzzy (near-dup) incremental ingest -------------------------------

  /** Signature sidecar location for one data dir. The minhash parameters
    * are ENCODED IN THE PATH (`k<k>s<shingleLen>p`): a caller changing
    * them simply misses the old sidecars and pays the self-healing
    * payload recompute below — never a silent signature-shape mismatch.
    * The `p` suffix names the md5-derived shingle hash
    * ([[graft.functions.Text.md5Long]]). Unsuffixed `k<k>s<shingleLen>`
    * dirs hold xxhash64 signatures written by earlier versions; they
    * must never be read as md5 signatures (no component would match, so
    * every near-dup would be admitted), so this name never resolves to
    * them.
    */
  private def minhashDir(path: String, dataDir: String, k: Int, shingleLen: Int) =
    new Path(new Path(new Path(path, "_minhash"), s"k${k}s${shingleLen}p"), dataDir)

  /** A signature sidecar is trustworthy only once its write JOB finished
    * — the `_SUCCESS` marker, not bare directory existence: sidecars are
    * persisted POST-commit, so a concurrent reader (another fuzzy
    * ingest's entry gate, a loser's rebase re-gate) can observe the dir
    * mid-write and must fall back to the payload recompute instead of
    * reading half a job's files.
    */
  private def minhashSidecarReady(f: org.apache.hadoop.fs.FileSystem,
                                  sd: Path): Boolean =
    f.exists(new Path(sd, "_SUCCESS"))

  final case class FuzzyIngestStats(version: Long, nIncoming: Long,
                                    nFuzzyDropped: Long, nNew: Long)

  /** [[ingest]] with a NEAR-dup admission gate in front — the fuzzy twin
    * of the exact content gate, as a committed operator
    * ([[graft.operators.Dedup.newDocumentsFuzzy]] wired over snapshot
    * commits): a batch row is dropped when its estimated Jaccard against
    * SOME row already in the table reaches `tau`; survivors then pass
    * through the normal exact-dedup ingest. What makes it O(delta +
    * signatures) instead of O(table):
    *
    *  1. Every fuzzy ingest PERSISTS its delta's minhash signatures as a
    *     sidecar (`_minhash/k<k>s<len>p/<dir>`, k longs ≈ 260 B per doc —
    *     ~0.1% of a 100 TB corpus), so later admissions band-join the
    *     batch against SIGNATURE metadata, never payload text.
    *  2. A dir without a sidecar (plain-ingest history, a compaction's
    *     rewrite output, changed parameters) is recomputed ONCE from its
    *     payload and the sidecar is written back — self-healing, like
    *     the hash-sidecar repair in [[compact]].
    *  3. The verify step compares the two signatures already on the
    *     banded join row — no second lookup, no payload read.
    *
    * Semantics notes: within-batch near-dups all pass (the gate is
    * against HISTORY, matching [[Dedup.newDocumentsFuzzy]]); rows whose
    * text yields no shingle (shorter than `shingleLen` tokens) are never
    * near-dups and fall through to the exact gate; rows masked by an
    * outstanding merge-on-read overlay still gate admissions until a
    * rewrite materializes the overlay — the same conservative
    * deleted-content rule as the exact bloom. `tau`/`k`/`bands`/
    * `shingleLen` should stay constant per table; a change just forfeits
    * the sidecar fast path for pre-change dirs. Shingles hash with the
    * md5-derived [[graft.functions.Text.md5Long]], so an external SQL
    * replay of admissions is possible. Concurrency: BOTH tiers are
    * race-safe — the fuzzy gate runs against the snapshot resolved at
    * entry, and on a lost commit race the delegated [[ingest]] rebase
    * re-runs it (via `rebaseRegate`) against exactly the racer-added
    * dirs: their `_minhash` sidecars when present (a racer fuzzy ingest
    * writes them post-commit), one self-healing payload recompute per
    * sidecar-less dir otherwise. So a NEAR-dup committed by a
    * concurrent fuzzy ingest between this gate and the commit is
    * dropped by the loser's rebase, at O(racer delta signatures) cost.
    * The post-commit sidecar write is idempotent (signatures are
    * deterministic) and a crash before it just re-pays the one-dir
    * recompute later.
    */
  def ingestFuzzy(spark: SparkSession, incoming: DataFrame, path: String,
                  idCol: String, textCol: String, tau: Double = 0.5,
                  k: Int = 32, bands: Int = 8, shingleLen: Int = 3,
                  expectedItems: Long = 1000000L, fpp: Double = 0.01,
                  format: String = "parquet", statsCols: Seq[String] = Nil,
                  evolveSchema: Boolean = false,
                  partitionCols: Seq[String] = Nil): FuzzyIngestStats = {
    import org.apache.spark.sql.functions.col
    require(k % bands == 0,
      s"signature size $k must divide evenly into $bands bands")
    val f = fs(spark, new Path(path))
    val cur = currentVersion(spark, path)
    val weCached = incoming.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (weCached) incoming.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nIncoming = incoming.count()
      val survivors = cur match {
        case None => incoming
        case Some(v) =>
          val m = readManifestChecked(spark, path, v)
          val exSigs = m.dirs.map { d =>
            val sd = minhashDir(path, d, k, shingleLen)
            if (minhashSidecarReady(f, sd))
              spark.read.format(m.format).load(sd.toString).select(col("sig"))
            else {
              // self-healing: one payload pass for this dir, PUBLISHED BY
              // RENAME — never an overwrite of a path another committer
              // may own (the dir's own fuzzy ingest can be persisting
              // this very sidecar post-commit right now, and overwrite
              // DELETES the destination first, failing its in-flight
              // job). On a lost publish race the in-memory plan serves
              // this ingest and the fast path resumes next time. A
              // rename that lands INSIDE a concurrently-created dir
              // nests under a dot-name Spark reads ignore, and the
              // _SUCCESS re-check keeps half-published dirs untrusted.
              val sigs = graft.operators.Dedup.minhashSigs(
                scanDirsAt(spark, path, v, Seq(d)), idCol, textCol,
                k, shingleLen).select(col("sig"))
              val tmp = new Path(sd.getParent,
                s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
              GraftSqlShim.saveCounted(sigs, m.format, Nil, tmp.toString)
              if (!f.exists(sd) && f.rename(tmp, sd) &&
                  minhashSidecarReady(f, sd))
                spark.read.format(m.format).load(sd.toString).select(col("sig"))
              else { f.delete(tmp, true); sigs }
            }
          }
          if (exSigs.isEmpty) incoming
          else {
            val exBanded = graft.operators.Dedup.bandSigs(
              exSigs.reduce(_ unionByName _), k, bands)
            val inBanded = graft.operators.Dedup.minhashBanded(
              incoming, idCol, textCol, k, bands, shingleLen)
            incoming.join(
              graft.operators.Dedup.fuzzyDupIds(exBanded, inBanded, k, tau),
              col(idCol) === col("__dup"), "left_anti")
          }
      }
      val nSurvivors = survivors.count()
      // the near-dup gate, re-runnable inside the ingest rebase against
      // racer-added dirs (staged rows carry PHYSICAL names there)
      val physmapNow = cur
        .map(v => readManifestChecked(spark, path, v).physmap)
        .getOrElse(Map.empty[String, String])
      val idPhys = physmapNow.getOrElse(idCol, idCol)
      val textPhys = physmapNow.getOrElse(textCol, textCol)
      val regate: (DataFrame, Seq[String], Long) => DataFrame =
        (staged, racerDirs, winnerV) => {
          val wFormat = readManifestChecked(spark, path, winnerV).format
          val exSigs = racerDirs.map { d =>
            val sd = minhashDir(path, d, k, shingleLen)
            if (minhashSidecarReady(f, sd))
              spark.read.format(wFormat).load(sd.toString).select(col("sig"))
            else
              // the RACER is usually writing this sidecar right now
              // (post-commit persist) — recompute in memory, never write
              // a path another committer owns
              graft.operators.Dedup.minhashSigs(
                scanDirsAt(spark, path, winnerV, Seq(d)), idCol, textCol,
                k, shingleLen).select(col("sig"))
          }
          if (exSigs.isEmpty) staged
          else {
            val exBanded = graft.operators.Dedup.bandSigs(
              exSigs.reduce(_ unionByName _), k, bands)
            val inBanded = graft.operators.Dedup.minhashBanded(
              staged, idPhys, textPhys, k, bands, shingleLen)
            staged.join(
              graft.operators.Dedup.fuzzyDupIds(exBanded, inBanded, k, tau),
              col(idPhys) === col("__dup"), "left_anti")
          }
        }
      val st = ingest(spark, survivors, path, textCol, expectedItems, fpp,
        format, statsCols, evolveSchema, partitionCols,
        rebaseRegate = Some(regate))
      // persist the committed delta's signatures (post-commit: the dir
      // name is the manifest diff against the parent — exact under
      // rebase too, since our commit adds exactly one dir)
      val newM = readManifestChecked(spark, path, st.version)
      val parentM =
        if (st.version == 1L) None else Some(readManifestChecked(spark, path, st.version - 1))
      manifestDiff(parentM, newM).addedDirs.foreach { d =>
        GraftSqlShim.saveCounted(graft.operators.Dedup.minhashSigs(
            scanDirsAt(spark, path, st.version, Seq(d)), idCol, textCol,
            k, shingleLen).select(col("sig")),
          newM.format, Nil, minhashDir(path, d, k, shingleLen).toString)
      }
      FuzzyIngestStats(st.version, nIncoming, nIncoming - nSurvivors, st.nNew)
    } finally { if (weCached) { incoming.unpersist(); () } }
  }

  final case class MergeStats(version: Long, nChanges: Long, nUpserts: Long,
                              nDeletes: Long, rowsAfter: Long)

  /** Row-level MERGE as a committed copy-on-write operator: apply a
    * keyed change batch — upserts plus optional deletes — and commit the
    * result as the table's next snapshot (the q33_cdc_merge SEMANTICS,
    * promoted from a query to a table commit). The change batch carries
    * the table's payload columns plus optional control columns:
    * `deleteCol` (boolean; true rows delete their key, NULL means
    * upsert) and `orderCol` (latest-wins tie-break WITHIN the batch —
    * the greatest `orderCol` value per key is the row that applies;
    * without it, duplicate keys in one batch are ambiguous and fail
    * loudly rather than resolving arbitrarily). Two edge semantics,
    * both SQL-equality-shaped: a NULL-key change row matches no
    * current row (NULL = NULL is not true), so it never updates or
    * deletes — an upsert with a NULL key simply inserts; and rows TIED
    * on `orderCol` within a key resolve to a delete when one of them
    * deletes, else arbitrarily (same contract as Delta's MERGE under a
    * non-deterministic source) — make `orderCol` unique per key (a
    * sequence/commit-lsn) when replay determinism matters.
    *
    * The rewrite is one keyed `left_anti` (current minus changed keys)
    * plus a union of the winning upserts — Catalyst/AQE pick broadcast
    * vs shuffle by the change batch's size, and the output stages into
    * a single fresh directory published by the same atomic manifest
    * commit as every other operator. Copy-on-write is the right
    * trade-off for analytical tables (reads stay single-scan, no
    * merge-on-read overlay); a merge commit REWRITES the file set, so
    * [[addedBetween]] refuses ranges that cross it — use the versioned
    * reads ([[readAt]]) on either side instead.
    *
    * With `textCol`, the content bloom and hash sidecars are rebuilt
    * from the merged output (deleted/replaced content must drop out of
    * the dedup universe or a re-crawled row could never be re-admitted);
    * without it, a subsequent ingest pays the documented one-scan
    * rebuild. Stats sidecars follow the manifest's persisted config or
    * this call's override.
    */
  def merge(spark: SparkSession, changes: DataFrame, path: String, keyCol: String,
            deleteCol: Option[String] = None, orderCol: Option[String] = None,
            textCol: Option[String] = None, statsCols: Seq[String] = Nil,
            expectedItems: Long = 1000000L, fpp: Double = 0.01): MergeStats = {
    import org.apache.spark.sql.functions._
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot at $path to merge into; create the table with write/ingest"))
    val m = readManifestChecked(spark, path, cur)
    val current = readAt(spark, path, cur)
    // contract checks: key exists on both sides; payload columns match
    // the table by name+type (merge does not evolve schema — evolution
    // belongs to ingest/write, where old-row semantics are defined)
    requireChangeSchema(m.schema, changes, keyCol, deleteCol, orderCol)
    val weCached = changes.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (weCached) changes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // CHECK-constraint gate on the CACHED change batch BEFORE
      // resolution: violating upsert rows refuse (fail) or leave the
      // batch (drop); DELETE markers are exempt — their payload carries
      // no contract
      val gatedChanges = enforceConstraints(changes, m.constraints, "merge",
        exempt = deleteCol.map(dc => coalesce(col(dc).cast("boolean"), lit(false))))
      val cb = resolveChanges("merge", gatedChanges, keyCol, deleteCol, orderCol, m.schema)
      val changedKeys = cb.winning.select(col(keyCol).as("__mk"))
      val next = current
        .join(changedKeys, current(keyCol) === col("__mk"), "left_anti")
        .unionByName(cb.upserts)
      val nextDir = stageDir(cur + 1)
      // sidecars: the merged output IS the new dedup universe
      val effStats = if (statsCols.nonEmpty) statsCols else m.statsCols
      val staged = stageCommit(spark, "merge", path, nextDir, Some(next), m.format,
        m.schema, m.physmap, m.partitionCols, effStats, contentCol = textCol)
      val bloomName = textCol.flatMap(tc => publishBloom(spark, path, cur + 1, nextDir, None,
        bloomOf("merge", staged.written, xxhash64(contentKey(col(m.physOf(tc)))),
          expectedItems, fpp)))
      commit(spark, path, cur + 1, Manifest(Seq(nextDir), m.format, bloomName,
        m.schema, effStats, kind = "merge",
        partitionCols = m.partitionCols, constraints = m.constraints,
        physmap = m.physmap, physRetired = m.physRetired))
      MergeStats(cur + 1, cb.nChanges, cb.nUpserts, cb.nChanges - cb.nUpserts, staged.rows)
    } finally { if (weCached) { changes.unpersist(); () } }
  }

  /** Shared change-batch schema contract for [[merge]]/[[mergeOnRead]]:
    * the key must be a table column, and the batch's payload columns
    * (everything but the control columns) must carry exactly the
    * table's columns by name and type — merges never evolve schema
    * (evolution belongs to [[ingest]]/[[write]], where old-row
    * semantics are defined).
    */
  private def requireChangeSchema(tableSchema: StructType, changes: DataFrame,
                                  keyCol: String, deleteCol: Option[String],
                                  orderCol: Option[String]): Unit = {
    val ctrl = (deleteCol.toSeq ++ orderCol.toSeq).toSet
    require(tableSchema.fieldNames.contains(keyCol),
      s"key column '$keyCol' is not a table column (${tableSchema.fieldNames.mkString(", ")})")
    val payload = StructType(changes.schema.fields.filterNot(f => ctrl(f.name)))
    val tByName = tableSchema.fields.map(f => f.name -> f.dataType).toMap
    val bad = tableSchema.fields.filterNot(f =>
      payload.fields.exists(g => g.name == f.name && g.dataType == f.dataType)) ++
      payload.fields.filterNot(f => tByName.get(f.name).contains(f.dataType))
    if (bad.nonEmpty) throw new IllegalArgumentException(
      "merge change batch does not match the table schema (payload columns must " +
        s"carry exactly the table's columns): ${bad.map(f =>
          s"${f.name}: ${f.dataType.simpleString}").distinct.mkString(", ")}")
  }

  /** A change batch resolved for commit: the winning rows, the winning
    * upserts projected to the table's column order, and their counts.
    */
  private final case class ChangeBatch(winning: DataFrame, upserts: DataFrame,
                                       nChanges: Long, nUpserts: Long)

  /** Latest-wins within the batch, or a loud duplicate-key error — the
    * per-key resolution both merge flavors apply before touching the
    * table (see [[merge]]'s scaladoc for the tie and NULL-key edges),
    * shared so the two flavors' "same keyed change-batch semantics"
    * contract cannot diverge. NULL keys are EXEMPT from resolution: they
    * have no collision semantics (NULL = NULL is not true — each one
    * "simply inserts"), so two NULL-key rows are neither duplicates of
    * each other nor collapsed to a latest winner; they all pass through.
    *
    * The duplicate-key check and both counts come from ONE aggregate
    * over the (cached) batch: per key its row count and whether its
    * winner deletes, then the sums. Rows tied on `orderCol` resolve to a
    * delete first, in the aggregate and in the winning-row window alike,
    * so the counts always describe the rows the commit writes.
    */
  private def resolveChanges(op: String, changes: DataFrame, keyCol: String,
                             deleteCol: Option[String], orderCol: Option[String],
                             tableSchema: StructType): ChangeBatch = {
    import org.apache.spark.sql.functions._
    val isDelete = deleteCol.map(dc => coalesce(col(dc).cast("boolean"), lit(false)))
      .getOrElse(lit(false))
    val winnerDeletes = orderCol.fold(max(isDelete))(oc =>
      max(struct(col(oc).as("o"), isDelete.as("d"))).getField("d"))
    val k = col("__k")
    val r = phase(changes.sparkSession, op, "change resolution")(changes
      .groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("__n"), sum(isDelete.cast("long")).as("__nd"),
        winnerDeletes.as("__wd"))
      .agg(max(when(k.isNotNull, col("__n"))),
        first(when(k.isNotNull && col("__n") > 1, k), ignoreNulls = true),
        coalesce(sum(when(k.isNull, col("__n")).otherwise(1L)), lit(0L)),
        coalesce(sum(when(k.isNull, col("__n") - col("__nd"))
          .otherwise(when(col("__wd"), 0L).otherwise(1L))), lit(0L)))
      .head())
    if (orderCol.isEmpty && !r.isNullAt(0) && r.getLong(0) > 1)
      throw new IllegalArgumentException(
        s"duplicate key ${r.get(1)} in merge batch with no orderCol: " +
          "latest-wins needs an ordering column to be well-defined")
    val winning = orderCol match {
      case Some(oc) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol)).orderBy(col(oc).desc, isDelete.desc)
        changes.filter(col(keyCol).isNotNull)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .unionByName(changes.filter(col(keyCol).isNull))
      case None => changes
    }
    ChangeBatch(winning,
      winning.filter(!isDelete).select(tableSchema.fieldNames.map(col(_)).toSeq: _*),
      r.getLong(2), r.getLong(3))
  }

  final case class MergeOnReadStats(version: Long, nChanges: Long, nUpserts: Long,
                                    nDeletes: Long, nOutstandingTombstones: Int)

  /** Row-level MERGE as a committed MERGE-ON-READ operator: the same
    * keyed change-batch semantics as [[merge]] — upserts plus optional
    * deletes, `orderCol` latest-wins, NULL keys insert and never match —
    * but the commit cost is O(change batch), NOT O(table). Instead of
    * rewriting the file set, the commit stages (a) one delta directory
    * holding just the winning upsert rows and (b) one TOMBSTONE sidecar
    * (`_tombstones/t<version>-<uuid>`) holding the winning keys; reads
    * overlay the tombstones — a row is masked when a later tombstone
    * names its key ([[applyTombstones]]) — so the logical result is
    * identical to the copy-on-write merge while the physical work is
    * proportional to the change. At 100 TB this is the difference
    * between "commit the day's 0.1% of updates" and "rewrite the
    * table": copy-on-write pays the rewrite at EVERY merge; merge-on-
    * read pays a delta write per merge and ONE rewrite at the next
    * [[compact]], which materializes the overlay and resets it (the
    * Iceberg v2 positional-delete / Delta deletion-vector trade,
    * reduced to its keyed kernel).
    *
    * The read-side cost is one broadcast anti-join against the
    * aggregated outstanding keys. That premise — tombstones are
    * delta-scale — is why [[compact]] must run at maintenance cadence
    * on a MOR table (EventStream.Maintenance's chain gate already
    * does); the overlay also pins the key column: until a rewrite
    * clears it, every further mergeOnRead must use the same `keyCol`
    * (enforced loudly), because the mask joins every tombstone on one
    * key.
    *
    * Dedup-universe interplay: with `textCol` and a manifest-named
    * bloom, the upserts' content merges into the bloom and the delta
    * dir gets its hash sidecar (O(delta), same as [[ingest]]) —
    * REPLACED/DELETED content stays in the bloom and old sidecars until
    * compaction rebuilds them, so re-ingesting content deleted by a MOR
    * commit is conservatively blocked until then (the COW [[merge]]
    * rebuilds eagerly instead, paying O(table) for it — the same trade
    * as the data files). Without `textCol` (or without a prior named
    * bloom) the commit names no bloom and the next ingest pays the
    * documented one-scan rebuild over the masked read.
    *
    * [[addedBetween]] refuses ranges across a MOR commit (its logical
    * deletes/updates are not append rows), and the streaming version
    * log flags it like a rewrite — consumers re-sync via [[readAt]].
    *
    * CONCURRENT APPENDS and MERGE-ON-READS are safe: a commit that
    * loses the version-slot race REBASES ([[commitLoop]]) — delta dir,
    * sidecars, and tombstone re-home by pure rename at the new version
    * (the tombstone keeps its uuid and gains the version prefix
    * [[applyTombstones]] orders by), and the table is never scanned.
    * That is serially exact because change values come from the
    * CHANGE BATCH, never the table: the re-homed tombstone masks the
    * interleaved appends' rows for the changed keys — exactly what a
    * serial append-then-merge would do — and the upserts are
    * byte-identical either way. A binpack is content-preserving (the
    * tombstone masks its merged dir like any earlier dir), and racing
    * merge-on-reads (two CDC-apply sinks) stack at distinct versions,
    * each masking strictly below its own, provided the chain stays
    * keyed on ONE column — a winner pinned to a different key refuses.
    * Rewrites (overwrite / compact / COW merge) and schema or partition
    * changes refuse loudly; re-running the merge is O(change batch).
    */
  def mergeOnRead(spark: SparkSession, changes: DataFrame, path: String,
                  keyCol: String, deleteCol: Option[String] = None,
                  orderCol: Option[String] = None,
                  textCol: Option[String] = None,
                  statsCols: Seq[String] = Nil,
                  expectedItems: Long = 1000000L,
                  fpp: Double = 0.01): MergeOnReadStats = {
    import org.apache.spark.sql.functions._
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot at $path to merge into; create the table with write/ingest"))
    val m = readManifestChecked(spark, path, cur)
    require(!keyCol.contains(",") && !keyCol.contains("\n"),
      s"merge-on-read key column name must not contain ',' or newlines: '$keyCol'")
    m.morKey.filter(_ != keyCol).foreach(k => throw new IllegalArgumentException(
      s"outstanding tombstones at $path are keyed on '$k'; a merge-on-read chain " +
        s"cannot switch to '$keyCol' until a rewrite (compact/write/merge) clears the overlay"))
    requireChangeSchema(m.schema, changes, keyCol, deleteCol, orderCol)
    val next = cur + 1
    val weCached = changes.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (weCached) changes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // same CHECK-constraint gate as [[merge]] (the "same keyed
      // change-batch semantics" contract): on the cached batch,
      // pre-resolution, deletes exempt
      val gatedChanges = enforceConstraints(changes, m.constraints, "merge-on-read",
        exempt = deleteCol.map(dc => coalesce(col(dc).cast("boolean"), lit(false))))
      val cb = resolveChanges("merge-on-read", gatedChanges, keyCol, deleteCol,
        orderCol, m.schema)
      val nChanges = cb.nChanges
      // a batch that touches nothing (e.g. deleteWhere matching zero
      // rows) must not pin morKey or grow the overlay — it commits an
      // audit version IDENTICAL to its base (streaming sinks keep their
      // one-commit-per-batch trail; reads pay nothing new)
      val deltaDir = if (cb.nUpserts == 0) None else Some(stageDir(next))
      // delta-dir sidecars mirror ingest's: stats for pruning, and the
      // hash sidecar when the dedup gate is live
      val staged = deltaDir.map(d => stageCommit(spark, "merge-on-read", path, d,
        Some(cb.upserts), m.format, m.schema, m.physmap, m.partitionCols,
        if (statsCols.nonEmpty) statsCols else m.statsCols, contentCol = textCol))
      // the tombstone lists EVERY winning non-null key: an upsert masks
      // the key's prior row (the replacement lives in the delta dir,
      // committed at the same version the mask exempts), a delete masks
      // it with no replacement. One small file — keys are delta-scale.
      val tName = if (nChanges == 0) None else {
        val t = f"t$next%08d-${java.util.UUID.randomUUID().toString.take(8)}"
        phase(spark, "merge-on-read", "tombstone")(GraftSqlShim.saveCounted(
          cb.winning.filter(col(keyCol).isNotNull).select(col(keyCol)).coalesce(1),
          m.format, Nil, tombstonePath(path, t).toString))
        Some(t)
      }
      var outstanding = 0
      val version = commitLoop(spark, path, "merge-on-read", cur, Some(m),
          deltaDir.toSeq ++ tName, admits = morAdmits) {
        (v, base, chain) =>
          val b = base.get
          outstanding = b.tombstones.size + tName.size
          if (tName.isEmpty) Some(b.copy(kind = "merge-on-read"))
          else {
            b.morKey.filter(_ != keyCol).foreach(k => throw new java.io.IOException(
              s"merge-on-read at $path lost the commit race to an overlay keyed on '$k' " +
                s"(this merge is keyed on '$keyCol'); the chain pins one key column — " +
                "re-run the merge against the current snapshot after a rewrite clears it"))
            val delta = deltaDir.map(atVersion(_, v))
            // bloom: a pure-delete commit carries its base's BY REFERENCE
            // (nothing was added, so it still over-covers); upserts fold
            // into it. A commit that adds rows it cannot fold (no textCol
            // / no bloom / params changed) must name NO bloom — a stale
            // name would claim coverage the upserts break, letting a
            // later dup of them probe negative.
            val bloom = delta match {
              case None => b.bloom
              case Some(d) =>
                textCol.flatMap { tc =>
                  readBloom(spark, path, v - 1).flatMap { prior =>
                    publishBloom(spark, path, v, d, Some(prior), bloomOf("merge-on-read",
                      staged.get.at(d), xxhash64(contentKey(col(m.physOf(tc)))),
                      expectedItems, fpp))
                  }
                }
            }
            Some(Manifest(b.dirs ++ delta, b.format, bloom, m.schema,
              if (statsCols.nonEmpty) statsCols else b.statsCols,
              b.tombstones ++ tName.map(atVersion(_, v)), Some(keyCol),
              kind = "merge-on-read", partitionCols = b.partitionCols,
              constraints = b.constraints, physmap = b.physmap,
              physRetired = b.physRetired, hashesValid = b.hashesValid,
              posDeletes = b.posDeletes, partEvolved = b.partEvolved))
          }
      }
      val nUpserts = staged.fold(0L)(_.rows)
      MergeOnReadStats(version, nChanges, nUpserts, nChanges - nUpserts, outstanding)
    } finally { if (weCached) { changes.unpersist(); () } }
  }

  final case class PosDeleteStats(version: Long, nDeleted: Long,
                                  nFilesTouched: Long, committed: Boolean)

  /** SQL's `DELETE FROM t WHERE ...` as a POSITIONAL merge-on-read
    * commit — Iceberg v2's deletion-vector contract, and the tier that
    * drops [[deleteWhere]]'s key-column requirement entirely: victims
    * resolve through the same STATS-PRUNED scan (a selective predicate
    * opens only the files it can touch), but what commits is their
    * (file name, row ordinal) identity — a `_posdel/` sidecar of
    * O(matches) rows, no key column, no data dir, no rewrite. Reads
    * anti-join rows' parquet `_metadata` identity against the sidecar
    * union (broadcast under the same size guard as key tombstones);
    * the next [[compact]]/[[write]]/[[merge]] materializes the overlay
    * and resets the list, exactly like key tombstones. The victim scan
    * runs OVER the existing overlay, so an already-masked row is never
    * re-recorded, and a predicate matching nothing commits nothing
    * (`committed = false`).
    *
    * Invariants positional identity forces, enforced here and at the
    * rewrite sites: (file, ordinal) is stable only while files are —
    * [[compactSmall]]/binpack refuse under an outstanding overlay (a
    * partial rewrite would both orphan ordinals and drop the mask), and
    * a lost commit race rebases only over commits that PRESERVE the
    * referenced files (append / posdelete / merge-on-read); any rewrite
    * interleaving conflicts loudly. Deleted content still gates ingest
    * admissions (bloom/hashes over-cover) until a rewrite, the same
    * documented rule as key tombstones. Snapshot isolation: the delete
    * applies to the snapshot it resolved — rows a racing append admits
    * are not retro-matched.
    */
  def deleteWherePositional(spark: SparkSession, path: String,
                            predicate: Column): PosDeleteStats = {
    import org.apache.spark.sql.functions._
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    val m = readManifestChecked(spark, path, cur)
    require(m.format == "parquet",
      s"positional deletes need parquet row ordinals (_metadata.row_index); " +
        s"table format is '${m.format}'")
    val (perDir, _) = phase(spark, "positional delete", "stats pruning")(
      planPrunedFiles(spark, path, m, Some(predicate)))
    if (perDir.forall(_._3.isEmpty))
      return PosDeleteStats(cur, 0L, 0L, committed = false)
    val (victims0, _) = buildPrunedRead(spark, path, m, perDir, predicate,
      PruneReport(0, 0), exposePos = true)
    val name = f"p${cur + 1}%08d-${java.util.UUID.randomUUID().toString.take(8)}"
    // no coalesce(1): a table-wide erasure sweep can match billions of
    // rows, and funneling the sidecar through one task would serialize
    // it — the sidecar is a DIRECTORY, readers load it whole, and tiny
    // single-file outputs from small deletes cost nothing
    val nDeleted = phase(spark, "positional delete", "positional sidecar")(
      GraftSqlShim.saveCounted(
        victims0.select(col(posFileCol).as("file"), col(posOrdCol).as("ord")),
        m.format, Nil, posDeletePath(path, name).toString))
    if (nDeleted == 0L) {
      fs(spark, new Path(path)).delete(posDeletePath(path, name), true)
      return PosDeleteStats(cur, 0L, 0L, committed = false)
    }
    val nFiles = phase(spark, "positional delete", "positional sidecar")(
      readPosDeletes(spark, path, m.format, Seq(name)).select("file").distinct().count())
    // rebase rules live in the shared kernel: file-preserving
    // interleavings rebase, rewrites refuse, overlapping positional
    // racers (same rows) refuse as write-write conflicts
    val v = commitPositionalDelta(spark, path, cur, None, Some(name),
      "positional delete")
    PosDeleteStats(v, nDeleted, nFiles, committed = true)
  }

  /** Fold the outstanding positional-delete sidecars into ONE — the
    * delete-file "minor compaction" (Iceberg's rewrite-position-deletes
    * maintenance action): a delete-heavy table accumulates one sidecar
    * per [[deleteWherePositional]] commit, and every read pays a
    * per-sidecar load into the anti-join build, so maintenance folds
    * the list WITHOUT touching a single data file — O(delete set)
    * work, metadata-scale commit. Old sidecars stay on disk for the
    * retained old manifests (time travel is exact); expire/vacuum
    * reclaim them by the same refcount as every sidecar. A LOGICAL
    * no-op by construction (the folded mask equals the union), so the
    * streaming data read rolls past its commit; [[addedBetween]] still
    * refuses ranges crossing it (mask equality is not provable from
    * names alone — conservative, never wrong). Concurrency: a fold
    * rewrites no data file, so every interleaving that keeps the files
    * the ordinals reference composes (appends, positional deletes and
    * updates, merge-on-reads, other folds); a lost race re-folds the
    * WINNER's list ([[commitLoop]]), and rewrites refuse.
    */
  def compactPosDeletes(spark: SparkSession, path: String): Long = {
    import org.apache.spark.sql.functions.col
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    commitLoop(spark, path, "posdelete compaction", cur,
        Some(readManifestChecked(spark, path, cur)), Nil,
        admits = posFoldAdmits) { (v, base, _) =>
      val b = base.get
      if (b.posDeletes.size <= 1) None // nothing to fold
      else {
        // folds its BASE's list: on a retry that is the winner's, which
        // may carry a racer's new sidecar an earlier fold missed
        val name = f"p$v%08d-${java.util.UUID.randomUUID().toString.take(8)}"
        // racing folds may have duplicated entries; the mask is a set
        phase(spark, "posdelete compaction", "positional sidecar")(GraftSqlShim.saveCounted(
          readPosDeletes(spark, path, b.format, b.posDeletes).distinct(),
          b.format, Nil, posDeletePath(path, name).toString))
        Some(b.copy(posDeletes = Seq(name), kind = "posdelete-compact"))
      }
    }
  }

  final case class PosUpdateStats(version: Long, nUpdated: Long,
                                  committed: Boolean)

  /** SQL's `UPDATE t SET c = expr, ... WHERE ...` as a committed
    * POSITIONAL merge-on-read operator — the keyless UPDATE completing
    * [[deleteWherePositional]]'s tier (Iceberg v2's
    * update-as-delete-plus-insert contract): victims resolve through
    * the SAME stats-pruned scan over the existing overlay, their
    * (file subpath, row ordinal) identity commits as a `_posdel/`
    * sidecar, and their UPDATED forms stage as one ordinary delta
    * directory — both in ONE commit (kind `posupdate`), so readers see
    * the update atomically and time travel reads the pre-update rows
    * exactly. No key column, no data-file rewrite: O(matches) work.
    *
    * SET semantics: each expression may reference the row's columns;
    * values cast to the column's table type (the INSERT store
    * contract). CHECK constraints gate the UPDATED form with merge's
    * drop rule — a drop-mode-violating updated row keeps its OLD form
    * (excluded from BOTH the sidecar and the new dir), never silently
    * deleted; fail-mode refuses the whole update. Updating a partition
    * column relocates the rewritten rows to their new `k=v` dirs.
    *
    * Dedup interaction: the updated rows are NEW content the parent
    * bloom does not cover, so the commit DROPS the bloom reference
    * (the plain-append rule — the next ingest pays the documented
    * one-scan rebuild); masked old content conservatively stays in the
    * dedup universe until a rewrite, like every MOR mask. Concurrency:
    * a lost race rebases over file-preserving interleavings
    * (append / posdelete / posupdate / merge-on-read /
    * posdelete-compact) by re-homing the staged dir; rewrites conflict
    * loudly. Snapshot isolation: rows a racing append admits are not
    * retro-matched.
    */
  def updateWherePositional(spark: SparkSession, path: String,
                            predicate: Column, set: Map[String, Column]): PosUpdateStats = {
    import org.apache.spark.sql.functions._
    require(set.nonEmpty, "updateWherePositional: SET map is empty")
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    val m = readManifestChecked(spark, path, cur)
    require(m.format == "parquet",
      "positional updates need parquet row ordinals (_metadata.row_index); " +
        s"table format is '${m.format}'")
    val schema = m.schema
    val unknown = set.keys.filterNot(schema.fieldNames.contains).toSeq
    require(unknown.isEmpty,
      s"updateWherePositional: SET column(s) ${unknown.mkString(", ")} " +
        s"not in table schema (${schema.fieldNames.mkString(", ")})")
    val (perDir, _) = phase(spark, "positional update", "stats pruning")(
      planPrunedFiles(spark, path, m, Some(predicate)))
    if (perDir.forall(_._3.isEmpty))
      return PosUpdateStats(cur, 0L, committed = false)
    val (victims, _) = buildPrunedRead(spark, path, m, perDir, predicate,
      PruneReport(0, 0), exposePos = true)
    val updated = set.foldLeft(victims) { case (df, (k, expr)) =>
      df.withColumn(k, expr.cast(schema(schema.fieldIndex(k)).dataType))
    }
    val gated = enforceConstraints(updated, m.constraints, "positional update")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val name = f"p${cur + 1}%08d-${java.util.UUID.randomUUID().toString.take(8)}"
      val nUpdated = phase(spark, "positional update", "positional sidecar")(
        GraftSqlShim.saveCounted(
          gated.select(col(posFileCol).as("file"), col(posOrdCol).as("ord")),
          m.format, Nil, posDeletePath(path, name).toString))
      if (nUpdated == 0L) {
        fs(spark, new Path(path)).delete(posDeletePath(path, name), true)
        return PosUpdateStats(cur, 0L, committed = false)
      }
      val v = commitPositionalDelta(spark, path, cur, Some(stageDir(cur + 1)), Some(name),
        "positional update", Some(gated.select(schema.fieldNames.map(col(_)).toSeq: _*)))
      PosUpdateStats(v, nUpdated, committed = true)
    } finally { gated.unpersist(); () }
  }

  /** SHARED commit kernel for POSITIONAL delta commits — the tail of
    * [[deleteWherePositional]], [[updateWherePositional]], and the DSv2
    * row-level writes ([[graft.sources.v2.GraftDeltaWrite]] — SQL
    * UPDATE / MERGE INTO / subquery DELETE). The callers have already
    * staged `stagedDir` (inserted/updated rows as ordinary data files,
    * physical names, hive layout) and/or `sidecar` (deleted rows'
    * (file subpath, ordinal) identity under `_posdel/`); this writes
    * the staged dir's stats sidecar and lands the manifest. Kind by
    * content: deletes+inserts → `posupdate`, deletes only →
    * `posdelete`, inserts only → `append`. A staged dir of new content
    * drops the bloom reference (the plain-append rule); a pure delete
    * keeps it (over-coverage is safe).
    *
    * The commit anchors at `scannedV` — the snapshot the victims were
    * RESOLVED against, NOT the version current at commit time — so
    * every commit that interleaved during a long scan/write phase goes
    * through the rebase validation: file-preserving kinds rebase,
    * rewrites refuse loudly, and interleaved positional commits are
    * additionally checked for ROW OVERLAP with this commit's sidecar —
    * two commands deleting/updating the SAME physical row are a
    * write-write conflict (silently stacking them would duplicate an
    * updated row or resurrect a deleted one), so the loser refuses and
    * the caller re-runs against the new snapshot. The overlap check is
    * exact and cheap: our victims exclude rows the parent snapshot
    * already masked, so intersecting against the racers' (delta-scale)
    * sidecars — folded ones included — can only flag true racers.
    *
    * A keyed MERGE-ON-READ racer is never safe to rebase over: every
    * positional-delta commit carries a READ SET evaluated at
    * `scannedV` — the victims of a sidecar-carrying command (the racer
    * may have upserted the rows these ordinals mask; stacking would
    * duplicate an updated row) and the NOT-MATCHED decisions of an
    * insert-only MERGE (the racer may have upserted the very key this
    * commit inserts — two visible rows for one key). The positional
    * overlap gate cannot see either (tombstones are keyed, not
    * positional), so both shapes refuse loudly. Terminal failure
    * reclaims the staged dir, its stats sidecar and the delete sidecar:
    * they are uniquely named and referenced by no manifest.
    */
  private[graft] def commitPositionalDelta(spark: SparkSession, path: String,
      scannedV: Long, stagedDir0: Option[String], sidecar: Option[String],
      opName: String, data: Option[DataFrame] = None): Long = {
    require(stagedDir0.nonEmpty || sidecar.nonEmpty,
      s"$opName commit with neither staged data nor a delete sidecar")
    val m = readManifestChecked(spark, path, scannedV)
    val kind =
      if (stagedDir0.isDefined && sidecar.isDefined) "posupdate"
      else if (sidecar.isDefined) "posdelete"
      else "append"
    stagedDir0.foreach(stageCommit(spark, opName, path, _, data, m.format, m.schema,
      m.physmap, m.partitionCols, m.statsCols))
    commitLoop(spark, path, opName, scannedV, Some(m), stagedDir0.toSeq,
        admits = posDeltaAdmits,
        why = {
          case "merge-on-read" => "the keyed racer's upserts may invalidate this " +
            "command's victim or not-matched decisions (stacking could duplicate or " +
            "resurrect rows)"
          case _ => "the rewrite may have moved the rows these ordinals reference"
        },
        reclaim = Some(sidecar.toSeq.map(posDeletePath(path, _)))) { (v, base, _) =>
      val b = base.get
      // write-write conflict gate: sidecars the racers ADDED since the
      // scanned snapshot must not touch our victims
      val racerSidecars = b.posDeletes.filterNot(m.posDeletes.toSet)
      sidecar.filter(_ => racerSidecars.nonEmpty).foreach { ours =>
        val ourDf = readPosDeletes(spark, path, m.format, Seq(ours))
        val theirs = readPosDeletes(spark, path, m.format, racerSidecars)
        if (phase(spark, opName, "rebase")(ourDf.join(theirs, Seq("file", "ord"), "left_semi")
            .limit(1).count()) > 0)
          throw new java.io.IOException(
            s"$opName at $path lost the commit race to a concurrent " +
              "positional delete/update touching the SAME rows — " +
              "stacking them would duplicate or resurrect rows; " +
              "re-run against the current snapshot")
      }
      val dir = stagedDir0.map(atVersion(_, v))
      Some(b.copy(dirs = b.dirs ++ dir, bloom = if (dir.isDefined) None else b.bloom,
        posDeletes = b.posDeletes ++ sidecar, kind = kind))
    }
  }

  /** Fresh staging names for a row-level delta write (the V2 writers
    * need them before the commit version is known; [[commitPositionalDelta]]
    * re-homes on version races).
    */
  private[graft] def rowLevelStagingNames(parentV: Long): (String, String) =
    (stageDir(parentV + 1),
      f"p${parentV + 1}%08d-${java.util.UUID.randomUUID().toString.take(8)}")

  /** SQL's `DELETE FROM t WHERE ...` as a committed operator: resolve
    * the victims through the STATS-PRUNED scan (a selective predicate
    * on a stats column opens only the files it can touch — at 100 TB a
    * targeted erasure request reads the three matching files, not the
    * table) and commit them as one pure-delete [[mergeOnRead]] — a
    * tombstone sidecar, no data dir, no rewrite; the next [[compact]]
    * physically removes the rows. Keys are deduplicated first (delete
    * is per-key; a non-unique-key table deletes ALL rows carrying a
    * matching key, exactly like the keyed merge). [[deleteWherePositional]]
    * is the keyless tier of the same contract.
    */
  def deleteWhere(spark: SparkSession, path: String, keyCol: String,
                  predicate: Column): MergeOnReadStats = {
    import org.apache.spark.sql.functions._
    val victims = readWhere(spark, path, predicate)
      .dropDuplicates(Seq(keyCol))
      .withColumn("__graft_del", lit(true))
    mergeOnRead(spark, victims, path, keyCol, deleteCol = Some("__graft_del"))
  }

  /** SQL's `UPDATE t SET c = expr, ... WHERE ...` as a committed
    * operator: victims resolve through the stats-pruned scan, every SET
    * expression evaluates against the OLD row (standard UPDATE
    * semantics — one select, not a chain), and the updated rows commit
    * as one [[mergeOnRead]] (tombstone masks the old rows, the delta
    * dir carries the new ones — O(matches), no rewrite). SET targets
    * must be existing non-key columns of matching type (the merge's
    * schema contract enforces the type; updates never evolve schema).
    * On a non-unique-key table one arbitrary matching row per key
    * becomes the update source — keep merge keys unique.
    */
  def updateWhere(spark: SparkSession, path: String, keyCol: String,
                  predicate: Column, set: Map[String, Column],
                  textCol: Option[String] = None,
                  expectedItems: Long = 1000000L,
                  fpp: Double = 0.01): MergeOnReadStats = {
    import org.apache.spark.sql.functions._
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    require(!set.contains(keyCol),
      s"updateWhere must not SET the merge key '$keyCol' (a key change is a delete + insert)")
    val victims = readWhere(spark, path, predicate).dropDuplicates(Seq(keyCol))
    val unknown = set.keySet.filterNot(victims.columns.toSet)
    require(unknown.isEmpty,
      s"SET names non-table columns: ${unknown.mkString(", ")}")
    val updated = victims.select(victims.columns.toSeq.map(c =>
      set.getOrElse(c, col(c)).as(c)): _*)
    mergeOnRead(spark, updated, path, keyCol, textCol = textCol,
      expectedItems = expectedItems, fpp = fpp)
  }

  // ---- metadata tables ---------------------------------------------------

  /** The table's commit history as a DataFrame — the `DESCRIBE HISTORY`
    * contract: one row per RETAINED version, ascending, with the commit
    * kind and effective commit instant (`commit_ts` — the same
    * running-max-monotonicized clock [[versionAtTimestamp]] resolves
    * against, so `readAtTimestamp(history row's ts)` always returns
    * that row's version). `kind` is the kind the committing operator
    * RECORDED in the manifest (`overwrite`, `append`, `compact`,
    * `merge`, `merge-on-read`, ...), so the history — and downstream
    * changelog consumers — can tell a content-no-op compaction from a
    * content-changing COW merge, which the dir-diff alone cannot.
    * Pure manifest metadata; no data files are opened.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val vs = versions(spark, path)
    val ms = vs.map(v => v -> readManifestChecked(spark, path, v)).toMap
    // THE effective clock — the same [[effectiveCommitTimes]] instants
    // [[versionAtTimestamp]] resolves against, not a re-implementation:
    // history and time travel must agree byte-for-byte
    val effTs = effectiveCommitTimes(spark, path).toMap
    val rows = vs.map { v =>
      val m = ms(v)
      val eff = effTs(v)
      // -1 when the parent expired: manifestDiff(None, _) would count
      // every dir as added
      val added: Long =
        if (v == 1L) manifestDiff(None, m).addedDirs.size.toLong
        else ms.get(v - 1).fold(-1L)(p => manifestDiff(Some(p), m).addedDirs.size.toLong)
      org.apache.spark.sql.Row(v, m.kind, new java.sql.Timestamp(eff),
        m.dirs.size.toLong, added,
        m.tombstones.size.toLong, m.format,
        m.schema.size.toLong, m.statsCols.mkString(","))
    }
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("commit_ts", org.apache.spark.sql.types.TimestampType, nullable = false),
      org.apache.spark.sql.types.StructField("n_dirs", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_added_dirs", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_tombstones", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("format", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_fields", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("stats_cols", org.apache.spark.sql.types.StringType, nullable = false)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The files a version references, as a DataFrame — the files
    * metadata-table contract: one row per data file of the pinned (or
    * current) snapshot with its directory, commit version, and size.
    * Listing-only (no data read); the ops view for "is compaction due",
    * "how skewed are my file sizes", "which dirs does v hold".
    */
  def filesMeta(spark: SparkSession, path: String,
                version: Option[Long] = None): DataFrame = {
    import scala.jdk.CollectionConverters._
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $path"))
    val m = readManifestChecked(spark, path, v)
    val f = fs(spark, new Path(path))
    val rows = m.dirs.flatMap { d =>
      val root = f.makeQualified(new Path(path, d)).toString
      listDataFiles(f, new Path(path, d)).map { s =>
        // `file` keeps the partition subpath (`lang=en/part-...`) so
        // the ops view shows per-partition file skew at a glance
        val full = f.makeQualified(s.getPath).toString
        val rel = full.stripPrefix(root).stripPrefix("/")
        org.apache.spark.sql.Row(d, dirVersion(d), rel, s.getLen)
      }
    }
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("dir", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("commit_version", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("bytes", org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(rows.asJava, schema)
  }
}
