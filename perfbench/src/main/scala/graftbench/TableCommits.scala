package graftbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.SnapshotTable

/** `table_commits`: one writer commits a seeded sequence of operations to
  * a fresh `SnapshotTable`, with a read after every third commit. Every
  * commit is applied to a reference model too (a map from key to row), and the
  * final snapshot and every `readAt` are compared with the model by row
  * count and an order-independent hash; the other reads are checked by
  * row count.
  */
final class TableCommits(ctx: Ctx) extends Workload {
  import TableCommits._
  import Workload.expect

  private val spark = ctx.spark
  private var plan: Seq[Step] = Nil
  private var batchesDir: File = _
  private var batchBytes = Map.empty[Int, Long]
  private val stats = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var passes = 0

  val warmupPasses = 0
  val latencyKinds: Set[String] = Set("commit")
  val throughputKinds: Set[String] = Set("commit")

  def prepare(dir: File): Unit = {
    val orders = spark.read.parquet(new File(ctx.dataDir, "orders.parquet").getAbsolutePath)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"),
        col("o_orderdate").as("odate"), col("o_orderpriority").as("priority"))
      .collect().map(r => Rec(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getTimestamp(4), r.getString(5), s"order ${r.getLong(0)} ${r.getString(5)}"))
      .sortBy(_.k)
    plan = TableCommits.plan(ctx.seed, orders.toVector)
    // every incoming batch, written once as plain parquet: the commits
    // read their input from here, and its bytes are write_amp's base
    batchesDir = new File(dir, "batches")
    val rows = plan.zipWithIndex.flatMap { case (s, i) =>
      s.rows.map(r => Row(i, r.k, r.cust, r.status, r.price, r.odate, r.priority, r.note, r.del))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), BatchSchema)
      .write.partitionBy("batch").parquet(batchesDir.getAbsolutePath)
    batchBytes = Option(batchesDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("batch=")).map(d =>
        d.getName.stripPrefix("batch=").toInt -> Workload.treeBytes(d)).toMap
  }

  def pass(n: Int, t: Tracer): Seq[OpResult] = {
    val table = new File(ctx.workDir, s"table-$n")
    try runPlan(plan, table, t)
    finally Workload.deleteTree(table)
  }

  private def incoming(i: Int): DataFrame =
    spark.read.parquet(batchesDir.getAbsolutePath).filter(col("batch") === i).drop("batch")

  private def runPlan(steps: Seq[Step], table: File, t: Tracer): Seq[OpResult] = {
    val path = table.getAbsolutePath
    val model = new Model
    val ops = Seq.newBuilder[OpResult]
    var files = Map.empty[String, Long]
    var written = 0L
    var incomingBytes = 0L
    val perCommit = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val rnd = new SplittableRandom(ctx.seed ^ 0x5DEECE66DL)

    def listing(): Map[String, Long] = TableCommits.listFiles(table)

    def maintenance(name: String)(f: => Long): Unit =
      ops += Workload.timed("maintenance", name)(t.span(Tracer.Op, name)(t.span("table", name)(f)))(identity)

    steps.zipWithIndex.foreach { case (step, i) =>
      def in: DataFrame = incoming(i).drop("del")
      def changes: DataFrame = incoming(i)
      val r = Workload.timed("commit", step.op)(t.span(Tracer.Op, step.op)(t.span("table", step.op) {
        step.op match {
          case "write" => SnapshotTable.write(spark, in, path)
          case "append" => SnapshotTable.append(spark, in, path)
          case "ingest" => SnapshotTable.ingest(spark, in, path, "note")
          case "merge" => SnapshotTable.merge(spark, changes, path, "k", deleteCol = Some("del"))
          case "mergeOnRead" => SnapshotTable.mergeOnRead(spark, changes, path, "k", deleteCol = Some("del"))
          case "deleteWhere" => SnapshotTable.deleteWhere(spark, path, "k", predicate(step))
          case "updateWhere" =>
            SnapshotTable.updateWhere(spark, path, "k", predicate(step), Map("price" -> (col("price") + 1.0)))
          case "deletePositional" => SnapshotTable.deleteWherePositional(spark, path, predicate(step))
          case "updatePositional" =>
            SnapshotTable.updateWherePositional(spark, path, predicate(step),
              Map("priority" -> lit(UpdatedPriority)))
          case "compactSmall" => SnapshotTable.compactSmall(spark, path)
          case "compact" => SnapshotTable.compact(spark, path)
        }
      }))(_ => step.rows.size.toLong)
      model.apply(step)
      val version = SnapshotTable.currentVersion(spark, path).getOrElse(0L)
      model.committed(version)
      val after = listing()
      if (r.error.isEmpty) TableCommits.classify(after.filter { case (f, b) => !files.get(f).contains(b) })
        .foreach { case (k, b) => perCommit(k) += b }
      written += TableCommits.newBytes(files, after)
      files = after
      incomingBytes += batchBytes.getOrElse(i, 0L)
      ops += r

      if ((i + 1) % ExpireEvery == 0) maintenance("expire")(SnapshotTable.expire(spark, path, keep = Retain).toLong)
      if ((i + 1) % VacuumEvery == 0) {
        maintenance("vacuum")(SnapshotTable.vacuum(spark, path, graceMs = 0L).nDataDirs.toLong)
        files = listing()
      }
      if (i % ReadEvery == 0) ops += read(i / ReadEvery, path, version, model, rnd, t)
    }

    ops += Workload.timed("read", "final")(t.span(Tracer.Op, "final")(
      snapshotHash(SnapshotTable.read(spark, path), t)))(checkHash(_, model.current, "final snapshot"))
    perCommit.foreach { case (k, b) => stats(s"${k}_bytes_per_commit") += b / steps.size }
    stats("write_amp") += written.toDouble / incomingBytes
    stats("space_amp") += TableCommits.spaceAmp(spark, path)
    passes += 1
    ops.result()
  }

  /** The `r`-th interleaved read, against the table at `version`. */
  private def read(r: Int, path: String, version: Long, model: Model, rnd: SplittableRandom,
                   t: Tracer): OpResult = {
    val kind = ReadKinds(r % ReadKinds.size)
    val cur = model.current
    def timed[T](work: => T)(check: T => Long) =
      Workload.timed("read", kind)(t.span(Tracer.Op, kind)(work))(check)
    def pruned(df: DataFrame, rep: SnapshotTable.PruneReport): Long = {
      stats("files_kept") += rep.nFilesKept
      stats("files_total") += rep.nFilesTotal
      Workload.materialize(df, t)
    }
    kind match {
      case "point" =>
        val keys = cur.keys.toVector.sorted
        val key = keys(rnd.nextInt(keys.size))
        timed {
          val (df, rep) = t.span("table", "readWhereReport")(
            SnapshotTable.readWhereReport(spark, path, col("k") === key))
          pruned(df, rep)
        } { n => expect(n == 1, s"point read k=$key: $n rows, model 1"); n }
      case "range" =>
        val keys = cur.keys.toVector.sorted
        val (lo, hi) = (keys(keys.size / 4), keys(keys.size / 2))
        timed {
          val (df, rep) = t.span("table", "readWhereReport")(
            SnapshotTable.readWhereReport(spark, path, col("k").between(lo, hi)))
          pruned(df, rep)
        } { n =>
          val want = keys.count(k => k >= lo && k <= hi)
          expect(n == want, s"range read k in [$lo, $hi]: $n rows, model $want")
          n
        }
      case "readAt" =>
        val v = math.max(version - 1 - rnd.nextInt(Retain - 1), 1L)
        timed(snapshotHash(t.span("table", "readAt")(SnapshotTable.readAt(spark, path, v)), t))(
          checkHash(_, model.at(v), s"readAt($v)"))
      case "changes" =>
        val from = math.max(version - 2, 2L)
        timed(Workload.materialize(t.span("table", "changes")(SnapshotTable.changes(spark, path, from)), t)) { n =>
          val changed = model.at(from - 1) != model.at(version)
          expect(n > 0 || !changed, s"changes($from): no rows, but the table changed since version ${from - 1}")
          n
        }
      case "scan" =>
        timed(Workload.materialize(t.span("table", "GraftDataSource.scan")(
          spark.read.format("graft").load(path).filter(col("price") > ScanPrice)), t)) { n =>
          val want = cur.values.count(_.price > ScanPrice)
          expect(n == want, s"format(graft) price > $ScanPrice: $n rows, model $want")
          n
        }
    }
  }

  /** Row count and order-independent hash of `df`'s table columns. */
  private def snapshotHash(df: DataFrame, t: Tracer): (Long, Long) = {
    // hashes reduced mod 2^31 - 1 so the sum cannot overflow
    val agg = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(Cols.map(col): _*), lit(Int.MaxValue.toLong))), lit(0L)))
    val qe = agg.queryExecution
    t.span("catalyst", "optimize")(qe.optimizedPlan)
    t.span("catalyst", "plan")(qe.executedPlan)
    val r = t.span(Tracer.Execution, "run")(agg.collect().head)
    (r.getLong(0), r.getLong(1))
  }

  /** Compares a snapshot's (rows, hash) with the model's, hashed the same
    * way by Spark; returns the row count.
    */
  private def checkHash(got: (Long, Long), want: Map[Long, Rec], what: String): Long = {
    val model = spark.createDataFrame(spark.sparkContext.parallelize(
      want.values.toSeq.map(_.row), 1), TableSchema)
    val exp = snapshotHash(model, new Tracer(spark.sparkContext, enabled = false))
    expect(got == exp, s"$what: (rows, hash) = $got, model $exp")
    got._1
  }

  def info(p: Passes): Seq[(String, Any)] = {
    val n = math.max(passes, 1).toDouble
    Seq(
      "commits" -> plan.size,
      "commit_mix" -> plan.groupBy(_.op).toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.size}" }.mkString(" "),
      "incoming_rows" -> plan.map(_.rows.size).sum,
      "write_amp" -> stats("write_amp") / n,
      "space_amp" -> stats("space_amp") / n,
      "read_files_kept_frac" -> stats("files_kept") / math.max(stats("files_total"), 1.0)) ++
      stats.keys.filter(_.endsWith("_per_commit")).toSeq.sorted.map(k => k -> stats(k) / n)
  }
}

object TableCommits {
  val ExpireEvery = 7
  val VacuumEvery = 14
  /** A read follows every ReadEvery-th commit. */
  val ReadEvery = 3
  /** Versions `expire` keeps: the window `readAt` and `changes` read in. */
  val Retain = 6
  val ReadKinds = Vector("point", "range", "readAt", "changes", "scan")
  val UpdatedPriority = "0-UPDATED"
  val ScanPrice = 150000.0

  /** The commits after the table-creating write, in a fixed order (the
    * seed picks their rows and predicates). Writes and appends are the
    * majority (12 of 21 commits, the first write included), so the median
    * commit latency is one of theirs and does not jump between operation
    * types of very different cost. compactSmall refuses to rewrite files
    * under an outstanding tombstone or positional overlay, so it follows a
    * compact, which materializes the overlay, and a fresh append; the
    * positional operations follow it.
    */
  val Sequence: Seq[String] = Seq("append", "append", "mergeOnRead", "write", "append",
    "append", "deleteWhere", "ingest", "append", "updateWhere", "merge", "append", "compact",
    "append", "compactSmall", "deletePositional", "updatePositional", "append", "write", "append")

  val Cols = Seq("k", "cust", "status", "price", "odate", "priority", "note")
  val TableSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("cust", LongType),
    StructField("status", StringType), StructField("price", DoubleType),
    StructField("odate", TimestampType), StructField("priority", StringType),
    StructField("note", StringType)))
  val BatchSchema: StructType = StructType(StructField("batch", IntegerType) +:
    TableSchema.fields :+ StructField("del", BooleanType))

  final case class Rec(k: Long, cust: Long, status: String, price: Double, odate: Timestamp,
                       priority: String, note: String, del: Boolean = false) {
    def row: Row = Row(k, cust, status, price, odate, priority, note)
  }

  /** One commit: the operation, its incoming rows (change rows carry
    * `del`), and for predicate operations the modulus residue it selects.
    */
  final case class Step(op: String, rows: Seq[Rec], residue: Int = 0)

  /** Rows a predicate operation selects: `k % 13 == residue`. */
  def selects(s: Step, r: Rec): Boolean = Math.floorMod(r.k, 13L) == s.residue

  def predicate(s: Step): org.apache.spark.sql.Column = pmod(col("k"), lit(13L)) === s.residue

  /** The seeded commit sequence over `orders` rows (sorted by key). */
  def plan(seed: Long, orders: Vector[Rec]): Seq[Step] = {
    val rnd = new SplittableRandom(seed)
    val fresh = shuffle(orders, rnd).iterator
    def take(n: Int) = Vector.fill(n)(fresh.next())
    val model = new Model
    val steps = Vector.newBuilder[Step]
    def add(s: Step): Unit = { steps += s; model.apply(s) }
    add(Step("write", take(300)))
    Sequence.foreach { op =>
      val live = model.current.values.toVector.sortBy(_.k)
      def pick(n: Int) = shuffle(live, rnd).take(n)
      op match {
        case "write" => add(Step(op, take(300)))
        case "append" => add(Step(op, take(120)))
        case "ingest" => add(Step(op, take(100) ++ pick(20)))
        case "merge" | "mergeOnRead" =>
          val victims = pick(50)
          val upd = victims.take(40).map(r => r.copy(price = r.price + 7.0, priority = "2-HIGH"))
          val del = victims.drop(40).map(_.copy(del = true))
          add(Step(op, upd ++ del ++ take(10)))
        case _ => add(Step(op, Nil, rnd.nextInt(13)))
      }
    }
    steps.result()
  }

  private def shuffle[T](xs: Vector[T], rnd: SplittableRandom): Vector[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val tmp = a(i); a(i) = a(j); a(j) = tmp
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** The table's contents, from plain map operations: the current state
    * and the state at every committed version.
    */
  final class Model {
    private var state = Map.empty[Long, Rec]
    private var versions = Map.empty[Long, Map[Long, Rec]]
    def current: Map[Long, Rec] = state
    def at(v: Long): Map[Long, Rec] = versions(v)

    /** Records that the table's version `v` holds the current state. */
    def committed(v: Long): Unit = versions += v -> state

    def apply(s: Step): Unit = {
      val cur = state
      state = s.op match {
        case "write" => s.rows.map(r => r.k -> r).toMap
        case "append" => cur ++ s.rows.map(r => r.k -> r)
        case "ingest" =>
          val texts = cur.values.map(_.note).toSet
          cur ++ s.rows.filterNot(r => texts(r.note)).map(r => r.k -> r)
        case "merge" | "mergeOnRead" =>
          val (del, up) = s.rows.partition(_.del)
          cur -- del.map(_.k) ++ up.map(r => r.k -> r)
        case "deleteWhere" | "deletePositional" => cur.filterNot { case (_, r) => selects(s, r) }
        case "updateWhere" => cur.map { case (k, r) => k -> (if (selects(s, r)) r.copy(price = r.price + 1.0) else r) }
        case "updatePositional" =>
          cur.map { case (k, r) => k -> (if (selects(s, r)) r.copy(priority = UpdatedPriority) else r) }
        case "compactSmall" | "compact" => cur
      }
    }
  }

  /** Table bytes after expiring all but the current version and a
    * vacuum, over the current snapshot written once as plain parquet.
    */
  def spaceAmp(spark: org.apache.spark.sql.SparkSession, path: String): Double = {
    SnapshotTable.expire(spark, path, keep = 1)
    SnapshotTable.vacuum(spark, path, graceMs = 0L)
    val tableBytes = Workload.treeBytes(new File(path))
    val plain = new File(path + "-plain")
    SnapshotTable.read(spark, path).write.parquet(plain.getAbsolutePath)
    try tableBytes.toDouble / Workload.treeBytes(plain)
    finally Workload.deleteTree(plain)
  }

  /** Bytes of the files in `after` that are new or changed size since
    * `before`: what a commit wrote, as far as two listings can tell.
    */
  def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (f, b) if !before.get(f).contains(b) => b }.sum

  /** Relative path -> size of every regular file under `root`. */
  def listFiles(root: File): Map[String, Long] = {
    val base = root.toPath
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(base.relativize(f.toPath).toString -> f.length())
      else Nil
    walk(root).toMap
  }

  /** Splits bytes by what they are: manifests under `_versions`, other
    * `_`-prefixed trees (stats, hashes, blooms, tombstones, positional
    * deletes) as sidecars, the rest as data.
    */
  def classify(files: Map[String, Long]): Map[String, Long] =
    files.groupBy { case (f, _) =>
      val top = f.split('/').head
      if (top == "_versions") "manifest" else if (top.startsWith("_") || top.startsWith(".")) "sidecar" else "data"
    }.map { case (k, v) => k -> v.values.sum }
}
