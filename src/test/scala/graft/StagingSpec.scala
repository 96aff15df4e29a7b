package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.SnapshotTable

/** The commit path's two tables, pinned across every op that uses them:
  * which interleaved kinds each `commitLoop` caller rebases over, and
  * which sidecars each staged data dir carries.
  */
class StagingSpec extends SparkSpec {

  private def docs(ks: Seq[Long]): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, s"t-$k", k % 3)).toDF("k", "text", "g")
  }

  // ---- admission ----------------------------------------------------------

  /** Every kind a SnapshotTable commit records. */
  private val kinds = Seq("overwrite", "append", "fast-forward", "compact", "binpack",
    "merge", "merge-on-read", "posdelete", "posupdate", "posdelete-compact",
    "constraint", "drop-constraint", "renamecol", "dropcol", "repartition", "rollback")

  /** The racer: commits the current manifest once more under `kind`, so
    * the kind is all the loser's admission can object to.
    */
  private def racer(path: String, kind: String): String => Unit = _ => {
    val vd = Paths.get(path, "_versions")
    val cur = SnapshotTable.currentVersion(spark, path).get
    val lines = Files.readAllLines(vd.resolve(f"v$cur%08d.txt")).asScala.toSeq
    val parentTs = lines.collectFirst { case l if l.startsWith("ts:") => l.drop(3).toLong }.get
    val body = lines.map {
      case l if l.startsWith("kind:") => s"kind:$kind"
      case l if l.startsWith("ts:") => s"ts:${math.max(System.currentTimeMillis(), parentTs + 1)}"
      case l => l
    }
    Files.write(vd.resolve(f"v${cur + 1}%08d.txt"), body.map(_ + "\n").mkString.getBytes("UTF-8"))
  }

  test("each commitLoop op rebases over exactly the kinds its admission table lists") {
    // the commitLoop scaladoc's table, typed out
    val appendish = Set("append", "fast-forward", "compact", "binpack", "posdelete",
      "posupdate", "merge-on-read", "posdelete-compact")
    val expected = Map(
      "append" -> appendish,
      "streaming append" -> appendish,
      "ingest" -> Set("append", "fast-forward", "compact", "binpack", "posdelete",
        "posdelete-compact"),
      "compact" -> Set("append", "fast-forward"),
      "compactSmall" -> Set("append", "fast-forward"),
      "mergeOnRead" -> Set("append", "fast-forward", "binpack", "merge-on-read"),
      "deleteWherePositional" -> Set("append", "fast-forward", "posdelete", "posupdate",
        "posdelete-compact"),
      "compactPosDeletes" -> Set("append", "fast-forward", "posdelete", "posupdate",
        "merge-on-read", "posdelete-compact"))
    var next = 1000L
    def fresh(n: Int): Seq[Long] = { val ks = next until next + n; next += n; ks }
    var epoch = 0L
    var victim = 0L
    // (op, prepare, run, kind the op records)
    val ops: Seq[(String, String => Unit, String => Any, String)] = Seq(
      ("append", _ => (), p => SnapshotTable.append(spark, docs(fresh(3)), p), "append"),
      ("streaming append", _ => (), { p =>
        val plan = SnapshotTable.streamWritePlan(spark, p, docs(Nil).schema)
        val dir = SnapshotTable.streamStagingDir(spark, p)
        docs(fresh(3)).write.parquet(s"$p/$dir")
        epoch += 1
        SnapshotTable.commitStreamAppend(spark, p, dir, plan, "admission-q", epoch)
      }, "append"),
      ("ingest", _ => (), p => SnapshotTable.ingest(spark, docs(fresh(3)), p, "text"), "append"),
      ("compact", _ => (), p => SnapshotTable.compact(spark, p), "compact"),
      ("compactSmall", { p =>
        SnapshotTable.append(spark, docs(fresh(2)), p)
        SnapshotTable.append(spark, docs(fresh(2)), p)
      }, p => assert(SnapshotTable.compactSmall(spark, p).committed), "binpack"),
      ("mergeOnRead", _ => (), p => SnapshotTable.mergeOnRead(spark,
        docs(fresh(2)), p, "k"), "merge-on-read"),
      ("deleteWherePositional",
        p => { victim = fresh(1).head; SnapshotTable.append(spark, docs(Seq(victim)), p) },
        p => assert(SnapshotTable.deleteWherePositional(spark, p, col("k") === victim).committed),
        "posdelete"),
      ("compactPosDeletes", { p =>
        val ks = fresh(2)
        SnapshotTable.append(spark, docs(ks), p)
        ks.foreach(k => SnapshotTable.deleteWherePositional(spark, p, col("k") === k))
      }, p => SnapshotTable.compactPosDeletes(spark, p), "posdelete-compact"))
    val observed = ops.map { case (op, prepare, run, opKind) =>
      val path = tmp("graft-admission")
      SnapshotTable.write(spark, docs(1L to 20L), path)
      op -> kinds.filter { k =>
        prepare(path)
        val racerV = SnapshotTable.currentVersion(spark, path).get + 1
        SnapshotTable.commitFault = racer(path, k)
        val refusal =
          try { run(path); None }
          catch { case e: java.io.IOException => Some(e.getMessage) }
          finally SnapshotTable.commitFault = _ => ()
        assert(SnapshotTable.readManifestChecked(spark, path, racerV).kind == k,
          s"$op: the $k racer did not land at $racerV")
        refusal match {
          case None =>
            assert(SnapshotTable.currentVersion(spark, path).contains(racerV + 1), s"$op over $k")
            assert(SnapshotTable.readManifestChecked(spark, path, racerV + 1).kind == opKind,
              s"$op over $k")
            true
          case Some(msg) =>
            assert(msg.contains(s"lost the commit race to version $racerV (kind '$k')"),
              s"$op over $k: $msg")
            false
        }
      }.toSet
    }.toMap
    ops.foreach { case (op, _, _, _) =>
      assert(observed(op) == expected(op),
        s"$op rebases over ${observed(op).toSeq.sorted}, the table says " +
          s"${expected(op).toSeq.sorted}")
    }
  }

  // ---- staged-dir sidecars ------------------------------------------------

  test("every op's staged dir carries _stats iff statsCols, _hashes iff it knew the content") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    Seq(Seq("k", "text"), Nil).foreach { statsCols =>
      val path = tmp("graft-staged") + "/t"
      def head = SnapshotTable.readManifestChecked(spark, path,
        SnapshotTable.currentVersion(spark, path).get)
      def has(side: String, dir: String) = Files.exists(Paths.get(path, side, dir))
      // runs `op` and checks the dirs it added over `before`
      def check(name: String, hashes: Boolean, before: () => Option[SnapshotTable.Manifest],
                after: () => SnapshotTable.Manifest)(op: => Any): Unit = {
        val b = before()
        op
        val added = SnapshotTable.manifestDiff(b, after()).addedDirs
        assert(added.nonEmpty, s"$name added no dir")
        added.foreach { d =>
          assert(has("_stats", d) == statsCols.nonEmpty,
            s"$name (statsCols $statsCols): _stats/$d exists = ${has("_stats", d)}")
          assert(has("_hashes", d) == hashes, s"$name: _hashes/$d exists = ${has("_hashes", d)}")
        }
      }
      def onMain(name: String, hashes: Boolean)(op: => Any): Unit =
        check(name, hashes,
          () => SnapshotTable.currentVersion(spark, path).map(v =>
            SnapshotTable.readManifestChecked(spark, path, v)),
          () => head)(op)
      onMain("write", hashes = false)(
        SnapshotTable.write(spark, docs(1L to 10L), path, statsCols = statsCols))
      onMain("append", hashes = false)(SnapshotTable.append(spark, docs(11L to 20L), path))
      SnapshotTable.createBranch(spark, path, "b")
      def branchHead = SnapshotTable.branchHeadManifest(spark, path, "b")._2
      check("appendBranch", hashes = false, () => Some(branchHead), () => branchHead)(
        SnapshotTable.appendBranch(spark, docs(21L to 25L), path, "b"))
      SnapshotTable.fastForward(spark, path, "b")
      onMain("ingest", hashes = true)(
        SnapshotTable.ingest(spark, docs(26L to 35L), path, "text"))
      onMain("merge", hashes = true)(SnapshotTable.merge(spark,
        docs(Seq(2L, 40L)).withColumn("del", lit(false)), path, "k",
        deleteCol = Some("del"), textCol = Some("text")))
      onMain("ingest 2", hashes = true)(
        SnapshotTable.ingest(spark, docs(41L to 45L), path, "text"))
      // every dir now has a hash sidecar: the binpack unions them
      onMain("compactSmall", hashes = true)(
        assert(SnapshotTable.compactSmall(spark, path).committed))
      onMain("updateWherePositional", hashes = false)(SnapshotTable.updateWherePositional(
        spark, path, col("k") === 5L, Map("text" -> lit("u-5"))))
      onMain("mergeOnRead", hashes = true)(SnapshotTable.mergeOnRead(spark,
        docs(Seq(6L, 50L)), path, "k", textCol = Some("text")))
      // over an overlay the union is refused: textCol rebuilds the sidecar
      onMain("compact", hashes = true)(
        SnapshotTable.compact(spark, path, textCol = Some("text")))
      onMain("writeStream epoch", hashes = false) {
        val input = MemoryStream[(Long, String, Long)]
        val q = input.toDF().toDF("k", "text", "g").writeStream.format("graft")
          .option("checkpointLocation", tmp("graft-staged-ckpt")).start(path)
        try { input.addData(Seq((60L, "t-60", 0L))); q.processAllAvailable() }
        finally q.stop()
      }
      assert(SnapshotTable.read(spark, path).count() ==
        SnapshotTable.read(spark, path).select("k").distinct().count())
    }
  }
}
