package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.{SparkEntry, Tables}

/** `registry_sweep`: a frozen list of registry queries, each built by its
  * query function and materialized in full. The list and each query's
  * expected row count come from `registry_sweep.tsv` (see
  * `oracle_counts.py`); the inputs are the committed tables, so the seed
  * changes nothing.
  */
final class RegistrySweep(ctx: Ctx, expected: Seq[(String, Option[Long])]) extends Workload {
  private val fns = SparkEntry.queries
  private val unknown = expected.map(_._1).filterNot(fns.contains)
  require(unknown.isEmpty, s"registry_sweep.tsv names unknown queries: ${unknown.mkString(", ")}")

  private var dataDir = ""

  def prepare(dir: File): Unit = {
    val data = new File(dir, "data")
    data.mkdirs()
    Tables.names.foreach { t =>
      val src = new File(ctx.dataDir, s"$t.parquet")
      if (src.isFile) Files.copy(src.toPath, new File(data, src.getName).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    }
    dataDir = data.getAbsolutePath
  }

  val warmupPasses = 1
  val latencyKinds: Set[String] = Set("query")
  val throughputKinds: Set[String] = Set("query")

  private def run(name: String, t: Tracer): Long = t.span(Tracer.Op, name) {
    val df = t.span("queries", name)(fns(name)(ctx.spark, dataDir))
    Workload.materialize(df, t)
  }

  def pass(n: Int, t: Tracer): Seq[OpResult] = expected.map { case (name, want) =>
    Workload.timed("query", name)(run(name, t)) { rows =>
      want match {
        case Some(w) => Workload.expect(w == rows, s"returned $rows rows, DuckDB oracle returns $w")
        case None => Workload.expect(rows > 0, "returned no rows (no oracle: must be non-empty)")
      }
      rows
    }
  }

  def info(p: Passes): Seq[(String, Any)] = Seq(
    "queries" -> expected.length,
    "oracle_checked" -> expected.count(_._2.nonEmpty),
    "data" -> new File(ctx.dataDir).getName)
}

object RegistrySweep {
  /** Parses `name<TAB>rows` lines; `rows` is `nonempty` for a query with
    * no DuckDB oracle.
    */
  def readExpected(f: File): Seq[(String, Option[Long])] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      l.split("\t") match {
        case Array(name, "nonempty") => name -> None
        case Array(name, n) => name -> Some(n.toLong)
        case _ => throw new IllegalArgumentException(s"${f.getName}: malformed line '$l'")
      }
    }.toVector
    finally src.close()
  }
}
