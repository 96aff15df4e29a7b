package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** One timed call into graft: `rows` is the unit of work the workload
  * counts (result rows, converted values, committed rows).
  */
final case class OpResult(kind: String, name: String, seconds: Double, rows: Long,
                          error: Option[String])

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int, dataDir: String, workDir: File)

/** A closed loop with one client: the run calls [[pass]] again only
  * after the previous pass has returned.
  */
trait Workload {
  /** Builds this run's inputs under `dir`, a fresh directory. Called
    * several times; the passes use the inputs of the last call.
    */
  def prepare(dir: File): Unit

  /** One pass over the workload's fixed operation list. */
  def pass(n: Int, t: Tracer): Seq[OpResult]

  /** Untimed passes set-up runs so that the timed passes run warm; 0
    * where they would not fit the run's time budget.
    */
  def warmupPasses: Int

  /** Operation kinds whose median latency is `op_p50_s`. */
  def latencyKinds: Set[String]

  /** Operation kinds whose rows per second of their own time is
    * `rows_per_s`.
    */
  def throughputKinds: Set[String]

  /** Labelled facts about the inputs and workload-specific figures of
    * the passes, reported with every result.
    */
  def info(p: Passes): Seq[(String, Any)]
}

object Workload {
  /** A failed output check: the operation that raised it counts as failed. */
  final class CheckFailed(msg: String) extends RuntimeException(msg)

  def expect(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** Runs one operation: times `work` alone, then `check`s its result
    * (which returns the operation's row count or throws). A failure of
    * either is the operation's error. Logs one line per operation to
    * stderr.
    */
  def timed[T](kind: String, name: String)(work: => T)(check: T => Long): OpResult = {
    val t0 = System.nanoTime()
    var seconds = 0.0
    val r = try {
      val out = work
      seconds = (System.nanoTime() - t0) / 1e9
      OpResult(kind, name, seconds, check(out), None)
    } catch {
      case e: Exception =>
        if (seconds == 0.0) seconds = (System.nanoTime() - t0) / 1e9
        OpResult(kind, name, seconds, 0L,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)))
    }
    System.err.println(f"[graftbench] $kind $name ${r.seconds}%.3f s ${r.rows} rows" +
      r.error.map(e => s" FAILED: $e").getOrElse(""))
    r
  }

  /** Produces every row and column of `df`'s executed plan and returns the
    * row count: the work Spark's `noop` sink does, without the write
    * command's second planning pass, so the catalyst spans time the plan
    * that runs. Optimization and physical planning are forced first, in
    * their own spans.
    */
  def materialize(df: DataFrame, t: Tracer): Long = {
    val qe = df.queryExecution
    t.span("catalyst", "optimize")(qe.optimizedPlan)
    t.span("catalyst", "plan")(qe.executedPlan)
    t.span(Tracer.Execution, "run") {
      SQLExecution.withNewExecutionId(qe, Some("graftbench materialize")) {
        qe.toRdd.mapPartitions { it =>
          var n = 0L
          while (it.hasNext) { it.next(); n += 1 }
          Iterator.single(n)
        }.collect().sum
      }
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Bytes of the regular files under `f`. */
  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L
}
