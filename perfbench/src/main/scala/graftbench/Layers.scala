package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.immutable.ListMap

/** Per-layer figures of the traced passes. */
object Layers {
  /** Spans around calls into graft's public functions; the rest are the
    * benchmark's own (workload, op) or Spark's (catalyst, execution).
    */
  val GraftLayers = Set("queries", "sources", "functions", "table")

  final case class Snapshot(passes: Passes, spans: Seq[Span], jobs: Seq[JobRecord],
                            gcS: Double, heapPeakMb: Double,
                            codegenCompiles: Long, codegenMeanMs: Double)

  private val MB = 1048576.0

  /** The `per_layer` metrics: totals per pass, so runs with different
    * pass counts compare.
    */
  def metrics(s: Snapshot): Seq[(String, (Double, String))] = {
    val k = s.passes.passes.size.toDouble
    val self = Tracer.selfSeconds(s.spans)
    val byId = s.spans.map(sp => sp.id -> sp).toMap
    def selfOf(p: Span => Boolean) = s.spans.filter(p).map(sp => self(sp.id)).sum / k
    def jobSum(f: JobTotals => Double) = s.jobs.map(j => f(j.totals)).sum / k
    val jobIv = s.jobs.map(j => (j.startNs, j.endNs))
    val runNs = if (jobIv.isEmpty) 0L
      else Tracer.covered(jobIv, jobIv.map(_._1).min, jobIv.map(_._2).max)
    val apiJobs = s.jobs.count(j => byId.get(j.span).exists(sp => GraftLayers(sp.layer)))
    val nOps = s.spans.count(_.layer == Tracer.Op)
    Seq(
      "catalyst.optimize_s" -> (selfOf(sp => sp.layer == "catalyst" && sp.name == "optimize"), "s"),
      "catalyst.plan_s" -> (selfOf(sp => sp.layer == "catalyst" && sp.name == "plan"), "s"),
      "api.self_s" -> (selfOf(sp => GraftLayers(sp.layer)), "s"),
      "api.jobs_per_op" -> (apiJobs.toDouble / math.max(nOps, 1), "jobs/op"),
      "execution.run_s" -> (runNs / 1e9 / k, "s"),
      "execution.jobs" -> (s.jobs.size / k, "count"),
      "execution.stages" -> (jobSum(_.stages.toDouble), "count"),
      "execution.tasks" -> (jobSum(_.tasks.toDouble), "count"),
      "execution.executor_run_s" -> (jobSum(_.runMs / 1e3), "s"),
      "execution.executor_cpu_s" -> (jobSum(_.cpuNs / 1e9), "s"),
      "execution.shuffle_read_mb" -> (jobSum(_.shuffleRead / MB), "MB"),
      "execution.shuffle_write_mb" -> (jobSum(_.shuffleWrite / MB), "MB"),
      "execution.spill_mb" -> (jobSum(_.spill / MB), "MB"),
      "execution.input_mb" -> (jobSum(_.input / MB), "MB"),
      "execution.output_mb" -> (jobSum(_.output / MB), "MB"),
      "execution.codegen_compiles" -> (s.codegenCompiles / k, "count"),
      "jvm.gc_s" -> (s.gcS / k, "s"),
      "jvm.heap_peak_mb" -> (s.heapPeakMb, "MB"))
  }

  /** Totals per layer, and per (layer, call) where the call names a
    * function rather than a query: calls, wall seconds, self seconds and
    * the Spark jobs they launched, per pass.
    */
  def summary(s: Snapshot): Seq[(String, Any)] = {
    val k = s.passes.passes.size.toDouble
    val self = Tracer.selfSeconds(s.spans)
    val jobsBySpan = s.jobs.groupBy(_.span)
    val keyed = s.spans.filter(sp => sp.id > 0 && sp.layer != "workload").map { sp =>
      val key = if (sp.layer == Tracer.Op || sp.layer == "queries") sp.layer else s"${sp.layer}.${sp.name}"
      key -> sp
    }
    val groups = keyed.groupBy(_._1).toSeq.sortBy(_._1).map { case (key, xs) =>
      val sps = xs.map(_._2)
      val jobs = sps.flatMap(sp => jobsBySpan.getOrElse(sp.id, Nil))
      key -> ListMap(
        "calls" -> sps.size / k,
        "total_s" -> sps.map(_.seconds).sum / k,
        "self_s" -> sps.map(sp => self(sp.id)).sum / k,
        "jobs" -> jobs.size / k,
        "input_mb" -> jobs.map(_.totals.input).sum / MB / k,
        "output_mb" -> jobs.map(_.totals.output).sum / MB / k)
    }
    groups ++ Seq(
      "ops" -> perOp(s),
      "execution.codegen_compile_s_estimate" -> s.codegenCompiles * s.codegenMeanMs / 1e3 / k,
      "passes" -> s.passes.passes.size)
  }

  /** Per operation name (a query, a commit type, a read kind), per pass:
    * its wall time split into calling-thread time in catalyst and in
    * graft's functions, and the wall, executor and CPU time of its jobs.
    * Shows whether an operation is bound by planning or by its kernels.
    */
  private def perOp(s: Snapshot): ListMap[String, ListMap[String, Double]] = {
    val k = s.passes.passes.size.toDouble
    val self = Tracer.selfSeconds(s.spans)
    val byId = s.spans.map(sp => sp.id -> sp).toMap
    val ops = s.spans.filter(_.layer == Tracer.Op)
    val jobsByOp = s.jobs.groupBy(j => byId.get(j.span).map(_.op).getOrElse(0L))
    val spansByOp = s.spans.filter(sp => sp.id > 0).groupBy(_.op)
    ListMap(ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, xs) =>
      val ids = xs.map(_.id)
      val inner = ids.flatMap(id => spansByOp.getOrElse(id, Nil))
      val jobs = ids.flatMap(id => jobsByOp.getOrElse(id, Nil))
      def selfIn(p: Span => Boolean) = inner.filter(p).map(sp => self(sp.id)).sum / k
      name -> ListMap(
        "calls" -> xs.size / k,
        "total_s" -> xs.map(_.seconds).sum / k,
        "catalyst_s" -> selfIn(_.layer == "catalyst"),
        "api_self_s" -> selfIn(sp => GraftLayers(sp.layer)),
        "jobs_wall_s" -> xs.map(op => Tracer.covered(
          jobsByOp.getOrElse(op.id, Nil).map(j => (j.startNs, j.endNs)), op.startNs, op.endNs)).sum / 1e9 / k,
        "jobs" -> jobs.size / k,
        "stages" -> jobs.map(_.totals.stages).sum / k,
        "executor_run_s" -> jobs.map(_.totals.runMs).sum / 1e3 / k,
        "executor_cpu_s" -> jobs.map(_.totals.cpuNs).sum / 1e9 / k)
    }: _*)
  }

  /** One JSON object per line, times in seconds from the first span. */
  def writeSpans(spans: Seq[Span], out: File): Unit = {
    val self = Tracer.selfSeconds(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = spans.sortBy(_.startNs).map { sp =>
      Main.toJson(ListMap("id" -> sp.id, "parent" -> sp.parent, "op" -> sp.op, "layer" -> sp.layer,
        "name" -> sp.name, "start_s" -> (sp.startNs - t0) / 1e9, "end_s" -> (sp.endNs - t0) / 1e9,
        "self_s" -> self(sp.id)))
    }
    Option(out.getParentFile).foreach(_.mkdirs())
    Files.write(out.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
