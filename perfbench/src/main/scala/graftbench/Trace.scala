package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** A timed interval. `op` is the id of the operation span that encloses
  * it (all spans of one query or commit share it); `parent` is 0 for the
  * workload span.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-side totals of one job, summed over its stages. */
final class JobTotals {
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** One Spark job, tagged with the innermost benchmark span that was open
  * on the submitting thread.
  */
final case class JobRecord(jobId: Int, span: Long, startNs: Long, endNs: Long, totals: JobTotals)

/** Collects job, stage and task counts. Times are converted from the
  * scheduler's wall clock to the spans' `nanoTime` axis.
  */
final class JobListener(nanoOffset: Long) extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, (Long, Long)]() // job -> (span, startNs)
  private val ends = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val totals = new ConcurrentHashMap[Int, JobTotals]()

  private def ns(ms: Long): Long = ms * 1000000L - nanoOffset

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    starts.put(e.jobId, (span, ns(e.time)))
    totals.put(e.jobId, new JobTotals)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ends.put(e.jobId, ns(e.time)); () }

  private def jobOf(stageId: Int): Option[JobTotals] =
    Option(stageJob.get(stageId)).flatMap(j => Option(totals.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    jobOf(e.stageInfo.stageId).foreach(t => t.synchronized { t.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobOf(e.stageId).foreach { t =>
    val m = e.taskMetrics
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
        t.output += m.outputMetrics.bytesWritten
      }
    }
  }

  def jobs: Seq[JobRecord] = starts.asScala.toSeq.sortBy(_._1).map { case (id, (span, s)) =>
    JobRecord(id, span, s, Option(ends.get(id)).map(_.longValue).getOrElse(s), totals.get(id))
  }
}

/** Span recorder for the traced run. Disabled, it only runs the body:
  * untraced runs register no listener and record nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var op = 0L
  private var nextId = 1L
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val listener = if (enabled) Some(new JobListener(nanoOffset)) else None
  listener.foreach(sc.addSparkListener)

  /** Runs `f` inside a span of `layer`; a span of layer `op` starts a new
    * operation id.
    */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      if (layer == Tracer.Op) op = id
      val opId = op
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, opId, layer, name, t0, t1)
      }
    }

  /** The recorded spans plus one span per Spark job, each job a child of
    * the span that submitted it.
    */
  def finish(): (Seq[Span], Seq[JobRecord]) = {
    BenchBus.drain(sc)
    listener.foreach(sc.removeSparkListener)
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = listener.map(_.jobs).getOrElse(Nil)
    val jobSpans = jobs.map { j =>
      Span(-j.jobId - 1L, j.span, byId.get(j.span).map(_.op).getOrElse(0L),
        Tracer.Execution, s"job ${j.jobId}", j.startNs, math.max(j.endNs, j.startNs))
    }
    (spans.toSeq ++ jobSpans, jobs)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val Op = "op"
  val Execution = "execution"

  /** Total length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Each span's duration minus the time its children cover. */
  def selfSeconds(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.endNs - s.startNs - covered(iv, s.startNs, s.endNs)) / 1e9
    }.toMap
  }
}

/** Process-wide counters sampled around the timed phase. */
object Probes {
  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MB. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Mean compile time of the sampled generated classes, in ms. */
  def codegenMeanMs(): Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

  /** A control for the host's speed, independent of graft and Spark: the
    * median seconds of five rounds of SHA-256 over 64 MB on one thread.
    * Runs that differ in this differ because the host did.
    */
  def hostProbeSeconds(): Double = {
    val buf = new Array[Byte](1 << 20)
    val rounds = (1 to 5).map { _ =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val t0 = System.nanoTime()
      for (_ <- 1 to 64) md.update(buf)
      md.digest()
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(rounds)
  }
}
