package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `run.py` builds it and starts it.
  *
  * {{{
  * graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                 --bench DIR --work DIR --result FILE [--spans FILE]
  * graftbench.Main --dump-oracles FILE
  * graftbench.Main --selftest --bench DIR --work DIR
  * }}}
  *
  * `--bench` is the benchmark's own directory (inputs committed with it),
  * `--work` a fresh directory every output of the run goes under.
  */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.indices.collect {
      case i if args(i).startsWith("--") && i + 1 < args.length && !args(i + 1).startsWith("--") =>
        args(i).drop(2) -> args(i + 1)
    }.toMap
    if (args.headOption.contains("--dump-oracles")) dumpOracles(new File(args(1)))
    else if (args.headOption.contains("--selftest")) {
      val failures = SelfTest.run(new File(opts("bench")), new File(opts("work")))
      failures.foreach(f => System.err.println(s"SELFTEST FAIL: $f"))
      println(if (failures.isEmpty) "selftest: all checks pass" else s"selftest: ${failures.size} failed")
      sys.exit(if (failures.isEmpty) 0 else 1)
    } else {
      val code = run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", new File(opts("bench")), new File(opts("work")),
        new File(opts("result")), opts.get("spans").map(new File(_)))
      System.out.flush()
      System.err.flush()
      // the session is stopped and the result written; the run script
      // deletes the work directory, so Spark's shutdown hooks (seconds of
      // temp-dir cleanup) are skipped
      Runtime.getRuntime.halt(code)
    }
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Logs the seconds since the JVM started at the end of a phase. */
  private def phase(name: String): Unit =
    System.err.println(f"[graftbench] $name done at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")

  def session(cores: Int, work: File): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      // no web UI: nothing reads it, and its server and listeners cost
      // start-up time and threads in every run
      .config("spark.ui.enabled", "false")
    val spark = graft.Sessions.builderDefaults(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(name: String, ctx: Ctx, bench: File): Workload = name match {
    case "registry_sweep" =>
      new RegistrySweep(ctx, RegistrySweep.readExpected(new File(bench, "registry_sweep.tsv")))
    case "ios_convert" => new IosConvert(ctx)
    case "table_commits" => new TableCommits(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (registry_sweep | ios_convert | table_commits)")
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean, bench: File,
                  work: File, result: File, spansOut: Option[File]): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val probeBefore = Probes.hostProbeSeconds()
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, seed, cores, new File(bench, "data").getAbsolutePath, work)
    val w = workload(name, ctx, bench)

    // set-up: the session, the inputs built SetupRepeats times, and a
    // warm-up: untimed passes over the inputs where the workload has them
    // (the timed passes then run on JIT-compiled code and Spark's cached
    // generated classes), else one small job, so that the first timed
    // pass does not pay Spark's first-job cost
    val builds = (1 to SetupRepeats).map { i =>
      val dir = new File(work, s"setup-$i")
      dir.mkdirs()
      val s0 = System.nanoTime()
      w.prepare(dir)
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    val warmup =
      if (w.warmupPasses > 0) {
        val off = new Tracer(spark.sparkContext, enabled = false)
        (1 to w.warmupPasses).flatMap(_ => w.pass(0, off))
      } else {
        spark.range(0, 100000).selectExpr("id % 7 AS k", "id * 2 AS v").groupBy("k").sum("v").collect()
        Nil
      }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(builds) + warmupS

    // a traced run records spans from the first timed pass on, like the
    // untraced run it is compared with
    val tracer = new Tracer(spark.sparkContext, enabled = trace)
    Probes.resetHeapPeak()
    val gc0 = Passes.gcSeconds()
    val cg0 = Probes.codegenCompiles()
    phase("set-up")
    val passes = Passes.runFor(w, seconds, tracer)
    phase("passes")
    val probeAfter = Probes.hostProbeSeconds()

    val failures = (warmup ++ passes.ops).filter(_.error.nonEmpty)
    failures.foreach(f => System.err.println(s"CHECK FAILED: ${f.kind} ${f.name}: ${f.error.get}"))
    val info = Seq("workload" -> name, "seed" -> seed, "traced" -> trace, "host_cores" -> cores,
      "label" -> s"$cores-core host, local[$cores], $cores shuffle partitions",
      "host_probe_s" -> Seq(probeBefore, probeAfter),
      "session_s" -> sessionS, "input_builds_s" -> builds,
      "warmup_passes" -> w.warmupPasses, "warmup_s" -> warmupS,
      "passes" -> passes.passes.size, "ops_per_pass" -> passes.passes.head.size,
      "pass_times_s" -> passes.seconds) ++
      w.info(passes) ++ passes.kindSummary
    println(toJson(ListMap("info" -> ListMap(info: _*))))

    val metrics =
      if (!trace) EndToEnd.metrics(passes, setupS, w)
      else {
        val (spans, allJobs) = tracer.finish()
        // leave out the jobs of the checks and the byte accounting, which
        // run between operations
        val inOps = spans.filter(sp => sp.op != 0 && sp.layer != "workload").map(_.id).toSet
        val jobs = allJobs.filter(j => inOps(j.span))
        val snap = Layers.Snapshot(passes, spans, jobs, Passes.gcSeconds() - gc0, Probes.heapPeakMb(),
          Probes.codegenCompiles() - cg0, Probes.codegenMeanMs())
        println(toJson(ListMap("trace" -> ListMap(Layers.summary(snap): _*))))
        spansOut.foreach(f => Layers.writeSpans(spans, f))
        Layers.metrics(snap)
      }
    val out = toJson(ListMap(
      "correct" -> failures.isEmpty,
      "attempted" -> (warmup.size + passes.ops.size),
      "failed" -> failures.size,
      "metrics" -> ListMap(metrics.map { case (k, (v, unit)) =>
        k -> ListMap("value" -> v, "unit" -> unit) }: _*),
      "pass_s" -> Stats.median(passes.seconds)))
    Files.write(result.toPath, out.getBytes(UTF_8))
    phase("checks and result")
    spark.stop()
    phase("session stop")
    if (failures.isEmpty) 0 else 3
  }

  /** Writes every registry query name with its DuckDB oracle SQL (null
    * when it has none) as one JSON object, for `oracle_counts.py`.
    */
  private def dumpOracles(out: File): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val pairs = graft.SparkEntry.registry.map(_._1).sorted.map(n => n -> oracle.get(n).orNull)
    Files.write(out.toPath, toJson(ListMap(pairs: _*)).getBytes(UTF_8))
  }

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** One line of JSON; a `ListMap` keeps its keys in order. */
  def toJson(v: Any): String = mapper.writeValueAsString(v)
}

/** The passes of a run; a pass's seconds are the sum of its operations'
  * times, which leaves out the checks and the byte accounting between them.
  */
final case class Passes(passes: Seq[Seq[OpResult]]) {
  def ops: Seq[OpResult] = passes.flatten
  def seconds: Seq[Double] = passes.map(_.map(_.seconds).sum)

  /** Count, median and (when enough samples lie beyond it) 90th
    * percentile latency per operation kind.
    */
  def kindSummary: Seq[(String, Any)] = ops.groupBy(_.kind).toSeq.sortBy(_._1).flatMap {
    case (k, rs) =>
      val lat = rs.map(_.seconds)
      Seq(s"${k}_count" -> rs.size, s"${k}_p50_s" -> Stats.median(lat)) ++
        Stats.percentile(lat, 0.9).map(p => s"${k}_p90_s" -> p)
  }
}

object Passes {
  /** Whole passes, numbered from 1, while the next one, as long as the
    * last, still ends within `seconds`; at least one.
    */
  def runFor(w: Workload, seconds: Double, t: Tracer): Passes = {
    val start = System.nanoTime()
    val out = Vector.newBuilder[Seq[OpResult]]
    var n = 1
    var last = 0.0
    while (n == 1 || (System.nanoTime() - start) / 1e9 + last <= seconds) {
      val p0 = System.nanoTime()
      out += t.span("workload", s"pass $n")(w.pass(n, t))
      last = (System.nanoTime() - p0) / 1e9
      n += 1
    }
    Passes(out.result())
  }

  def gcSeconds(): Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
}

/** The end-to-end metrics of an untraced run. */
object EndToEnd {
  def metrics(p: Passes, setupS: Double, w: Workload): Seq[(String, (Double, String))] = {
    val lat = p.ops.filter(o => w.latencyKinds(o.kind)).map(_.seconds)
    val tput = p.ops.filter(o => w.throughputKinds(o.kind))
    Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (Stats.median(p.seconds), "s"),
      "op_p50_s" -> (Stats.median(lat), "s"),
      "rows_per_s" -> (tput.map(_.rows).sum / tput.map(_.seconds).sum, "rows/s"))
  }
}
