package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.operators.ReferencePipeline
import graft.sources.IosFileParser

/** `ios_convert`: a seeded IOS archive (see [[IosArchive]]) parsed on the
  * calling thread, converted by `ReferencePipeline.convertArchive`,
  * standardized again through a full materialization, read back from the
  * converted product, and scanned raw through `format("ios")` with a
  * filename and channel filter. Every result is checked against what the
  * generator wrote.
  */
final class IosConvert(ctx: Ctx) extends Workload with AdaptiveSparkPlanHelper {
  import IosConvert._
  import Workload.expect

  private val spark = ctx.spark
  private var archive: File = _
  private var specs: Seq[IosFileSpec] = Nil
  private var contents: Seq[(String, String)] = Nil
  private var archiveBytes = 0L

  def prepare(dir: File): Unit = {
    archive = new File(dir, "archive")
    specs = IosArchive.generate(ctx.seed, archive)
    contents = specs.map(s => s.name ->
      new String(Files.readAllBytes(new File(archive, s.name).toPath), US_ASCII))
    archiveBytes = Workload.treeBytes(archive)
  }

  val warmupPasses = 0
  val latencyKinds: Set[String] = Set("readback", "fetch")
  val throughputKinds: Set[String] = Set("convert")

  def pass(n: Int, t: Tracer): Seq[OpResult] = {
    val out = new File(ctx.workDir, s"ios-product-$n")
    try run(s"${archive.getAbsolutePath}/*", out, t, specs)
    finally Workload.deleteTree(out)
  }

  private def run(glob: String, out: File, t: Tracer, want: Seq[IosFileSpec]): Seq[OpResult] = {
    val byName = want.map(s => s.name -> s).toMap
    val totalValues = want.map(_.nValues).sum
    val ops = Seq.newBuilder[OpResult]
    def op[T](kind: String, name: String)(work: => T)(check: T => Long): Unit =
      ops += Workload.timed(kind, name)(t.span(Tracer.Op, name)(work))(check)
    def product: DataFrame = spark.read.parquet(out.getAbsolutePath)

    op("parse", "IosFileParser.parse") {
      t.span("sources", "IosFileParser.parse") {
        contents.map { case (n, c) => IosFileParser.parse(n, c) }
      }
    } { parsed =>
      parsed.foreach { p =>
        val s = byName(p.filename)
        expect(p.data.length == s.rows, s"${p.filename}: parsed ${p.data.length} rows, wrote ${s.rows}")
        expect(p.startTimeUtc.contains(s.startUtc),
          s"${p.filename}: parsed start ${p.startTimeUtc}, wrote ${s.startUtc}")
      }
      parsed.map(p => p.data.length.toLong * p.channels.length).sum
    }

    op("convert", "ReferencePipeline.convertArchive") {
      t.span("functions", "ReferencePipeline.convertArchive") {
        ReferencePipeline.convertArchive(spark, glob, out.getAbsolutePath).collect()
      }
    } { summary =>
      expect(summary.length == want.size, s"convertArchive summarised ${summary.length} files, wrote ${want.size}")
      summary.foreach { r =>
        val f = r.getAs[String]("filename")
        val s = byName.getOrElse(f, throw new Workload.CheckFailed(s"unexpected file $f"))
        val got = (r.getAs[Long]("n_values"), r.getAs[Long]("n_nonnull"),
          r.getAs[Long]("n_vars"), r.getAs[String]("geo_code"))
        val exp = (s.nValues, s.nNonNull, s.keptChannels.toLong, s.geoCode)
        expect(got == exp, s"$f: (n_values, n_nonnull, n_vars, geo_code) = $got, expected $exp")
      }
      summary.map(_.getAs[Long]("n_values")).sum
    }

    op("standardize", "ReferencePipeline.standardize") {
      Workload.materialize(t.span("functions", "ReferencePipeline.standardize")(
        ReferencePipeline.standardize(spark, glob)), t)
    } { rows =>
      expect(rows == totalValues, s"standardize produced $rows rows, expected $totalValues")
      rows
    }

    op("readback", "start_times") {
      fetchAll(product.groupBy("filename")
        .agg(min("start_time_utc").as("lo"), max("start_time_utc").as("hi")), t)
    } { got =>
      expect(got.length == want.size, s"start_times saw ${got.length} files, expected ${want.size}")
      got.foreach { r =>
        val s = byName(r.getString(0))
        val (lo, hi) = (r.getTimestamp(1).toInstant, r.getTimestamp(2).toInstant)
        expect(lo == s.startUtc && hi == s.startUtc, s"${s.name}: start_time_utc $lo..$hi, expected ${s.startUtc}")
      }
      got.length.toLong
    }

    op("readback", "class_totals") {
      fetchAll(product.groupBy("var_class").agg(count(lit(1)).as("n"), count("value").as("nn")), t)
    } { got =>
      val (n, nn) = (got.map(_.getLong(1)).sum, got.map(_.getLong(2)).sum)
      val nonNull = want.map(_.nNonNull).sum
      expect(n == totalValues && nn == nonNull, s"class totals ($n, $nn), expected ($totalValues, $nonNull)")
      got.length.toLong
    }

    op("readback", "warm_water") {
      Workload.materialize(product.filter(col("var_class") === "temperature" &&
        col("value") > 10.0).select("filename", "value", "bodc"), t)
    } { rows =>
      val wrote = want.map(_.tempOver10).sum
      expect(rows == wrote, s"temperature > 10: $rows rows, wrote $wrote")
      rows
    }

    op("readback", "series_end") {
      fetchAll(product.filter(col("obs_time_utc").isNotNull).groupBy("filename")
        .agg(max("obs_time_utc").as("last")), t)
    } { got =>
      val series = want.count(_.dtSeconds.nonEmpty)
      expect(got.length == series, s"series_end saw ${got.length} series, wrote $series")
      got.foreach { r =>
        val s = byName(r.getString(0))
        val last = s.startUtc.plusSeconds(s.dtSeconds.get.toLong * (s.rows - 1))
        expect(r.getTimestamp(1).toInstant == last, s"${s.name}: last obs ${r.getTimestamp(1)}, expected $last")
      }
      got.length.toLong
    }

    // one profile fetched back at a time, as a viewer would
    want.filter(_.kind == "ctd").take(FetchesPerPass).foreach { s =>
      op("fetch", "profile") {
        Workload.materialize(product.filter(col("filename") === s.name), t)
      } { rows =>
        expect(rows == s.nValues, s"${s.name}: fetched $rows values, expected ${s.nValues}")
        rows
      }
    }

    val prefix = "2017-"
    op("v2_scan", "format(ios)") {
      val df = t.span("sources", "IosDataSource.scan") {
        spark.read.format("ios").load(glob)
          .filter(col("filename").startsWith(prefix) && col("channel_name") === "Pressure")
      }
      (df, Workload.materialize(df, t))
    } { case (df, rows) =>
      val hit = want.filter(_.name.startsWith(prefix)).map(_.rows.toLong).sum
      expect(rows == hit, s"format(ios) $prefix* Pressure: $rows rows, expected $hit")
      val parts = collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b.inputPartitions.size }.sum
      v2FilesRead = parts.toDouble / want.size
      rows
    }
    ops.result()
  }

  /** Files the filtered `format("ios")` scan opened, as a share of the archive. */
  private var v2FilesRead = 0.0

  private def fetchAll(df: DataFrame, t: Tracer): Array[org.apache.spark.sql.Row] = {
    val qe = df.queryExecution
    t.span("catalyst", "optimize")(qe.optimizedPlan)
    t.span("catalyst", "plan")(qe.executedPlan)
    t.span(Tracer.Execution, "run")(df.collect())
  }

  def info(p: Passes): Seq[(String, Any)] = Seq(
    "archive_files" -> specs.size,
    "archive_bytes" -> archiveBytes,
    "archive_values" -> specs.map(_.nValues).sum,
    "archive_kinds" -> specs.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.size}" }.mkString(" "),
    "v2_files_read_frac" -> v2FilesRead,
    "parse_mb_per_s" -> archiveBytes / 1e6 / p.ops.filter(_.kind == "parse").map(_.seconds).sum * p.passes.size,
    "values_converted_per_s" -> p.ops.filter(_.kind == "convert").map(_.rows).sum /
      p.ops.filter(_.kind == "convert").map(_.seconds).sum)
}

object IosConvert {
  /** Enough fetches that `op_p50_s`, the median over read-backs and
    * fetches, is a fetch from after the first ones of the run, which still
    * pay their JIT and codegen warm-up.
    */
  val FetchesPerPass = 20
}
