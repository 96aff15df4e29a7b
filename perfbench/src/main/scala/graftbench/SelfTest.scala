package graftbench

import java.io.File
import java.nio.file.Files

import graft.operators.SnapshotTable

/** The benchmark's own checks, run by `python3 perfbench/run.py --selftest`. */
object SelfTest {
  def run(bench: File, work: File): Seq[String] = {
    val failures = Seq.newBuilder[String]
    def check(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += what
    }

    // percentiles need ten samples beyond them
    val xs = (1 to 100).map(_.toDouble)
    check(Stats.percentile(xs, 0.9).contains(90.0), "p90 of 100 samples is the 90th")
    check(Stats.percentile(xs.take(99), 0.9).isEmpty, "p90 of 99 samples is withheld")
    check(Stats.percentile(xs.take(40), 0.75).contains(30.0), "p75 of 40 samples is the 30th")
    check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count")

    // the IOS generator is byte-identical for a fixed seed
    def archive(seed: Long, name: String): Map[String, Seq[Byte]] = {
      val d = new File(work, name)
      IosArchive.generate(seed, d)
      d.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val a1 = archive(7, "gen-a")
    check(a1 == archive(7, "gen-b"), "IOS archive is byte-identical for one seed")
    check(a1 != archive(8, "gen-c"), "IOS archive differs for another seed")

    // byte accounting of the table workload on a synthetic layout
    val layout = Map("_versions/v1.json" -> 10L, "_stats/snap-1/part-0" -> 20L,
      "_hashes/snap-1" -> 5L, "snap-1/part-0.parquet" -> 100L, "snap-1/part-1.parquet" -> 50L)
    check(TableCommits.classify(layout) == Map("manifest" -> 10L, "sidecar" -> 25L, "data" -> 150L),
      "table bytes split into manifest, sidecar and data")
    val next = layout - "snap-1/part-1.parquet" + ("_versions/v1.json" -> 12L) + ("snap-2/p.parquet" -> 70L)
    check(TableCommits.newBytes(layout, next) == 82L, "written bytes count new and rewritten files only")

    val spark = Main.session(2, work)
    try {
      val ctx = Ctx(spark, 1L, 2, new File(bench, "data").getAbsolutePath, work)
      val off = new Tracer(spark.sparkContext, enabled = false)

      // write_amp and space_amp on a tiny table: the first commit writes
      // every byte under the root; after an overwrite, space_amp counts
      // only what survives expire and vacuum
      val table = new File(work, "amp-table").getAbsolutePath
      SnapshotTable.write(spark, spark.range(0, 200).selectExpr("id AS k", "id * 3 AS v"), table)
      check(TableCommits.newBytes(Map.empty, TableCommits.listFiles(new File(table))) ==
        Workload.treeBytes(new File(table)), "a first commit writes every byte under the table root")
      SnapshotTable.write(spark, spark.range(500, 800).selectExpr("id AS k", "id * 5 AS v"), table)
      val before = Workload.treeBytes(new File(table))
      val amp = TableCommits.spaceAmp(spark, table)
      val after = Workload.treeBytes(new File(table))
      val plain = new File(work, "amp-plain")
      SnapshotTable.read(spark, table).write.parquet(plain.getAbsolutePath)
      val want = after.toDouble / Workload.treeBytes(plain)
      check(after < before, s"space_amp's vacuum reclaims the overwritten snapshot ($before -> $after bytes)")
      check(math.abs(amp - want) < 0.01 * want, f"space_amp is table bytes over plain parquet bytes ($amp%.3f vs $want%.3f)")
      check(amp > 1.0, "a table costs more than its plain parquet (manifest and sidecars)")

      // a wrong expected row count is reported as a failed operation
      val first = RegistrySweep.readExpected(new File(bench, "registry_sweep.tsv"))
        .collectFirst { case (n, Some(c)) => (n, c) }.get
      val sweep = new RegistrySweep(ctx, Seq(first._1 -> Some(first._2 + 1)))
      sweep.prepare(new File(work, "wrong-count"))
      val planted = sweep.pass(0, off)
      check(planted.size == 1 && planted.head.error.exists(_.contains("DuckDB")),
        s"a planted wrong row count for ${first._1} fails its check")
      val right = new RegistrySweep(ctx, Seq(first._1 -> Some(first._2)))
      right.prepare(new File(work, "right-count"))
      check(right.pass(0, off).forall(_.error.isEmpty), s"the true row count for ${first._1} passes")
    } finally spark.stop()
    failures.result()
  }
}
