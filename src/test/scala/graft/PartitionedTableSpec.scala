package graft

import org.apache.spark.sql.functions._

/** Identity-partitioned SnapshotTable pins: Hive-layout staging
  * (snap dir &gt; k=v subdirs &gt; part files), partition-directory pruning in readWhere
  * (the skip-the-subtree-without-listing-it contract), basePath leaf
  * scans restoring partition columns after file pruning, layout
  * preservation through compact / merge-on-read, and the
  * partitioning-is-a-table-contract errors.
  */
class PartitionedTableSpec extends SparkSpec {

  import graft.operators.SnapshotTable

  /** Bytes the plan's scans were BUILT over (the Round13Spec audit):
    * sum of leaf-relation sizes in the optimized plan — what file
    * pruning changes.
    */
  private def scanBytes(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes.toLong).sum

  /** ~1 KB of low-compressibility text per row so payload bytes dwarf
    * metadata in the bytes audits.
    */
  private def blob(i: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 32).map { j =>
      md.digest(s"$i:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.mkString
  }

  private def docs(n: Int, langs: Seq[String]) = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, langs(i % langs.size), i % 7, s"${blob(i)}#$i")
    }.toDF("doc_id", "lang", "bucket", "text")
  }

  private def partDirsOf(path: String, dir: String): Seq[String] = {
    val d = new java.io.File(path, dir)
    d.listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted
  }

  test("partitioned ingest stages Hive layout; reads restore declared column order and content") {
    val path = tmp("graft-part")
    val d = docs(120, Seq("en", "fr", "de"))
    SnapshotTable.ingest(spark, d.filter(col("doc_id") < 60), path, "text",
      expectedItems = 10000L, statsCols = Seq("doc_id"),
      partitionCols = Seq("lang"))
    SnapshotTable.ingest(spark, d.filter(col("doc_id") >= 60), path, "text",
      expectedItems = 10000L)
    // physical layout: every snapshot dir is lang=... subdirs, no loose files
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-")).map(_.getName)
    assert(dirs.length == 2)
    dirs.foreach { sd =>
      val parts = partDirsOf(path, sd)
      assert(parts == Seq("lang=de", "lang=en", "lang=fr"), s"$sd -> $parts")
      assert(!new java.io.File(path, sd).listFiles().exists(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")))
    }
    val back = SnapshotTable.read(spark, path)
    // declared order survives discovery's reorder
    assert(back.columns.toSeq == Seq("doc_id", "lang", "bucket", "text"))
    assert(back.count() == 120)
    assert(back.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("en" -> 40, "fr" -> 40, "de" -> 40))
    // content identical to the source, partition values restored exactly
    assert(back.select("doc_id", "lang", "bucket", "text")
      .except(d).isEmpty && d.except(back).isEmpty)
  }

  test("readWhere prunes partition DIRECTORIES before listing files; equality and IN both prune") {
    val path = tmp("graft-ppru")
    val d = docs(300, Seq("en", "fr", "de"))
    SnapshotTable.ingest(spark, d.filter(col("doc_id") < 150), path, "text",
      expectedItems = 10000L, statsCols = Seq("doc_id"), partitionCols = Seq("lang"))
    SnapshotTable.ingest(spark, d.filter(col("doc_id") >= 150), path, "text",
      expectedItems = 10000L)
    val (en, rep) = SnapshotTable.readWhereReport(spark, path, col("lang") === "en")
    // 2 snapshot dirs × 3 partition dirs examined; only lang=en descended
    assert(rep.nPartDirsTotal == 6 && rep.nPartDirsKept == 2, rep)
    assert(en.count() == 100)
    assert(en.filter(col("lang") =!= "en").isEmpty)
    // bytes audit: the planned scan covers ~1/3 of the full table
    val full = SnapshotTable.read(spark, path)
    assert(scanBytes(en) < scanBytes(full) / 2,
      s"${scanBytes(en)} vs full ${scanBytes(full)}")
    // IN list keeps exactly its members' partitions
    val (two, rep2) = SnapshotTable.readWhereReport(spark, path,
      col("lang").isin("en", "de"))
    assert(rep2.nPartDirsKept == 4, rep2)
    assert(two.count() == 200)
    // the pruned leaf scan must still produce CORRECT partition values
    // (basePath discovery), not nulls
    assert(en.filter(col("lang").isNull).isEmpty)
    assert(en.select("doc_id", "lang", "bucket", "text")
      .except(d.filter(col("lang") === "en")).isEmpty)
  }

  test("partition pruning composes with per-file stats pruning on data columns") {
    val path = tmp("graft-pcomb")
    val d = docs(300, Seq("en", "fr"))
    // three commits over disjoint doc_id ranges -> per-file stats prune
    // across commits; lang prunes across partitions within each
    Seq(col("doc_id") < 100, col("doc_id").between(100, 199), col("doc_id") >= 200)
      .foreach { slice =>
        SnapshotTable.ingest(spark, d.filter(slice), path, "text",
          expectedItems = 10000L, statsCols = Seq("doc_id"),
          partitionCols = Seq("lang"))
      }
    val (got, rep) = SnapshotTable.readWhereReport(spark, path,
      col("lang") === "fr" && col("doc_id") >= 100 && col("doc_id") < 200)
    // partitions: 3 commits × 2 langs examined, only fr descended
    assert(rep.nPartDirsTotal == 6 && rep.nPartDirsKept == 3, rep)
    // files: only the middle commit's fr files survive the stats pass
    assert(rep.nFilesKept < rep.nFilesTotal, rep)
    val expect = d.filter(col("lang") === "fr" &&
      col("doc_id") >= 100 && col("doc_id") < 200)
    assert(got.count() == expect.count())
    assert(got.select("doc_id", "lang", "bucket", "text").except(expect).isEmpty)
  }

  test("null partition values land in the default partition and are pruned by equality, kept correct by isNull") {
    import spark.implicits._
    val path = tmp("graft-pnull")
    val d = (0 until 90).map { i =>
      (i.toLong, if (i % 3 == 0) null else if (i % 3 == 1) "en" else "fr",
        s"${blob(i)}#$i")
    }.toDF("doc_id", "lang", "text")
    SnapshotTable.ingest(spark, d, path, "text", expectedItems = 10000L,
      partitionCols = Seq("lang"))
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-")).map(_.getName)
    assert(partDirsOf(path, dirs.head)
      .contains("lang=__HIVE_DEFAULT_PARTITION__"))
    val (en, rep) = SnapshotTable.readWhereReport(spark, path, col("lang") === "en")
    // en survives; fr and the null partition are both pruned
    assert(rep.nPartDirsTotal == 3 && rep.nPartDirsKept == 1, rep)
    assert(en.count() == 30 && en.filter(col("lang") =!= "en").isEmpty)
    // isNull is not an extractable range: no pruning, answer still exact
    val (nulls, repN) = SnapshotTable.readWhereReport(spark, path, col("lang").isNull)
    assert(repN.nPartDirsKept == repN.nPartDirsTotal, repN)
    assert(nulls.count() == 30)
    assert(nulls.filter(col("lang").isNotNull).isEmpty)
  }

  test("numeric partition columns prune by range; multi-level partitioning recurses") {
    val path = tmp("graft-pnum")
    val d = docs(240, Seq("en", "fr"))
    SnapshotTable.ingest(spark, d, path, "text", expectedItems = 10000L,
      partitionCols = Seq("lang", "bucket"))
    // layout: snap-* / lang=en / bucket=0 / part-*
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-")).map(_.getName)
    val langs = partDirsOf(path, dirs.head)
    assert(langs == Seq("lang=en", "lang=fr"))
    assert(partDirsOf(path, dirs.head + "/lang=en").forall(_.startsWith("bucket=")))
    val (got, rep) = SnapshotTable.readWhereReport(spark, path,
      col("lang") === "en" && col("bucket") >= 5)
    // 2 lang dirs examined -> 1 kept; its 7 bucket dirs examined -> 2 kept
    assert(rep.nPartDirsTotal == 2 + 7 && rep.nPartDirsKept == 1 + 2, rep)
    val expect = d.filter(col("lang") === "en" && col("bucket") >= 5)
    assert(got.count() == expect.count())
    assert(got.select("doc_id", "lang", "bucket", "text").except(expect).isEmpty)
  }

  test("compact preserves partitioning and pruning; read identical after the rewrite") {
    val path = tmp("graft-pcomp")
    val d = docs(200, Seq("en", "fr", "de"))
    Seq(col("doc_id") < 100, col("doc_id") >= 100).foreach { slice =>
      SnapshotTable.ingest(spark, d.filter(slice), path, "text",
        expectedItems = 10000L, statsCols = Seq("doc_id"),
        partitionCols = Seq("lang"))
    }
    val before = SnapshotTable.read(spark, path).collect().toSet
    SnapshotTable.compact(spark, path, textCol = Some("text"),
      expectedItems = 10000L)
    val m = SnapshotTable.versions(spark, path)
    assert(m.last == 3L)
    // single compacted dir, still Hive layout
    val cur = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-00000003")).map(_.getName)
    assert(cur.length == 1)
    assert(partDirsOf(path, cur.head) == Seq("lang=de", "lang=en", "lang=fr"))
    assert(SnapshotTable.read(spark, path).collect().toSet == before)
    // partition pruning still plans on the compacted snapshot
    val (en, rep) = SnapshotTable.readWhereReport(spark, path, col("lang") === "en")
    assert(rep.nPartDirsTotal == 3 && rep.nPartDirsKept == 1, rep)
    assert(en.count() == d.filter(col("lang") === "en").count())
    // and the next ingest's dedup gate still works over the repaired sidecars
    val again = SnapshotTable.ingest(spark, d.limit(50), path, "text",
      expectedItems = 10000L)
    assert(again.nNew == 0, again)
  }

  test("merge-on-read on a partitioned table: partitioned delta dir, masked reads exact") {
    import spark.implicits._
    val path = tmp("graft-pmor")
    val d = docs(120, Seq("en", "fr"))
    SnapshotTable.ingest(spark, d, path, "text", expectedItems = 10000L,
      partitionCols = Seq("lang"))
    val changes = Seq(
      (5L, "en", 0, s"${blob(5005)}#u5", false),
      (7L, "fr", 0, s"${blob(7007)}#u7", false),
      (11L, "en", 0, "", true),
      (13L, "fr", 0, "", true)
    ).toDF("doc_id", "lang", "bucket", "text", "__del")
    SnapshotTable.mergeOnRead(spark, changes, path, "doc_id",
      deleteCol = Some("__del"))
    val got = SnapshotTable.read(spark, path)
    assert(got.count() == 118)
    assert(got.filter(col("doc_id").isin(11L, 13L)).isEmpty)
    assert(got.filter(col("doc_id") === 5L).select("text").as[String].head()
      .endsWith("#u5"))
    // the MOR delta dir is itself Hive-partitioned
    val delta = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-00000002")).map(_.getName)
    assert(delta.length == 1)
    assert(partDirsOf(path, delta.head).forall(_.startsWith("lang=")))
    // pruned reads over the overlay stay exact per partition: doc 5 was
    // an fr row upserted INTO en (old fr copy masked, new en copy in the
    // delta), 11/13 were fr rows deleted — en gains one, fr loses three
    val (en, rep) = SnapshotTable.readWhereReport(spark, path, col("lang") === "en")
    assert(rep.nPartDirsKept < rep.nPartDirsTotal, rep)
    assert(en.count() == 61)
    assert(en.filter(col("doc_id") === 5L).select("text").as[String].head()
      .endsWith("#u5"))
    val fr = SnapshotTable.readWhere(spark, path, col("lang") === "fr")
    assert(fr.count() == 57)
    assert(fr.filter(col("doc_id").isin(5L, 11L, 13L)).isEmpty)
  }

  test("partitioning is a table contract: mismatched restatement, unknown and all-column specs fail loudly; write may redefine") {
    val path = tmp("graft-perr")
    val d = docs(60, Seq("en", "fr"))
    SnapshotTable.ingest(spark, d.filter(col("doc_id") < 30), path, "text",
      expectedItems = 10000L, partitionCols = Seq("lang"))
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.ingest(spark, d.filter(col("doc_id") >= 30), path, "text",
        expectedItems = 10000L, partitionCols = Seq("bucket"))
    }
    assert(e1.getMessage.contains("committed partitioning"))
    assert(SnapshotTable.versions(spark, path) == Seq(1L))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.ingest(spark, d, tmp("graft-perr2"), "text",
        expectedItems = 10000L, partitionCols = Seq("nope"))
    }
    assert(e2.getMessage.contains("not in schema"))
    val e3 = intercept[IllegalArgumentException] {
      SnapshotTable.write(spark,
        d.select("lang", "bucket"), tmp("graft-perr3"),
        partitionCols = Seq("lang", "bucket"))
    }
    assert(e3.getMessage.contains("no data columns"))
    // write = full rewrite: allowed to redefine the layout (lang -> bucket);
    // a plain overwrite (Nil) would inherit, like the stats config
    SnapshotTable.write(spark, d, path, partitionCols = Seq("bucket"))
    val dirs2 = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-00000002")).map(_.getName)
    assert(dirs2.length == 1)
    assert(partDirsOf(path, dirs2.head).forall(_.startsWith("bucket=")))
    assert(SnapshotTable.read(spark, path).count() == 60)
    val (got, rep) = SnapshotTable.readWhereReport(spark, path, col("bucket") === 3)
    assert(rep.nPartDirsTotal == 7 && rep.nPartDirsKept == 1, rep)
    assert(got.count() == d.filter(col("bucket") === 3).count())
  }
}
