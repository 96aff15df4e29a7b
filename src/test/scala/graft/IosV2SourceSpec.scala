package graft

import graft.sources.IosReader
import org.apache.spark.sql.functions._

/** The DSv2 `ios` format must agree with the mapPartitions reader and
  * prune columns at the source. Reads the IOS fixture corpus
  * (src/test/resources/ios/; `ctd_profile/` holds six files).
  */
class IosV2SourceSpec extends SparkSpec {

  private val base = IosFixtures.base

  test("v2 source rows equal IosReader.observations") {
    // non-ASCII header bytes (UTF-8 `°`, `é`) decode alike in both readers
    val utf8 = java.nio.file.Paths.get(tmp("graft-ios-utf8"))
    java.nio.file.Files.write(utf8.resolve("utf8.ctd"),
      """*IOS HEADER VERSION 2.0
        |*FILE
        |    START TIME          : UTC 2020/01/01 00:00:00.000
        |    TIME INCREMENT      : 0 0 1 0 0
        |    NUMBER OF RECORDS   : 2
        |    $TABLE: CHANNELS
        |    ! No Name         Units  Minimum  Maximum
        |    !--- ------------ ------ -------- --------
        |       1 Temperature  °C     0        10
        |       2 Salinité     PSU    0        40
        |    $END
        |*END OF HEADER
        |  1.0  30.5
        |  3.0  31.5
        |""".stripMargin.getBytes("UTF-8"))
    for (glob <- Seq(s"$base/bot/1990-033-0002.che",
      s"$base/ctd_mooring/a1_20080429_20080518_0034m.ctd", s"$utf8/*.ctd")) {
      val v2 = spark.read.format("graft.sources.v2.IosDataSource").load(glob)
        .orderBy("filename", "row_idx", "channel_no").collect()
      val v1 = IosReader.observations(spark, glob)
        .select(v2.head.schema.fieldNames.toIndexedSeq.map(col): _*)
        .orderBy("filename", "row_idx", "channel_no").collect()
      assert(v2.length == v1.length && v2.length > 0)
      v2.zip(v1).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    }
    assert(spark.read.format("ios").load(s"$utf8/*.ctd").select("units").distinct()
      .collect().map(_.getString(0)).toSet == Set("°C", "PSU"))
  }

  test("a path that matches no file fails in both readers, naming it") {
    val missing = s"$base/no_such_dir/*.ctd"
    for (read <- Seq[() => Unit](
        () => spark.read.format("ios").load(missing).collect(),
        () => IosReader.observations(spark, missing).collect())) {
      val e = intercept[org.apache.spark.sql.AnalysisException](read())
      assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
      assert(e.getMessage.contains("no_such_dir/*.ctd"), e.getMessage)
    }
    // a directory is no file either: the v2 source refuses it by name
    // rather than scan nothing
    val dir = intercept[IllegalArgumentException](
      spark.read.format("ios").load(s"$base/ctd_profile").collect())
    assert(dir.getMessage.contains("ctd_profile"), dir.getMessage)
  }

  test("source-level column pruning reaches the scan") {
    val df = spark.read.format("graft.sources.v2.IosDataSource").load(s"$base/ctd_profile/*.ctd")
      .select("channel_name", "value")
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("columns=channel_name,value"), scanDesc)
    assert(df.distinct().count() > 0)
  }

  test("glob expands to one partition per file") {
    val df = spark.read.format("graft.sources.v2.IosDataSource").load(s"$base/ctd_profile/*.ctd")
    assert(df.rdd.getNumPartitions == 6)
  }

  test("filename filter prunes whole files at planning time") {
    val all = spark.read.format("graft.sources.v2.IosDataSource")
      .load(s"$base/ctd_profile/*.ctd")
    val one = all.filter(col("filename") === "2017-020-0474.ctd")
    // partition count == surviving file count: the excluded files are
    // never opened, the V2 equivalent of partition pruning
    assert(one.rdd.getNumPartitions == 1,
      s"expected 1 partition, got ${one.rdd.getNumPartitions}")
    // and the filter stays a residual: results equal the unpruned path
    val expect = all.collect().filter(_.getAs[String]("filename") == "2017-020-0474.ctd")
    assert(one.count() == expect.length && expect.nonEmpty)
  }

  test("runtime In filter on filename prunes partitions after planning") {
    import graft.sources.v2.{IosScan, IosTable}
    import org.apache.spark.sql.sources.In
    val scan = new IosScan(Seq(s"$base/ctd_profile/*.ctd"),
      IosTable.fullSchema, Array.empty)
    assert(scan.planInputPartitions().length == 6)
    assert(scan.filterAttributes().map(_.describe())
      .sameElements(Array("filename", "channel_name")))
    // Spark delivers the join build side's keys like this at runtime
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("filename",
      Array("2017-020-0474.ctd", "2017-23-0042.ctd"))))
    assert(scan.planInputPartitions().length == 2,
      "runtime key set must prune the file list before any open")
  }

  test("runtime channel key set reaches the reader and cuts materialized rows") {
    import graft.sources.v2.{IosFilePartition, IosScan, IosTable}
    import org.apache.spark.sql.sources.In
    val scan = new IosScan(Seq(s"$base/ctd_profile/2017-020-0474.ctd"),
      IosTable.fullSchema, Array.empty)
    def countRows(s: IosScan): Int = {
      val factory = s.createReaderFactory()
      s.planInputPartitions().map { part =>
        val r = factory.createReader(part)
        var n = 0
        while (r.next()) n += 1
        r.close(); n
      }.sum
    }
    val all = countRows(scan)
    // a selective join's build side delivers two channel names
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("channel_name", Array("Depth", "Temperature:Primary"))))
    val pruned = countRows(scan)
    // 12 channels in the file → exactly 2/12 of the rows materialize
    assert(all > 0 && pruned == all / 12 * 2,
      s"runtime channel filter must cut the reader's rows: $pruned of $all")
  }

  test("bloom-join pushdown prunes files and channels without false drops") {
    import graft.sources.v2.IosBloom
    import spark.implicits._
    // file-level: the build side is a 2-file mission manifest
    val manifest = Seq("2017-020-0474.ctd", "2017-23-0042.ctd").toDF("filename")
    val fb = IosBloom.buildOption(manifest, "filename", expectedItems = 100L)
    val files = spark.read.format("graft.sources.v2.IosDataSource")
      .option(IosBloom.FilenameOption, fb)
      .load(s"$base/ctd_profile/*.ctd")
    // both manifest files survive (no false negatives, bloom-exact here)
    assert(files.rdd.getNumPartitions == 2,
      s"expected the 2 manifest files, got ${files.rdd.getNumPartitions} partitions")
    assert(files.select("filename").distinct().collect()
      .map(_.getString(0)).sorted.sameElements(
        Array("2017-020-0474.ctd", "2017-23-0042.ctd")))

    // channel-level: a channel whitelist cuts rows before they expand
    val whitelist = Seq("Depth").toDF("channel_name")
    val cb = IosBloom.buildOption(whitelist, "channel_name", expectedItems = 100L)
    val glob = s"$base/ctd_profile/2017-020-0474.ctd"
    val allRows = spark.read.format("graft.sources.v2.IosDataSource").load(glob).count()
    val bloomed = spark.read.format("graft.sources.v2.IosDataSource")
      .option(IosBloom.ChannelOption, cb)
      .load(glob)
    // 12 channels → only the whitelisted one's rows materialize
    assert(bloomed.count() == allRows / 12,
      s"expected ${allRows / 12} rows, got ${bloomed.count()}")
    assert(bloomed.select("channel_name").distinct().collect()
      .map(_.getString(0)).sameElements(Array("Depth")))
    // and the scan advertises the bloom
    assert(bloomed.queryExecution.executedPlan.toString.contains("channelBloom"))
  }

  test("channel filter drops channels before rows materialize") {
    val glob = s"$base/ctd_profile/2017-020-0474.ctd"
    val all = spark.read.format("graft.sources.v2.IosDataSource").load(glob)
    val depthOnly = all.filter(col("channel_name") === "Depth")
    val expect = all.collect().filter(_.getAs[String]("channel_name") == "Depth")
    assert(depthOnly.count() == expect.length && expect.nonEmpty)
    // pushed filter is visible in the scan description
    val desc = depthOnly.queryExecution.executedPlan.toString
    assert(desc.contains("pushed=[") && desc.contains("channel_name"), desc.take(800))
  }
}
