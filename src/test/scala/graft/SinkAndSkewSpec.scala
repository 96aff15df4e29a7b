package graft

import graft.functions.Seawater
import graft.operators.{Sink, SkewJoin}
import org.apache.spark.sql.functions._

/** Sinks (parquet/ORC/bucketed), salted skew join, and seawater formula
  * check values.
  */
class SinkAndSkewSpec extends SparkSpec {
  import spark.implicits._

  test("PSS-78: C(35,15,0) conductivity gives SP = 35") {
    val sp = Seq((Seawater.c35150, 15.0, 0.0)).toDF("c", "t", "p")
      .select(Seawater.spFromC(col("c"), col("t"), col("p")).as("sp"))
      .as[Double].head()
    // the published constants give rt(15) ≈ 1 - 7.6e-8, so 1e-6 is the
    // formula's own fidelity, not ours
    assert(math.abs(sp - 35.0) < 1e-6, s"got $sp")
  }

  test("PSS-78 is monotone in conductivity at fixed T,P") {
    val sps = Seq(30.0, 35.0, 40.0, 45.0).map { c =>
      Seq((c, 10.0, 100.0)).toDF("c", "t", "p")
        .select(Seawater.spFromC(col("c"), col("t"), col("p")).as("sp"))
        .as[Double].head()
    }
    assert(sps == sps.sorted)
    assert(sps.head > 20 && sps.last < 45) // plausible ocean range
  }

  test("EOS-80 sigma-t check values") {
    val rows = Seq((35.0, 5.0), (0.0, 5.0)).toDF("s", "t")
      .select(Seawater.sigmaT(col("s"), col("t")).as("st")).as[Double].collect()
    assert(math.abs(rows(0) - 27.67547) < 2e-5, s"got ${rows(0)}")
    assert(math.abs(rows(1) - -0.03325) < 2e-5, s"got ${rows(1)}")
  }

  test("Mackenzie sound speed check value") {
    val c = Seq((25.0, 35.0, 1000.0)).toDF("t", "s", "d")
      .select(Seawater.soundSpeed(col("t"), col("s"), col("d")).as("c"))
      .as[Double].head()
    assert(math.abs(c - 1550.744) < 0.01, s"got $c")
  }

  test("UNESCO potential temperature check value and identity") {
    // Fofonoff & Millard (1983) check value: θ(40, 40, 10000 dbar → 0) =
    // 36.89073 °C. At p = pr the adiabatic correction vanishes: θ = t.
    val th = Seq((40.0, 40.0, 10000.0, 0.0)).toDF("s", "t", "p", "pr")
      .select(Seawater.potentialTemp(col("s"), col("t"), col("p"), col("pr")).as("th"))
      .as[Double].head()
    assert(math.abs(th - 36.89073) < 1e-5, s"got $th")
    val same = Seq((35.0, 10.0, 500.0, 500.0)).toDF("s", "t", "p", "pr")
      .select(Seawater.potentialTemp(col("s"), col("t"), col("p"), col("pr")).as("th"))
      .as[Double].head()
    assert(math.abs(same - 10.0) < 1e-12, s"got $same")
  }

  test("stepped potential temperature matches the one-expression form") {
    val df = Seq((34.5, 8.0, 3000.0), (30.0, 25.0, 150.0), (38.0, 2.0, 9000.0))
      .toDF("s", "t", "p")
    val oneExpr = df.select(
      Seawater.potentialTemp(col("s"), col("t"), col("p"), lit(0.0)).as("th"))
      .as[Double].collect().toSeq
    val stepped = Seawater.withPotentialTemp(df, col("s"), col("t"), col("p"), 0.0, "th")
      .select("th").as[Double].collect().toSeq
    // same stages, different materialization — must agree to the last bit
    assert(oneExpr == stepped)
    // and the stepped SQL twin parses and agrees too (small enough now)
    df.createOrReplaceTempView("ptmp_probe")
    val sqlSide = spark.sql(
      "SELECT th FROM (" + Seawater.ptmpStepSql("ptmp_probe", "s", "t", "p", 0.0, "th") + ")")
      .as[Double].collect().toSeq
    assert(oneExpr == sqlSide)
  }

  test("salted join equals plain join") {
    val big = Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
    val small = Tables.load(spark, sfDir, "orders").select("o_orderkey", "o_orderstatus")
    val plain = big.join(small, big("l_orderkey") === small("o_orderkey"))
      .groupBy("o_orderstatus").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = SkewJoin.saltedInnerJoin(
      big, small.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", 8)
      .groupBy("o_orderstatus").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(plain == salted)
  }

  test("partitioned parquet and ORC sinks round-trip with pruning columns") {
    val li = Tables.load(spark, sfDir, "lineitem")
    for (fmt <- Seq("parquet", "orc")) {
      val out = tmp(s"sink_$fmt")
      Sink.writePartitioned(li, out, fmt, Seq("l_returnflag"), Seq("l_shipdate"))
      val back = spark.read.format(fmt).load(out)
      assert(back.count() == li.count())
      assert(back.filter(col("l_returnflag") === "R").count() ==
        li.filter(col("l_returnflag") === "R").count())
    }
  }

  test("compact rewrites fragmented output into size-targeted files") {
    val out = tmp("compact_test")
    val li = Tables.load(spark, sfDir, "lineitem")
    // fragment: 64 tiny files
    li.repartition(64).write.mode("overwrite").parquet(out)
    // multiset compare: the table has no unique key, so row ORDER after
    // any rewrite is arbitrary — content equality is the contract
    val before = li.collect().map(_.toString).sorted
    val stats = Sink.compact(spark, out, "parquet",
      targetFileBytes = 256L * 1024, sortCols = Seq("l_shipdate"))
    assert(stats.filesBefore == 64, s"expected 64 fragments, saw ${stats.filesBefore}")
    assert(stats.filesAfter < stats.filesBefore,
      s"compaction must reduce file count: ${stats.filesAfter}")
    val after = spark.read.parquet(out).collect().map(_.toString).sorted
    assert(after.length == before.length)
    assert(after.sameElements(before), "compaction changed row content")
  }

  test("snapshot table: compaction is an atomic commit; pinned readers see old-or-new, never a mix") {
    import graft.operators.SnapshotTable
    val path = tmp("snap_table")
    val root = new org.apache.hadoop.fs.Path(path)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    val li = Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
    val v1 = SnapshotTable.write(spark, li.repartition(16), path)
    assert(v1 == 1L)

    // reader resolves the v1 manifest NOW — pinned to snap-00000001
    val pinned = SnapshotTable.read(spark, path)
    val before = pinned.collect().map(_.toString).sorted

    val stats = SnapshotTable.compact(spark, path, targetFileBytes = 64L * 1024 * 1024)
    assert(stats.filesBefore == 16 && stats.filesAfter < 16)
    assert(SnapshotTable.currentVersion(spark, path).contains(2L))

    // mid-swap isolation: the pinned reader still reads ONLY snap-1 files
    // (file-level proof, not just row equality), and the fresh reader
    // reads ONLY snap-2 files — entirely-old or entirely-new, no mix
    val pinnedFiles = pinned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(pinnedFiles.nonEmpty && pinnedFiles.forall(_.contains("snap-00000001")),
      s"pinned reader leaked into a newer snapshot: ${pinnedFiles.take(3).mkString(",")}")
    assert(pinned.collect().map(_.toString).sorted.sameElements(before))
    val fresh = SnapshotTable.read(spark, path)
    val freshFiles = fresh.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(freshFiles.nonEmpty && freshFiles.forall(_.contains("snap-00000002")))
    assert(fresh.collect().map(_.toString).sorted.sameElements(before),
      "compaction commit changed row content")

    // retention: expire(keep=1) drops snap-1; the current snapshot reads on
    assert(SnapshotTable.expire(spark, path, keep = 1) == 1)
    // staged dirs carry a unique suffix — prove deletion by prefix listing
    val v1Dirs = hfs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("snap-00000001"))
    assert(v1Dirs.isEmpty, s"expire left v1 dirs: ${v1Dirs.mkString(",")}")
    assert(SnapshotTable.read(spark, path).count() == before.length)
  }

  test("z-order interleaves bits correctly and clusters files") {
    import graft.operators.ZOrder
    // interleave(x=3 (011), y=5 (101)) with 3 bits:
    // bit0: x0=1->pos0, y0=1->pos1; bit1: x1=1->pos2, y1=0; bit2: x2=0, y2=1->pos5
    // = 1 + 2 + 4 + 32 = 39
    val z = Seq((3, 5)).toDF("x", "y")
      .select(ZOrder.zValue(Seq(col("x"), col("y")), 3).as("z"))
      .as[Long].head()
    assert(z == 39L, s"got $z")

    val li = Tables.load(spark, sfDir, "lineitem")
    val out = tmp("zorder")
    ZOrder.writeClustered(li, out, "parquet",
      Seq("l_partkey", "l_suppkey"), bits = 12, numFiles = 4)
    val back = spark.read.parquet(out)
    assert(back.count() == li.count())
    // files cover disjoint z ranges: per-file (min,max) of recomputed z
    val ranges = back
      .withColumn("f", input_file_name())
      .withColumn("z", ZOrder.zValue(Seq(col("l_partkey"), col("l_suppkey")), 12))
      .groupBy("f").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlapping z ranges")
      case _ =>
    }
  }

  test("bucketed table co-locates the join key") {
    Sink.writeBucketed(
      Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity"),
      "graft_li_bucketed", tmp("graft_li_bucketed"), "parquet", "l_orderkey", 4)
    val t = spark.table("graft_li_bucketed")
    assert(t.count() > 0)
    // aggregation on the bucket key must not need a shuffle
    val plan = t.groupBy("l_orderkey").count().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$plan")
  }
}
