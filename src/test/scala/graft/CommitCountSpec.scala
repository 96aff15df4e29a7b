package graft

import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.operators.SnapshotTable

/** Commits learn their row counts from their own write job: the count a
  * write returns equals a re-read of what it wrote, the op stats built
  * on it keep their values, commits launch no parquet schema-inference
  * job, every commit job is described, and the one-job bloom is
  * byte-identical to `stat.bloomFilter`.
  */
class CommitCountSpec extends SparkSpec {

  private def jobsOf[T](body: => T) = JobProbe.jobsOf(spark)(body)

  private def docs(ks: Seq[Long]): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, s"t-$k", k % 3)).toDF("k", "text", "g")
  }

  test("saveCounted returns the rows its write wrote: empty, partitioned, hash-clustered, joined") {
    import spark.implicits._
    val base = tmp("graft-save-counted")
    def check(name: String, df: DataFrame, parts: Seq[String], want: Long): Unit = {
      val dest = s"$base/$name"
      val n = GraftSqlShim.saveCounted(df, "parquet", parts, dest)
      assert(n == want, s"$name: write counted $n, want $want")
      val back = spark.read.schema(df.schema).parquet(dest).count()
      assert(n == back, s"$name: write counted $n, re-read $back")
    }
    val some = docs(1L to 40L)
    check("empty", some.filter(lit(false)), Nil, 0L)
    check("empty-partitioned", some.filter(lit(false)), Seq("g"), 0L)
    check("plain", some, Nil, 40L)
    check("partitioned", some, Seq("g"), 40L)
    // the write's child shuffles: the command sits under a result stage
    check("hash-clustered", some.repartition(col("g")), Seq("g"), 40L)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val right = (1L to 40L by 2).map(k => (k, k * 10)).toDF("k", "v")
      check("joined", some.join(right, Seq("k"), "left_anti"), Nil, 20L)
      check("joined-partitioned", some.join(right, Seq("k")), Seq("g"), 20L)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("op counts from the write equal a re-read: empty, hash distribution, drop constraint, merge, _posdel") {
    // zero-row ingests create empty tables, partitioned or not
    val empty = tmp("graft-count-empty")
    assert(SnapshotTable.ingest(spark, docs(Nil), empty, "text").nNew == 0L)
    assert(SnapshotTable.read(spark, empty).count() == 0L)
    val emptyP = tmp("graft-count-empty-p")
    assert(SnapshotTable.ingest(spark, docs(Nil), emptyP, "text",
      partitionCols = Seq("g")).nNew == 0L)
    assert(SnapshotTable.read(spark, emptyP).count() == 0L)
    // a hash-distributed partitioned ingest
    val hashed = tmp("graft-count-hash")
    spark.conf.set("spark.graft.write.distribution", "hash")
    val st =
      try SnapshotTable.ingest(spark, docs(1L to 30L), hashed, "text", partitionCols = Seq("g"))
      finally spark.conf.unset("spark.graft.write.distribution")
    assert(st.nNew == 30L && SnapshotTable.read(spark, hashed).count() == 30L, st)
    // a drop-mode constraint filters inside the write: the count is post-filter
    SnapshotTable.addConstraint(spark, hashed, "small_k", "k <= 40", mode = "drop")
    val st2 = SnapshotTable.ingest(spark, docs(31L to 50L), hashed, "text")
    assert(st2.nIncoming == 10L && st2.nNew == 10L, st2)
    assert(SnapshotTable.read(spark, hashed).count() == 40L)
    // merge: the write's child is a left_anti join under AQE (the drop
    // constraint gates the change batch too: 60 never lands)
    val merged = SnapshotTable.merge(spark,
      docs(Seq(5L, 60L)).withColumn("del", lit(false)), hashed, "k",
      deleteCol = Some("del"))
    assert(merged.rowsAfter == SnapshotTable.read(spark, hashed).count(), merged)
    assert(merged.rowsAfter == 40L, merged)
    // the positional-delete sidecar's count is its own write's
    val pd = SnapshotTable.deleteWherePositional(spark, hashed, col("k") <= 3)
    val m = SnapshotTable.readManifestChecked(spark, hashed, pd.version)
    assert(pd.nDeleted == 3L, pd)
    assert(pd.nDeleted == spark.read.parquet(
      SnapshotTable.posDeletePath(hashed, m.posDeletes.last).toString).count())
    assert(SnapshotTable.read(spark, hashed).count() == 37L)
  }

  test("commit stats keep their values on a planted sequence") {
    import spark.implicits._
    val path = tmp("graft-count-stats")
    val s1 = SnapshotTable.ingest(spark, docs(1L to 10L).drop("g"), path, "text")
    assert(s1 == SnapshotTable.IngestStats(1L, 10L, 10L))
    val s2 = SnapshotTable.ingest(spark, docs(6L to 15L).drop("g"), path, "text")
    assert(s2 == SnapshotTable.IngestStats(2L, 10L, 5L))
    // upsert 3 and 20, delete 5, and a NULL-key insert: 15 - 2 + 3 rows
    val ch = Seq[(java.lang.Long, String, Boolean)]((3L, "new-3", false),
      (20L, "t-20", false), (5L, null, true), (null, "no-key", false))
      .toDF("k", "text", "del")
    assert(SnapshotTable.merge(spark, ch, path, "k", deleteCol = Some("del")) ==
      SnapshotTable.MergeStats(3L, 4L, 3L, 1L, 16L))
    // latest wins per key: 7's winner deletes, 8's upserts
    val ordered = Seq((7L, "a", false, 1), (7L, "b", true, 2), (8L, "c", true, 1),
      (8L, "d", false, 2)).toDF("k", "text", "del", "seq")
    assert(SnapshotTable.merge(spark, ordered, path, "k", deleteCol = Some("del"),
      orderCol = Some("seq")) == SnapshotTable.MergeStats(4L, 2L, 1L, 1L, 15L))
    val dupErr = intercept[IllegalArgumentException](SnapshotTable.merge(spark,
      Seq((9L, "x", false), (9L, "y", false)).toDF("k", "text", "del"), path, "k",
      deleteCol = Some("del")))
    assert(dupErr.getMessage == "duplicate key 9 in merge batch with no orderCol: " +
      "latest-wins needs an ordering column to be well-defined", dupErr.getMessage)
    val mor = Seq((9L, "new-9", false), (10L, null, true), (30L, "t-30", false))
      .toDF("k", "text", "del")
    assert(SnapshotTable.mergeOnRead(spark, mor, path, "k", deleteCol = Some("del")) ==
      SnapshotTable.MergeOnReadStats(5L, 3L, 2L, 1L, 1))
    val morOrdered = Seq((11L, "a", false, 1), (11L, "b", true, 2), (12L, "c", true, 1),
      (12L, "d", false, 2), (31L, "e", false, 1)).toDF("k", "text", "del", "seq")
    assert(SnapshotTable.mergeOnRead(spark, morOrdered, path, "k",
      deleteCol = Some("del"), orderCol = Some("seq")) ==
      SnapshotTable.MergeOnReadStats(6L, 3L, 2L, 1L, 2))
    // a batch that touches nothing commits an audit version
    assert(SnapshotTable.deleteWhere(spark, path, "k", col("k") === 999L) ==
      SnapshotTable.MergeOnReadStats(7L, 0L, 0L, 0L, 2))
    // 13 and 14 live in the second merge's rewrite, the chain's first dir
    val rewrite = SnapshotTable.readManifestChecked(spark, path, 7L).dirs.head
    val touched = spark.read.parquet(s"$path/$rewrite").filter(col("k").between(13L, 14L))
      .select(input_file_name()).distinct().count()
    assert(SnapshotTable.deleteWherePositional(spark, path, col("k").between(13L, 14L)) ==
      SnapshotTable.PosDeleteStats(8L, 2L, touched, committed = true))
    assert(SnapshotTable.deleteWherePositional(spark, path, col("k") === 999L) ==
      SnapshotTable.PosDeleteStats(8L, 0L, 0L, committed = false))
    assert(SnapshotTable.updateWherePositional(spark, path, col("k") === 15L,
      Map("text" -> lit("upd-15"))) == SnapshotTable.PosUpdateStats(9L, 1L, committed = true))
    assert(SnapshotTable.updateWherePositional(spark, path, col("k") === 999L,
      Map("text" -> lit("x"))) == SnapshotTable.PosUpdateStats(9L, 0L, committed = false))
    // 15 after the merges; mor: -10 +30 (9 replaced); -11 +12 (replaced) +31;
    // positional: -13 -14; 15 updated in place
    val keys = SnapshotTable.read(spark, path).select("k").as[java.lang.Long].collect()
      .toSeq.map(Option(_).map(_.toLong))
    assert(keys.sortBy(_.getOrElse(-1L)) == (None +: Seq(1L, 2L, 3L, 4L, 6L, 8L, 9L, 12L,
      15L, 20L, 30L, 31L).map(Some(_))), keys)
  }

  test("append and write on a plain table launch exactly one job each") {
    val path = tmp("graft-count-one-job")
    val (_, w) = jobsOf(SnapshotTable.write(spark, docs(1L to 20L), path))
    assert(w.size == 1, s"write launched ${w.size} jobs: $w")
    val (_, a) = jobsOf(SnapshotTable.append(spark, docs(21L to 30L), path))
    assert(a.size == 1, s"append launched ${a.size} jobs: $a")
    assert(SnapshotTable.read(spark, path).count() == 30L)
  }

  test("no commit op runs a parquet schema-inference job") {
    // the detector is live: a bare load of a parquet dir infers
    val probe = tmp("graft-count-probe")
    docs(1L to 3L).write.mode("overwrite").parquet(probe)
    val (_, inferred) = jobsOf(spark.read.parquet(probe))
    assert(inferred.exists(_.infersSchema), s"inference job not recognized: $inferred")

    import spark.implicits._
    val path = tmp("graft-count-no-infer")
    val ops: Seq[(String, () => Any)] = Seq(
      "write" -> (() => SnapshotTable.write(spark, docs(1L to 20L), path, statsCols = Seq("k"))),
      "append" -> (() => SnapshotTable.append(spark, docs(21L to 30L), path)),
      "ingest" -> (() => SnapshotTable.ingest(spark, docs(25L to 40L), path, "text")),
      "merge" -> (() => SnapshotTable.merge(spark,
        docs(Seq(2L, 50L)).withColumn("del", lit(false)), path, "k",
        deleteCol = Some("del"), textCol = Some("text"))),
      "append 2" -> (() => SnapshotTable.append(spark, docs(70L to 72L), path)),
      "compactSmall" -> (() => SnapshotTable.compactSmall(spark, path)),
      "mergeOnRead" -> (() => SnapshotTable.mergeOnRead(spark,
        Seq((3L, "u-3", 0L, false), (4L, null, 1L, true)).toDF("k", "text", "g", "del"),
        path, "k", deleteCol = Some("del"), textCol = Some("text"))),
      "deleteWhere" -> (() => SnapshotTable.deleteWhere(spark, path, "k", col("k") === 6L)),
      "updateWhere" -> (() => SnapshotTable.updateWhere(spark, path, "k", col("k") === 7L,
        Map("text" -> lit("u-7")))),
      "ingest over tombstones" -> (() => SnapshotTable.ingest(spark, docs(60L to 62L), path, "text")),
      "compact" -> (() => SnapshotTable.compact(spark, path, textCol = Some("text"))),
      "deleteWherePositional" -> (() => SnapshotTable.deleteWherePositional(spark, path,
        col("k") === 8L)),
      "deleteWherePositional 2" -> (() => SnapshotTable.deleteWherePositional(spark, path,
        col("k") === 9L)),
      "updateWherePositional" -> (() => SnapshotTable.updateWherePositional(spark, path,
        col("k") === 10L, Map("text" -> lit("u-10")))),
      "compactPosDeletes" -> (() => SnapshotTable.compactPosDeletes(spark, path)))
    ops.foreach { case (name, op) =>
      val (out, jobs) = jobsOf(op())
      out match {
        case b: SnapshotTable.BinpackStats => assert(b.committed, s"$name: $b")
        case _ =>
      }
      assert(!jobs.exists(_.infersSchema),
        s"$name ran a schema-inference job: ${jobs.filter(_.infersSchema)}")
    }
    assert(SnapshotTable.read(spark, path).count() > 0L)
  }

  test("every job a commit op launches carries a description") {
    import spark.implicits._
    val path = tmp("graft-count-described")
    SnapshotTable.write(spark, docs(1L to 10L), path, statsCols = Seq("k", "text"))
    SnapshotTable.addConstraint(spark, path, "pos", "k > 0")
    SnapshotTable.createBranch(spark, path, "audit")
    val ops: Seq[(String, () => Any)] = Seq(
      "append" -> (() => SnapshotTable.append(spark, docs(11L to 20L), path)),
      "appendBranch" -> (() => SnapshotTable.appendBranch(spark, docs(21L to 22L), path,
        "audit")),
      "ingest" -> (() => SnapshotTable.ingest(spark, docs(15L to 30L), path, "text")),
      "compactSmall" -> (() => assert(SnapshotTable.compactSmall(spark, path).committed)),
      "merge" -> (() => SnapshotTable.merge(spark,
        docs(Seq(2L, 40L)).withColumn("del", lit(false)), path, "k",
        deleteCol = Some("del"), textCol = Some("text"))),
      "mergeOnRead" -> (() => SnapshotTable.mergeOnRead(spark,
        Seq((3L, "u-3", 0L, false, 1), (3L, "v-3", 0L, false, 2), (4L, null, 1L, true, 1))
          .toDF("k", "text", "g", "del", "seq"),
        path, "k", deleteCol = Some("del"), orderCol = Some("seq"), textCol = Some("text"))),
      "ingest over tombstones" -> (() => SnapshotTable.ingest(spark, docs(50L to 55L), path, "text")),
      "updateWherePositional" -> (() => SnapshotTable.updateWherePositional(spark, path,
        col("k") === 12L, Map("text" -> lit("u-12")))),
      "compact" -> (() => SnapshotTable.compact(spark, path, textCol = Some("text"))))
    ops.foreach { case (name, op) =>
      val (_, jobs) = jobsOf(op())
      assert(jobs.nonEmpty, s"$name launched no job")
      val bare = jobs.filterNot(_.description.exists(_.startsWith("graft ")))
      assert(bare.isEmpty, s"$name launched undescribed jobs: $bare")
    }
    // a caller's own description survives the op
    spark.sparkContext.setJobDescription("caller")
    try {
      SnapshotTable.append(spark, docs(60L to 61L), path)
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == "caller")
    } finally spark.sparkContext.setJobDescription(null)
  }

  test("the one-job bloom is byte-identical to stat.bloomFilter, and empty input is create()") {
    def bytes(b: BloomFilter): Seq[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      b.writeTo(out)
      out.toByteArray.toSeq
    }
    val df = docs(1L to 500L)
    val key = xxhash64(md5(col("text")))
    Seq((1000L, 0.01), (64L, 0.05), (1000000L, 0.01)).foreach { case (n, fpp) =>
      assert(bytes(SnapshotTable.bloomOf("spec", df, key, n, fpp)) ==
        bytes(df.stat.bloomFilter(key, n, fpp)), s"($n, $fpp)")
      assert(bytes(SnapshotTable.bloomOf("spec", df.filter(lit(false)), key, n, fpp)) ==
        bytes(BloomFilter.create(n, fpp)), s"empty ($n, $fpp)")
    }
  }

  test("a bloom sidecar written before the one-job bloom is compatible, mergeable and identical") {
    // src/test/resources/bloom/ingest-k1-40.bin: the bloom sidecar an
    // ingest of docs 1..40 (key column "text", expectedItems 1000,
    // fpp 0.01) committed with the two-job stat.bloomFilter build
    val in = getClass.getResourceAsStream("/bloom/ingest-k1-40.bin")
    val old = try BloomFilter.readFrom(in) finally in.close()
    val path = tmp("graft-count-bloom")
    SnapshotTable.ingest(spark, docs(1L to 40L), path, "text", expectedItems = 1000L)
    val m = SnapshotTable.readManifestChecked(spark, path, 1L)
    val now = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_versions", m.bloom.get))
    val oldBytes = {
      val out = new java.io.ByteArrayOutputStream()
      old.writeTo(out)
      out.toByteArray
    }
    assert(now.toSeq == oldBytes.toSeq, "the same ingest wrote different bloom bytes")
    val delta = SnapshotTable.bloomOf("spec", docs(41L to 60L),
      xxhash64(coalesce(md5(col("text")), lit("<null>"))), 1000L, 0.01)
    assert(old.isCompatible(delta))
    old.mergeInPlace(delta)
    (1L to 60L).foreach { k =>
      val h = spark.range(1).select(xxhash64(coalesce(md5(lit(s"t-$k")), lit("<null>"))))
        .head().getLong(0)
      assert(old.mightContainLong(h), s"merged bloom lost t-$k")
    }
  }
}
