package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** What a warm registry query does not pay again: schema inference when
  * its tables load, and codegen when it runs a second time.
  */
class WarmPathSpec extends SparkSpec {

  /** The queries perfbench's `registry_sweep` samples (every 17th
    * registry query by name, fixture readers left out).
    */
  private val sampled = Seq("d10_dedup_fuzzy", "d5_dedup_embedding", "m6_patch_grid",
    "q21_json_extract", "q37_mode_bits", "r13_sound_speed", "r2_time_expand", "r9_profile_id",
    "s4_range_join", "t20_weighted_sample", "t37_bpe_train")

  private def path(name: String) = s"$sfDir/$name.parquet"

  test("Tables.load pins the schema inference would return, for every table") {
    for (name <- Tables.names) {
      val inferred = spark.read.parquet(path(name)).schema
      assert(Tables.parquetSchema(spark, path(name)) == inferred, name)
      assert(Tables.load(spark, sfDir, name).schema == inferred, name)
    }
  }

  test("Tables.load runs no Spark job") {
    val (_, jobs) = JobProbe.jobsOf(spark)(Tables.names.map(Tables.load(spark, sfDir, _)))
    assert(jobs.isEmpty, jobs)
  }

  test("a nanosecond events.ts loads as the same instant truncated to micros") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // the INT64 TIMESTAMP(NANOS) vintage of events.parquet, which Spark
    // itself cannot write
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val dir = tmp("events_nanos")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    w.write(new SimpleGroupFactory(schema).newGroup().append("event_id", 1L)
      .append("ts", 1700000000123456789L).append("user_id", 7L)
      .append("event_type", "click").append("value", 1.5).append("props", "{}"))
    w.close()
    val file = s"$dir/events.parquet"
    assert(Tables.parquetSchema(spark, file) == spark.read.parquet(file).schema)
    assert(spark.read.parquet(file).schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val (events, jobs) = JobProbe.jobsOf(spark)(Tables.load(spark, dir, "events"))
    assert(jobs.isEmpty, jobs)
    assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val micros = events.selectExpr("unix_micros(ts)").head().getLong(0)
    assert(micros == 1700000000123456L)
  }

  test("building a sampled registry query runs no job, t37_bpe_train its bounded collects") {
    val jobs = sampled.map { name =>
      name -> JobProbe.jobsOf(spark)(SparkEntry.queries(name)(spark, sfDir))._2.size
    }.toMap
    // t37 trains its merges while it builds its plan: here the (word,
    // count) table fits under BpeTrainer's driver word limit, so that is
    // one bounded collect, run as two jobs (the aggregation's shuffle
    // stage, then the collect)
    assert(jobs == sampled.map(_ -> 0).toMap.updated("t37_bpe_train", 2), jobs)
  }

  test("the session's codegen cache holds a warm pass: a second run compiles no class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheEntries.toString)
    def run(): Seq[(String, Long)] = sampled.map { name =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    // AQE replans a run from its runtime statistics, and a rerun can
    // pick another variant of a stage (q37 compiled 4 new classes on its
    // second run this way); with AQE off each query plans the same
    // physical plan twice, so the count measures the cache alone
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val first = run()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val second = run()
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before, (first, second))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
