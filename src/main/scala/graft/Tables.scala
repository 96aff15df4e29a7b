package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Schema-pinned readers for the driver-generated test tables.
  *
  * Every operator in the library takes `(SparkSession, sfDir)` and loads
  * through here so scans stay uniform (parquet, pushdown-friendly — no
  * inferSchema surprises, no caching side effects). Schema-pinned: each
  * load hands the reader the schema that inference would return, read
  * from the same parquet footer on the driver ([[parquetSchema]]), so
  * building a query over these tables launches no Spark job.
  *
  * `events.parquet` has shipped with two physical types for `ts` across
  * driver revisions: a nanosecond-precision INT64 (readable only with
  * `spark.sql.legacy.parquet.nanosAsLong=true`, see [[Sessions]]) and a
  * plain microsecond `timestamp[us]` (no UTC flag). The loader normalizes
  * BOTH to a session-zone (UTC) microsecond timestamp: nanos are
  * integer-truncated to micros — exactly what a microsecond-native engine
  * (e.g. DuckDB) does on read — and the no-UTC-flag vintage is read
  * directly as a UTC instant, so both sides of the correctness gate see
  * identical instants whichever file vintage is on disk.
  *
  * Pushdown note: [[Sessions.builderDefaults]] sets
  * `spark.sql.parquet.inferTimestampNTZ.enabled=false`, so the
  * no-UTC-flag vintage surfaces as TIMESTAMP (LTZ in the UTC session
  * zone) straight off the scan and `ts` range predicates reach
  * PushedFilters / row-group min-max skipping. A cast-above-the-scan
  * (the round-8 shape) kept the values right but turned every time-range
  * filter on a 100 TB events table into a full scan — at scale the time
  * predicate IS the predicate, so the loader refuses to degrade silently:
  * if a caller bypasses [[Sessions]] and the scan still emits NTZ, the
  * cast fallback demands a UTC session zone (anything else re-tags every
  * instant into the wrong zone) and any third physical type throws.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(parquetSchema(spark, path)).parquet(path)
    if (name == "events") {
      val ts = df.schema("ts").dataType match {
        // nano INT64 vintage: integer `div` (not `/`) — double division
        // would lose precision on ~1.7e18 nano values (> 2^53).
        case LongType =>
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
        // timestamp[us] vintage under builderDefaults (inferTimestampNTZ
        // off, session zone UTC): already the instant we want, untouched —
        // ts predicates stay eligible for parquet pushdown.
        case TimestampType =>
          org.apache.spark.sql.functions.col("ts")
        // Same vintage read by a session that bypassed Sessions and left
        // NTZ inference on: the NTZ→LTZ cast re-tags the wall clock as an
        // instant in the SESSION zone, which is only the UTC instant the
        // other vintages produce if that zone is UTC — fail loudly rather
        // than silently shifting every timestamp.
        case TimestampNTZType =>
          val zone = spark.conf.get("spark.sql.session.timeZone")
          require(zone == "UTC" || zone == "Etc/UTC",
            s"events.ts is TIMESTAMP_NTZ and session timeZone is '$zone': " +
              "the NTZ->TIMESTAMP re-tag is only correct under UTC " +
              "(build the session via graft.Sessions)")
          org.apache.spark.sql.functions.col("ts").cast(TimestampType)
        // A third physical vintage must be a loader change, not a silent
        // cast to nulls/garbage in a schema-pinned reader.
        case other => throw new IllegalStateException(
          s"events.ts has unsupported physical type $other; " +
            "expected INT64 nanos, TIMESTAMP, or TIMESTAMP_NTZ")
      }
      import org.apache.spark.sql.functions.col
      df.select(col("event_id"), ts.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    } else df
  }

  /** The schema `spark.read.parquet(path)` infers for a parquet file or a
    * flat directory of Spark-written part files (no summary files),
    * without the Spark job inference runs: the footer inference reads,
    * the first part file by path, read on the driver.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val footer = p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.toString).headOption
    footer.flatMap(f => GraftParquetShim.footerSchema(spark, Seq(f))).getOrElse(
      throw new IllegalStateException(s"no parquet footer to read a schema from at $path"))
  }

  /** Guarantee at least the ambient parallelism before heavy per-row work.
    *
    * At warehouse scale a scan arrives as thousands of splits and this is
    * a NO-OP — no shuffle is added, and map-side partial aggregation
    * downstream keeps shuffle bytes minimal. On small inputs (a
    * single-row-group file ⇒ a single scan task) it hash-repartitions on
    * `by` so CPU-heavy projections (shingling, hashing, vector math) use
    * every core instead of one; keying on the downstream aggregation
    * column also lets EnsureRequirements elide the next exchange.
    */
  def spread(df: DataFrame, by: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // queryExecution.toRdd reuses the Dataset's cached QueryExecution;
    // df.rdd would build and plan a SECOND QueryExecution (analysis +
    // optimization + file listing) per call site just to read a count.
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else df.repartition(by)
  }

  /** The one home of every piece of state graft stages on disk (snapshot
    * fixtures, q43's bucketed tables, spec temp dirs): a `graft` subdir
    * of the SparkContext's own files root. Spark creates that root once
    * per context under `spark.local.dir` and deletes it on `stop()` and
    * at JVM exit, so nothing staged here outlives the application and
    * nothing here needs a freshness check against an older process.
    */
  def scratch(s: SparkSession): String = {
    s.sparkContext // the files root belongs to a live context
    val dir = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory(), "graft")
    dir.mkdirs()
    dir.getAbsolutePath
  }

  /** Collision-free key of an sf dir for names staged per scale: md5 of
    * its UTF-8 path. A 32-bit hashCode collision between two sf dirs in
    * one process would silently serve the wrong scale's data; md5 cannot.
    */
  def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** One place for SparkSession construction so Verify / Bench / tests all
  * run with the same semantics-affecting configs.
  */
object Sessions {
  def builderDefaults(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // timestamp[us] columns without the isAdjustedToUTC flag read as
    // TIMESTAMP (UTC session zone) instead of TIMESTAMP_NTZ, so the
    // Tables.load events branch is a no-op and ts range predicates push
    // into the parquet scan (row-group min-max skipping) — see Tables.
    //
    // SESSION-WIDE EFFECT, by design: this knob applies to EVERY parquet
    // read in the session, not just events — any future table whose
    // column is genuinely wall-clock TIMESTAMP_NTZ will surface as a UTC
    // instant instead. That is the correct reading for this library's
    // contract (the session zone is pinned UTC two lines up, so the
    // re-tag is value-preserving, and the DuckDB oracle sees the same
    // instants), but a table that must round-trip as NTZ would need
    // either a per-read `.option("inferTimestampNTZ", "true")` or an
    // explicit NTZ schema on its reader — don't discover this silently.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
    .config("spark.sql.adaptive.enabled", "true")
    // storage-partitioned joins (SPARK-37375): let the planner USE a
    // V2 scan's reported KeyGroupedPartitioning — co-partitioned graft
    // tables then join with zero exchanges. Enabling the machinery is
    // free for every other scan (nothing else reports key-grouped);
    // whether a graft scan REPORTS its layout is a separate per-read
    // opt-in (`preserveDataGrouping`, see GraftScanBuilder) because
    // grouping caps scan parallelism at the partition-value count —
    // right for a co-partitioned join, wrong for a plain full scan.
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    // tolerate partition-value sets that don't align exactly (one side
    // missing a value): Spark pushes empty partitions instead of
    // falling back to a shuffle
    .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    .config("spark.ui.enabled", "false")
    // Spark's generated-class cache (default 100 entries) evicts every
    // class of a warm registry pass before it is reused, so each repeat
    // query compiled again. A static conf: the first session of a JVM
    // fixes it.
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)

  /** [[builderDefaults]]' generated-class cache size: the distinct
    * classes one full 219-query `graft.Bench` sweep compiles (1,675 at
    * sf0.1, then 21 more in its second sweep; Bench prints both on
    * stderr), times about 2.4 for larger scales' plan variants.
    */
  val CodegenCacheEntries = 4096

  def local(cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = builderDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
