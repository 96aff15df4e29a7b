package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code launches, seen through a listener
  * filtered by a job tag added on the calling thread. The listener bus is
  * drained before the jobs are read, so every event of the block is in.
  */
object JobProbe {

  /** One job: its description, every call site it carries (job and
    * stage, short and long forms) and the bytes its stages' tasks read
    * from input.
    */
  final case class Job(description: Option[String], callSites: String, inputBytes: Long) {
    /** A parquet footer-inference job (`SchemaMergeUtils
      * .mergeSchemasInParallel`). Spark drops its own `sql` frames from
      * call sites, so that job reports the reader entry it ran under
      * (`DataFrameReader.load`/`.parquet`) — the only jobs a reader
      * launches while it resolves a relation.
      */
    def infersSchema: Boolean =
      callSites.contains("SchemaMergeUtils") || callSites.contains("mergeSchemasInParallel") ||
        callSites.contains("DataFrameReader.")
  }

  /** The jobs `body` launches, in start order, with its result. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val tag = s"job-probe-${java.util.UUID.randomUUID()}"
    // (job id, description, call sites, stage ids) per tagged job
    val started = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, Option[String], String, Seq[Int])]()
    val stageBytes = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.flatMap(x => Option(x.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag)))
          started.add((e.jobId, p.flatMap(x => Option(x.getProperty("spark.job.description"))),
            (p.toSeq.flatMap(x => Seq(x.getProperty("callSite.short"),
              x.getProperty("callSite.long"))) ++
              e.stageInfos.flatMap(s => Seq(s.name, s.details))).mkString("\n"),
            e.stageIds))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          stageBytes.merge(e.stageId, m.inputMetrics.bytesRead, (a: Long, b: Long) => a + b))
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      GraftTestBus.drain(sc)
      // a later job lists the shuffle stages it reuses (skipped), so a
      // stage's bytes go to the first job that lists it
      val counted = scala.collection.mutable.Set.empty[Int]
      (out, started.asScala.toSeq.sortBy(_._1).map { case (_, d, cs, stages) =>
        Job(d, cs, stages.filter(counted.add).map(s => stageBytes.getOrDefault(s, 0L)).sum)
      })
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
