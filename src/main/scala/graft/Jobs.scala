package graft

import org.apache.spark.sql.SparkSession

/** Job descriptions for graft operations that launch several Spark jobs. */
object Jobs {

  /** Run `body` with every Spark job it launches described as
    * `graft <op>: <what>` (`spark.job.description`, what the UI and
    * listeners show), then restore the caller's description.
    */
  def phase[T](spark: SparkSession, op: String, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, s"graft $op: $what")
    try body finally sc.setLocalProperty(key, prev)
  }
}
