package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped Spark job descriptions: every action fired inside `f` carries
  * `desc` in its job-start event and the cluster UI. Costs one
  * thread-local property write; pays for itself the first time anyone
  * reads a stage table or an executor timeline on a real cluster.
  * Restores the caller's description on exit so nested scopes compose. */
object JobDesc {
  def withJobDesc[T](spark: SparkSession, desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }
}
