package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Runs `f` under a fresh job group; returns its result and the number
    * of Spark jobs submitted in that group (jobs of threads `f` starts
    * inherit the group and count too). */
  def countJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"count-jobs-${java.util.UUID.randomUUID()}"
    countJobsWhere(e => Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
      sc.setJobGroup(group, "countJobs")
      try f finally sc.clearJobGroup()
    }
  }

  /** Runs `f`; returns its result and the number of Spark jobs submitted
    * on ANY thread while it ran (no job-group filter): for work that runs
    * on threads `f` does not start, such as a stream's micro-batch. */
  def countAllJobs[T](f: => T): (T, Int) = countJobsWhere(_ => true)(f)

  private def countJobsWhere[T](keep: SparkListenerJobStart => Boolean)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (keep(e)) n.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.ListenerBusDrain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `f`; returns its result and the sum of the task updates that
    * named long accumulators called `name` received while it ran. */
  def sumAccumulator[T](name: String)(f: => T): (T, Long) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.iterator.filter(_.name.contains(name))
          .foreach(_.update.foreach(u => n.addAndGet(u.asInstanceOf[Long])))
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.ListenerBusDrain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    // exercise the cluster deployment path for graft's native expressions
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
