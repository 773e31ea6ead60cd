package kgbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Raw Spark counters, recorded per job and per stage with the job group
  * that submitted them. Aggregation into spans happens in `report.py`;
  * this listener only records. */
object CounterListener {
  final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long)
  final class StageAcc(val id: Int, val job: Int, val group: String) {
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
    var cpuNs, gcMs, shuffleBytes, shuffleRecords, spillBytes, outBytes, outRecords = 0L
  }
}

final class CounterListener extends SparkListener {
  import CounterListener._

  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, (Int, String)]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageAcc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart.put(e.jobId, (g, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, (e.jobId, g)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) => jobs.add(JobRec(e.jobId, g, t0, e.time)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val acc = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ => {
        val (job, group) = stageJob.getOrDefault(e.stageId, (-1, ""))
        new StageAcc(e.stageId, job, group)
      })
      acc.synchronized {
        acc.taskRunMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        acc.spillBytes += m.diskBytesSpilled
        acc.outBytes += m.outputMetrics.bytesWritten
        acc.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Every recorded job and stage, as plain maps for the run record. */
  def dump(): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    val js = jobs.asScala.toSeq.sortBy(_.id).map(j =>
      Map("id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs, "end_ms" -> j.endMs))
    val ss = stages.values.asScala.toSeq.sortBy(_.id).map { s =>
      s.synchronized {
        Map("id" -> s.id, "job" -> s.job, "group" -> s.group, "task_run_ms" -> s.taskRunMs.toList,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_write_bytes" -> s.shuffleBytes,
          "shuffle_write_records" -> s.shuffleRecords, "spill_bytes" -> s.spillBytes,
          "output_bytes" -> s.outBytes, "output_records" -> s.outRecords)
      }
    }
    (js, ss)
  }
}

/** Spans around the benchmark's calls into the engine's layers. Each
  * call runs under its own job group, so the listener's jobs and stages
  * land on the span that caused them; spans are kept in memory and
  * written out with the run record. */
final class Tracer(spark: SparkSession) {
  val listener = new CounterListener
  spark.sparkContext.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val pending = mutable.ArrayBuffer.empty[(Map[String, Any], () => Long)]
  private var seq = 0
  private var op = 0

  /** Span whose output rows are counted by the listener (rows written). */
  def span[T](name: String)(f: => T): T = span(name, (_: T) => -1L)(f)

  /** Span whose body returns its output together with its row count. */
  def counted[T](name: String)(f: => (T, Long)): T = {
    var rows = -1L
    span(name, (_: T) => rows) { val (v, n) = f; rows = n; v }
  }

  /** Runs `f` as span `name` of the current operation; `rows` reads the
    * span's output row count when the operation ends (bookkeeping, after
    * the operation's timer). */
  def span[T](name: String, rows: T => Long)(f: => T): T = {
    val sc = spark.sparkContext
    seq += 1
    val group = f"kgbench-span-$seq%05d"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
    val out = try f finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9; val endMs = System.currentTimeMillis()
    pending += ((Map("name" -> name, "group" -> group, "op" -> op, "start_ms" -> startMs,
      "end_ms" -> endMs, "wall_s" -> wall), () => rows(out)))
    out
  }

  /** Closes the current operation: counts its spans' output rows. */
  def endOp(): Unit = {
    Bench.bookkeeping(spark) {
      pending.foreach { case (s, rows) => spans += (s + ("rows_out" -> rows())) }
    }
    pending.clear()
    op += 1
  }

  def dump(): Map[String, Any] = {
    org.apache.spark.BusDrain(spark.sparkContext)
    val (jobs, stages) = listener.dump()
    Map("spans" -> spans.toList, "jobs" -> jobs, "stages" -> stages)
  }
}
