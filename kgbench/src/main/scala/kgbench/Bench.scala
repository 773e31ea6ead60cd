package kgbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run inside one JVM: set up the workload's inputs, time
  * the engine's public entry points, check the outputs, and write a run
  * record (JSON) that `report.py` turns into the metric line.
  *
  * Usage: kgbench.Bench --workload <batch_lsh|stream_cdc|all> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --records <dir> [--smoke]
  * writes `<records>/<workload>.json` per workload run.
  */
object Bench {

  val Workloads = Seq("batch_lsh", "stream_cdc")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, records: String, smoke: Boolean)

  /** Half the processors: on a small shared box, task threads on every
    * processor put the driver, JIT and GC threads and any host
    * interference on the critical path. At local[4] on a 4-processor VM
    * the batch workload's median spread 0.19-0.30 across seeds while the
    * driver-bound stream workload, which leaves processors idle, spread
    * 0.05. */
  def defaultCores: Int = math.max(1, Runtime.getRuntime.availableProcessors() / 2)

  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--records"), a.contains("--smoke"))
  }

  /** Results of one run, filled in by the workload. */
  final class Run(val args: Args) {
    val setup = mutable.LinkedHashMap.empty[String, Any]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val quality = mutable.LinkedHashMap.empty[String, Double]
    val context = mutable.LinkedHashMap.empty[String, Any]
    var trace: Map[String, Any] = Map.empty

    /** Timed operations per run, whatever `--seconds` allows: the latency
      * metric is a median, and throughput must not reduce to one wall.
      * The smoke run only checks that every metric is produced. */
    val minOps: Int = if (args.smoke) 1 else 3

    def op(wall: Double, docs: Long, traced: Boolean, extra: (String, Any)*): Unit =
      ops += (Map[String, Any]("wall_s" -> wall, "docs" -> docs, "traced" -> traced) ++ extra)

    def check(name: String, ok: Boolean, detail: String = ""): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

    /** Runs a check body; an exception is a failed check, not a crash. */
    def checking(name: String)(f: => (Boolean, String)): Unit =
      try { val (ok, d) = f; check(name, ok, d) }
      catch { case t: Throwable => check(name, ok = false, s"${t.getClass.getSimpleName}: ${t.getMessage}") }
  }

  def session(cores: Int, localDir: String, work: String): SparkSession = {
    val parts = (2 * cores).toString
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.default.parallelism", parts)
      .config("spark.io.compression.lz4.blockSize", "512k")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Work the harness does for itself (digests, row counts, quality)
    * runs under this job group, which no span owns. */
  def bookkeeping[T](spark: SparkSession)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup("kgbench-bookkeeping", "kgbench bookkeeping", interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  /** Order-independent digest of a table as a multiset of rows: each
    * distinct row is hashed with its multiplicity, the hashes are
    * combined with xor (no overflow under ANSI mode), and the row count
    * rides alongside. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.groupBy(cols: _*).count()
      .agg(bit_xor(xxhash64((cols :+ col("count")): _*)).as("h"),
        coalesce(sum(col("count")), lit(0L)).as("n"))
      .head()
    val h = if (r.isNullAt(0)) 0L else r.getLong(0)
    f"${r.getLong(1)}%d:$h%016x"
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    val workloads = if (args.workload == "all") Workloads else Seq(args.workload)
    require(workloads.forall(Workloads.contains), s"unknown workload ${args.workload}")
    val localDir = s"${args.work}/spark-local"
    Files.createDirectories(Paths.get(localDir))
    Files.createDirectories(Paths.get(args.records))
    val (spark, sessionS) = seconds(session(defaultCores, localDir, args.work))
    workloads.foreach { w =>
      val run = new Run(args.copy(workload = w, work = s"${args.work}/$w"))
      run.setup("session_s") = sessionS
      run.context ++= Seq(
        "cores" -> defaultCores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toList,
        "simd_dot_kernel" -> graft.candidates.DotQ.AVAILABLE,
        "spark_version" -> spark.version)
      try {
        if (w == "batch_lsh") BatchWorkload.run(spark, run) else StreamWorkload.run(spark, run)
      } catch {
        case t: Throwable =>
          run.check("run_completed", ok = false, s"${t.getClass.getName}: ${t.getMessage}")
          t.printStackTrace()
      }
      run.context("peak_rss_mb") = peakRssMb()
      run.context("jvm_wall_s") = (System.nanoTime() - t0) / 1e9
      val record = Map(
        "workload" -> w, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "smoke" -> args.smoke,
        "setup" -> run.setup.toMap, "ops" -> run.ops.toList, "checks" -> run.checks.toList,
        "quality" -> run.quality.toMap, "context" -> run.context.toMap, "trace_data" -> run.trace)
      Files.writeString(Paths.get(args.records, s"$w.json"),
        org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
    }
    spark.stop()
  }
}
