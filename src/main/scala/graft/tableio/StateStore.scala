package graft.tableio

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, Filter, LocalRelation,
  LogicalPlan, MapElements, MapPartitions, Project, SerializeFromObject, SubqueryAlias,
  TypedFilter, Union}
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.execution.datasources.{FilePartition, LogicalRelation}

/** Atomic MULTI-TABLE state commits: the generic core of the durable
  * continuous-state discipline (factored out of
  * [[graft.IncrementalAlign]], which pioneered it for its ~10-table
  * alignment state; the dedup/vocab maintainers reuse it for their
  * 1-2 table states). Each component commits as a [[TableIO]] snapshot
  * table under `dir/<name>`, then an EPOCH MARKER is written LAST
  * (`dir/_state/epoch-<k>.txt`, atomic rename — the same manifest-last
  * discipline as TableIO.commit, one level up) recording every
  * component's snapshot id. [[load]] resolves components through the
  * newest marker, so a save killed between component commits leaves
  * the previous epoch fully intact — no torn state mixing one table's
  * new snapshot with another's old one. Older epochs stay readable
  * (time travel); [[expire]] bounds storage at O(keepEpochs × state)
  * on an unbounded stream and sweeps up orphan snapshots from crashed
  * saves once superseded.
  *
  * The components of one save are independent tables, so they commit
  * CONCURRENTLY (at most [[MaxParallelCommits]] at a time, one Spark
  * write job each) in the caller's job group; the marker is written
  * only after every component commit has succeeded. When one component
  * fails, the other component jobs are cancelled and awaited, no
  * marker is written, and the failure is rethrown — the previous epoch
  * stays the loadable one (see [[graft.util.ParJobs]]).
  *
  * FILE SIZING: a component is written with as many files as its bytes
  * need, not one per upstream partition (the maintained states are
  * unions of per-batch pieces, so their partition count grows with the
  * pieces, not with the data). The size estimate is the component's
  * previous committed snapshot ([[TableIO.snapshotBytes]], no Spark
  * job); the split follows Spark's own file-scan rule
  * (`FilePartition.maxSplitBytes`: `min(maxPartitionBytes,
  * max(openCostInBytes, (bytes + openCostInBytes) / minPartitionNum))`,
  * the confs read from the session, never set), and the component is
  * written through `coalesce(ceil(bytes / split))`. A small component is
  * one file (a `partitionCols` table: at most one per partition dir); a
  * large one keeps its parallelism; `coalesce` never raises the
  * partition count. A component with no previous snapshot keeps its
  * input partitioning. The estimate lags one commit, so a bulk batch
  * after a small state is written by as few tasks as the small state
  * needed.
  *
  * `coalesce` is narrow: it pulls the component's upstream plan into
  * those tasks. That is cheap only when the plan runs no shuffle, so
  * only such a component is coalesced ([[runsNoShuffle]]): row-local
  * operators (projections, filters, unions) over file scans and RDDs
  * whose lineage reaches no shuffle that a checkpoint has not already
  * cut. A component that still has a shuffle's reduce side to run (a
  * lazy cut over an aggregation that nothing has acted on yet, such as
  * the vocab fold's counts) keeps its input partitioning, so that
  * reduce side keeps its width. The choice is made for every component before any of
  * their jobs starts (one component's write may materialize a lazy cut
  * that another reads).
  */
object StateStore {

  /** Per-component [[TableIO.commit]] options. */
  final case class CommitOpts(partitionCols: Seq[String] = Nil, inputs: Seq[String] = Nil)

  /** Component commits in flight at once: enough to overlap the driver
    * latency of small writes, few enough not to oversubscribe a local
    * driver. */
  private val MaxParallelCommits = 4

  /** Commit `components` (concurrently) then the epoch marker; returns
    * the new epoch. `opts` gives commit options by component name.
    * `files` are small driver-written components (name → text), stored
    * as `_state/<name>-<k>.txt` of the same epoch k and written before
    * its marker — no Spark job; read back with [[readFile]]. */
  def save(spark: SparkSession, dir: String,
           components: Seq[(String, DataFrame)],
           opts: Map[String, CommitOpts] = Map.empty,
           files: Seq[(String, String)] = Nil): Long =
    save(spark, dir, components, opts, files, splitBytes(spark, _))

  /** [[save]] with the split rule given: `split(bytes)` is the file size
    * for a component whose previous snapshot holds `bytes`. */
  private[graft] def save(spark: SparkSession, dir: String,
                          components: Seq[(String, DataFrame)],
                          opts: Map[String, CommitOpts],
                          files: Seq[(String, String)],
                          split: Long => Long): Long = {
    val sizable = components.map { case (_, df) => runsNoShuffle(df) }
    val commits = components.zip(sizable).map { case ((name, df), canSize) => () => {
      val o = opts.getOrElse(name, CommitOpts())
      val base = s"$dir/$name"
      val sized = (if (canSize) TableIO.snapshotBytes(spark, base) else None)
        .fold(df)(bytes => df.coalesce(fileCount(bytes, split(bytes))))
      name -> TableIO.commit(spark, sized, base, "state",
        inputs = o.inputs, partitionCols = o.partitionCols).id
    } }
    val ids = graft.util.ParJobs.run(spark, MaxParallelCommits)(commits)
    val k = epochs(dir).lastOption.getOrElse(-1L) + 1
    java.nio.file.Files.createDirectories(epochDir(dir))
    files.foreach { case (name, text) => writeAtomic(dir, s"$name-$k.txt", text) }
    // the marker LAST — this write is the commit point of the save
    writeAtomic(dir, s"epoch-$k.txt",
      ids.iterator.map { case (n, i) => s"$n $i" }.mkString("\n"))
    k
  }

  /** Spark's file-scan split for `bytes` of data in one file (see the
    * sizing note above). */
  private[graft] def splitBytes(spark: SparkSession, bytes: Long): Long = {
    val openCost = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.filesOpenCostInBytes
    FilePartition.maxSplitBytes(spark, bytes + openCost)
  }

  /** True when computing `df` runs no shuffle (see the sizing note
    * above): its analyzed plan holds only row-local operators, and every
    * RDD it scans reaches no shuffle dependency before a materialized
    * checkpoint (whose dependencies Spark has already truncated). Any
    * other operator counts as a shuffle. Reads only the plan and the RDD
    * graph; runs no Spark job. */
  private[graft] def runsNoShuffle(df: DataFrame): Boolean = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def rdd(r: RDD[_]): Boolean = !seen.add(r.id) || r.dependencies.forall {
      case _: ShuffleDependency[_, _, _] => false
      case d => rdd(d.rdd)
    }
    def plan(p: LogicalPlan): Boolean = p match {
      case l: LogicalRDD => rdd(l.rdd)
      case l: ExternalRDD[_] => rdd(l.rdd)
      case _: LocalRelation | _: LogicalRelation => true
      case _: Project | _: Filter | _: Union | _: SubqueryAlias | _: TypedFilter |
           _: SerializeFromObject | _: DeserializeToObject | _: MapElements |
           _: MapPartitions => p.children.forall(plan)
      case _ => false
    }
    plan(df.queryExecution.analyzed)
  }

  /** `ceil(bytes / split)`, at least one file */
  private def fileCount(bytes: Long, split: Long): Int =
    math.min(Int.MaxValue.toLong, math.max(1L, (bytes - 1) / split + 1)).toInt

  /** write `_state/<file>` through a temp file and an atomic rename (a
    * leftover from a save that crashed before its marker is replaced) */
  private def writeAtomic(dir: String, file: String, text: String): Unit = {
    val tmp = epochDir(dir).resolve(s".$file.tmp")
    java.nio.file.Files.writeString(tmp, text)
    java.nio.file.Files.move(tmp, epochDir(dir).resolve(file),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The driver-written file `name` of epoch `k` (see [[save]]); None
    * when that epoch has none. */
  def readFile(dir: String, k: Long, name: String): Option[String] = {
    val f = epochDir(dir).resolve(s"$name-$k.txt")
    if (java.nio.file.Files.exists(f)) Some(java.nio.file.Files.readString(f)) else None
  }

  /** `_state/<name>-<k>.txt`: epoch k's marker (`epoch`) or a file of it */
  private val EpochFile = """.+-(\d+)\.txt""".r

  private def epochDir(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, "_state")

  /** Committed state epochs of `dir`, ascending (one per completed save). */
  def epochs(dir: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val d = epochDir(dir)
    if (!java.nio.file.Files.isDirectory(d)) Nil
    else {
      // Files.list holds a directory fd until closed — per-batch durable
      // commits call this 2-3× per micro-batch, so relying on GC leaks
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("epoch-") && n.endsWith(".txt") =>
          n.stripPrefix("epoch-").stripSuffix(".txt").toLong }
        .toSeq.sorted
      finally s.close()
    }
  }

  /** Component → snapshot id map of one committed epoch. */
  def readEpoch(dir: String, k: Long): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(epochDir(dir).resolve(s"epoch-$k.txt"))
      .asScala.iterator.filter(_.nonEmpty)
      .map { l => val Array(n, i) = l.split(' '); n -> i.toLong }.toMap
  }

  /** Resolve every component of the newest (or given) epoch; a dir
    * without an epoch marker has no committed state. */
  def load(spark: SparkSession, dir: String,
           epoch: Option[Long] = None): Map[String, DataFrame] = {
    val k = epoch.orElse(epochs(dir).lastOption)
      .getOrElse(sys.error(s"no committed state epoch under $dir"))
    readEpoch(dir, k).map { case (name, id) =>
      name -> TableIO.readAt(spark, s"$dir/$name", id)
    }
  }

  /** Keep the newest `keepEpochs` epochs (each fully re-loadable via
    * time travel), reclaim everything older: expired markers plus every
    * component snapshot below the retained epochs' floor — which also
    * sweeps up orphans left by a save that crashed before its marker.
    * A component referenced by NO retained epoch keeps its last
    * snapshots: retention only reclaims what a retained epoch
    * supersedes. */
  def expire(dir: String, keepEpochs: Int): Unit = {
    import scala.jdk.CollectionConverters._
    require(keepEpochs >= 1, "must keep at least the latest epoch")
    val eps = epochs(dir)
    if (eps.nonEmpty) {
      val retained = eps.takeRight(keepEpochs)
      val floor = retained.map(readEpoch(dir, _)).flatMap(_.toSeq)
        .groupMapReduce(_._1)(_._2)(math.min)
      floor.foreach { case (name, id) => TableIO.expireBefore(s"$dir/$name", id) }
      // every marker and driver-written file below the oldest retained
      // epoch, leftovers of an interrupted expire included
      val s = java.nio.file.Files.list(epochDir(dir))
      try s.iterator().asScala.filter(_.getFileName.toString match {
          case EpochFile(k) => k.toLong < retained.head
          case _ => false
        }).toList.foreach(java.nio.file.Files.deleteIfExists)
      finally s.close()
    }
  }
}
