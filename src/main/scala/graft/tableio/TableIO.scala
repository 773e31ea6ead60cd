package graft.tableio

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Thin Iceberg-semantics table layer over partitioned Parquet
  * (SURVEY.md §7.0 — no Iceberg runtime jar ships in this sandbox).
  *
  * Layout:
  *   table/data/snap-<n>/...(parquet, optionally partitioned dirs)
  *   table/_metrics/commit-<n>.json  — append-only per-commit metrics
  *                                     rows, one small file per commit
  *                                     written from the driver (older
  *                                     builds appended parquet rows
  *                                     here; [[metrics]] reads both)
  *   table/_meta/snapshot-<n>.json   — committed LAST; the manifest
  *                                     whose n is max defines the table
  *
  * The manifest's `schema` field is the Spark schema of the committed
  * data files (data columns only — partition columns live in directory
  * names and keep being inferred from them). Reads hand it to the
  * parquet source, so building a snapshot's DataFrame runs no
  * schema-inference job; a manifest without it (committed by an older
  * build) falls back to inference.
  *
  * Gives exactly the properties the north rule exercises: atomic
  * snapshot commit (manifest-last-write of a complete JSON), checkpointed
  * resume (a stage whose snapshot exists is skipped and read back),
  * per-partition lineage + row-count metrics inside the manifest, a
  * queryable `_metrics` table (S8 log/metric sink), and partition
  * pruning (partitionBy dirs + parquet filters). The API is a seam — a
  * real Iceberg catalog drops in behind `read`/`commit`.
  *
  * The input DataFrame is computed EXACTLY ONCE per commit: the parquet
  * write is the only action on it; row counts and per-partition lineage
  * are then read back from the committed files' parquet FOOTERS
  * (metadata-only, no data scan). One physical part file = one write
  * task = one lineage entry, so the manifest describes the committed
  * layout — not the pre-write Spark partitioning, which can differ when
  * partitionBy re-buckets rows. (Round-1 version ran a groupBy-count
  * lineage action first, recomputing the whole upstream DAG — 2× the
  * stage cost at 100 TB.)
  */
object TableIO {

  final case class Snapshot(id: Long, dataPath: String, rows: Long,
                            stage: String, inputs: Seq[String],
                            partitionRows: Map[String, Long])

  private def metaDir(base: String): Path = Paths.get(base, "_meta")

  private val Json = new ObjectMapper()

  private def manifest(base: String, id: Long): JsonNode =
    Json.readTree(Files.readString(metaDir(base).resolve(s"snapshot-$id.json")))

  /** A parquet reader carrying the manifest's committed data schema, when
    * it has one (see the layout note above). */
  private def reader(spark: SparkSession, m: JsonNode): DataFrameReader =
    Option(m.get("schema")).fold(spark.read)(s =>
      spark.read.schema(DataType.fromJson(s.toString).asInstanceOf[StructType]))

  /** The Spark schema parquet files written by Spark carry in their footer
    * — the schema inference would read back. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Columns of a `_metrics` row. */
  private val MetricsSchema: StructType = StructType(Seq(
    StructField("snapshot", LongType), StructField("stage", StringType),
    StructField("rows", LongType), StructField("n_files", LongType),
    StructField("wall_ms", LongType)))

  def latestSnapshotId(base: String): Option[Long] = {
    val md = metaDir(base)
    if (!Files.isDirectory(md)) None
    else {
      val st = Files.list(md)
      try st.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("snapshot-") && s.endsWith(".json") =>
          s.stripPrefix("snapshot-").stripSuffix(".json").toLong }
        .maxOption
      finally st.close()
    }
  }

  def exists(base: String): Boolean = latestSnapshotId(base).isDefined

  /** All committed snapshot ids of `base`, ascending. Data dirs of
    * superseded snapshots are retained (commits write to fresh
    * `data/snap-<n>` dirs), so every id listed here is readable via
    * [[readAt]] — the reproducibility contract a training pipeline
    * needs (re-run an experiment against the exact table version it
    * read, Iceberg-style time travel). */
  def snapshotIds(base: String): Seq[Long] = {
    val md = metaDir(base)
    if (!Files.isDirectory(md)) Nil
    else {
      // close the directory stream — retention calls this per component
      // per micro-batch on durable streams; relying on GC leaks fds
      val st = Files.list(md)
      try st.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("snapshot-") && s.endsWith(".json") =>
          s.stripPrefix("snapshot-").stripSuffix(".json").toLong }
        .toSeq.sorted
      finally st.close()
    }
  }

  /** Time-travel read: the table exactly as committed at snapshot `id`.
    * Metadata-only resolution — no data scan beyond the snapshot's own
    * files, same as [[read]]. */
  def readAt(spark: SparkSession, base: String, id: Long): DataFrame = {
    if (!Files.exists(metaDir(base).resolve(s"snapshot-$id.json")))
      throw new IllegalStateException(
        s"no snapshot $id at $base (have: ${snapshotIds(base).mkString(",")})")
    reader(spark, manifest(base, id)).parquet(s"$base/data/snap-$id")
  }

  /** Per-file row counts AND per-file numeric column ranges of a
    * committed data dir, read from parquet footers only — one entry per
    * physical write partition. Ranges cover INT32/INT64/FLOAT/DOUBLE
    * columns whose every row group carries non-null min/max statistics;
    * they feed the manifest's `col_stats` for metadata-driven file
    * skipping ([[prunedFiles]]/[[readRange]]). Also returns the Spark
    * schema JSON stored in the first footer (null when no file has one). */
  private def footerCounts(spark: SparkSession, dataPath: String)
      : (Map[String, Long], Map[String, Map[String, (BigDecimal, BigDecimal)]], String) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(dataPath)
    val out = scala.collection.mutable.LinkedHashMap[String, Long]()
    val stats = scala.collection.mutable.LinkedHashMap[String, Map[String, (BigDecimal, BigDecimal)]]()
    var schema: String = null
    dataFiles(spark, root).foreach { f =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try {
        val rel = root.toUri.relativize(f.getPath.toUri).toString
        out(rel) = rd.getRecordCount
        if (schema == null)
          schema = rd.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)
        val perCol = scala.collection.mutable.LinkedHashMap[String, (BigDecimal, BigDecimal)]()
        val disabled = scala.collection.mutable.Set.empty[String]
        rd.getFooter.getBlocks.asScala.foreach { block =>
          block.getColumns.asScala.foreach { c =>
            val name = c.getPath.toDotString
            val tn = c.getPrimitiveType.getPrimitiveTypeName
            val s = c.getStatistics
            val ok = (tn == INT32 || tn == INT64 || tn == FLOAT || tn == DOUBLE) &&
              s != null && !s.isEmpty && s.hasNonNullValue
            // NaN/Infinity float stats don't parse as BigDecimal —
            // treat the column as statless (no pruning) instead of
            // failing the commit after the data is already written
            val parsed =
              if (!ok) None
              else try Some((BigDecimal(s.genericGetMin.toString),
                BigDecimal(s.genericGetMax.toString)))
              catch { case _: NumberFormatException => None }
            parsed match {
              case Some((lo, hi)) =>
                perCol.get(name) match {
                  case Some((l0, h0)) => perCol(name) = (l0.min(lo), h0.max(hi))
                  case None           => perCol(name) = (lo, hi)
                }
              case None => disabled += name // statless/unsupported/non-finite group disables the column
            }
          }
        }
        // a range is sound only if EVERY row group contributed to it
        stats(rel) = perCol.filterNot { case (k, _) => disabled.contains(k) }.toMap
      } finally rd.close()
    }
    (out.toMap, stats.toMap, schema)
  }

  /** The parquet data files under `root`, recursively (partition dirs
    * included). */
  private def dataFiles(spark: SparkSession, root: HPath): Seq[FileStatus] = {
    val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(root, true)
    val out = Seq.newBuilder[FileStatus]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) out += f
    }
    out.result()
  }

  /** Data bytes of `base`'s latest snapshot (None when it has none):
    * the summed length of its data files, from a listing of the
    * snapshot's data dir. Runs no Spark job; sizes the next write of a
    * state component ([[StateStore.save]]). */
  def snapshotBytes(spark: SparkSession, base: String): Option[Long] =
    latestSnapshotId(base).map(id =>
      dataFiles(spark, new HPath(s"$base/data/snap-$id")).map(_.getLen).sum)

  /** Commit df as the next snapshot of `base`. Returns the snapshot.
    * Data lands fully before the manifest is moved into place (atomic
    * rename of a complete temp file) — a killed job leaves either the
    * previous snapshot or the new one, never a torn table.
    *
    * `rangeClusterBy` (Iceberg write sort-order parity): range-shuffle
    * the rows on the given columns before writing, so each data file
    * covers a DISJOINT slice of the key space and the manifest's
    * col_stats make [[readRange]] skip all but the touched slice — the
    * write-side half of metadata data skipping. Costs one range
    * exchange at commit; buys every later range scan of the table. */
  def commit(spark: SparkSession, df: DataFrame, base: String, stage: String,
             inputs: Seq[String] = Nil, partitionCols: Seq[String] = Nil,
             rangeClusterBy: Seq[String] = Nil,
             rangeClusterParts: Int = 0): Snapshot = {
    import org.apache.spark.sql.functions.col
    val next = latestSnapshotId(base).getOrElse(-1L) + 1
    val dataPath = s"$base/data/snap-$next"
    val t0 = System.nanoTime()
    // rangeClusterParts = 0 leaves the width to the session/AQE (which
    // sizes output files toward maxPartitionBytes — the right default
    // at scale); a positive value pins the file count
    val clustered =
      if (rangeClusterBy.isEmpty) df
      else if (rangeClusterParts > 0)
        df.repartitionByRange(rangeClusterParts, rangeClusterBy.map(col): _*)
      else df.repartitionByRange(rangeClusterBy.map(col): _*)
    val writer = clustered.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(dataPath) // the ONLY action that computes df
    val (counts, colStats, schema) = footerCounts(spark, dataPath)
    val rows = counts.values.sum
    val wallMs = (System.nanoTime() - t0) / 1000000
    // S8 metric sink: one append-only row per commit, written from the
    // driver (a Spark write job per row cost as much as the data write
    // of a small state component). The atomic rename publishes complete
    // rows only; a retry after a crash before the manifest rewrites the
    // row of the same n.
    val metricsDir = Paths.get(base, "_metrics")
    Files.createDirectories(metricsDir)
    val row = Json.createObjectNode().put("snapshot", next).put("stage", stage)
      .put("rows", rows).put("n_files", counts.size.toLong).put("wall_ms", wallMs)
    val rowTmp = metricsDir.resolve(s".commit-$next.json.tmp")
    Files.writeString(rowTmp, Json.writeValueAsString(row) + "\n")
    Files.move(rowTmp, metricsDir.resolve(s"commit-$next.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    Files.createDirectories(metaDir(base))
    val lineage = counts.toSeq.sortBy(_._1)
      .map { case (p, n) => s"\"$p\":$n" }.mkString("{", ",", "}")
    // per-file numeric column ranges → manifest-level data skipping
    // (Iceberg manifest column stats). At catalog scale these live in
    // avro manifest lists; JSON is this layer's stand-in.
    val statsJson = colStats.toSeq.sortBy(_._1).map { case (p, cols) =>
      val body = cols.toSeq.sortBy(_._1)
        .map { case (c, (lo, hi)) => s"\"$c\":[$lo,$hi]" }.mkString("{", ",", "}")
      s"\"$p\":$body"
    }.mkString("{", ",", "}")
    val json =
      s"""{"snapshot":$next,"stage":"${stage}","data":"${dataPath}","rows":$rows,
         |"inputs":[${inputs.map(i => "\"" + i + "\"").mkString(",")}],
         |"partition_rows":$lineage,
         |"col_stats":$statsJson,
         |"partition_cols":[${partitionCols.map(c => "\"" + c + "\"").mkString(",")}]${
           if (schema == null) "" else s",\n\"schema\":$schema"}}""".stripMargin
    val tmp = metaDir(base).resolve(s".snapshot-$next.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, metaDir(base).resolve(s"snapshot-$next.json"),
      StandardCopyOption.ATOMIC_MOVE)
    Snapshot(next, dataPath, rows, stage, inputs, counts)
  }

  /** Read the latest snapshot of `base`. */
  def read(spark: SparkSession, base: String): DataFrame = {
    val id = latestSnapshotId(base).getOrElse(
      throw new IllegalStateException(s"no snapshot at $base"))
    reader(spark, manifest(base, id)).parquet(s"$base/data/snap-$id")
  }

  /** The append-only commit-metrics table of `base` (S8 sink): one
    * row file per commit. */
  def metrics(spark: SparkSession, base: String): DataFrame =
    spark.read.schema(MetricsSchema)
      .option("pathGlobFilter", "commit-*.json").json(s"$base/_metrics")

  /** Manifest-driven file skipping: the data files of `base`'s latest
    * snapshot whose committed [min,max] range on `column` intersects
    * [lo, hi] — resolved ENTIRELY from the manifest (no footer reads,
    * no file listing, no Spark job), the Iceberg manifest-stats plan
    * step. Files without a committed range on `column` are kept
    * (conservative: skipping is an optimization, never a filter).
    * Returns (matching file paths, total file count). */
  def prunedFiles(base: String, column: String, lo: BigDecimal, hi: BigDecimal)
      : (Seq[String], Int) = {
    val (keep, total, _) = prunedFilesWithManifest(base, column, lo, hi)
    (keep, total)
  }

  private def prunedFilesWithManifest(base: String, column: String,
                                      lo: BigDecimal, hi: BigDecimal)
      : (Seq[String], Int, JsonNode) = {
    val id = latestSnapshotId(base).getOrElse(
      throw new IllegalStateException(s"no snapshot at $base"))
    val root = manifest(base, id)
    val dataPath = root.get("data").asText()
    val statsNode = root.get("col_stats")
    // partition_rows is the authoritative file inventory
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    val it = root.get("partition_rows").fieldNames()
    while (it.hasNext) {
      val file = it.next()
      val range =
        if (statsNode.get(file) == null) null
        else statsNode.get(file).get(column)
      val keep = range == null ||
        (BigDecimal(range.get(0).decimalValue()) <= hi &&
         BigDecimal(range.get(1).decimalValue()) >= lo)
      // lineage keys are full URIs when the file's URI isn't relative
      // to the data root (partitioned dirs aside, the common case)
      val path = if (file.startsWith("file:") || file.startsWith("hdfs:") ||
        file.startsWith("s3:") || file.startsWith("/")) file else s"$dataPath/$file"
      files += ((path, keep))
    }
    (files.collect { case (p, true) => p }.toSeq, files.size, root)
  }

  /** Range read with manifest data skipping: rows of the latest
    * snapshot with `column` in [lo, hi], scanning ONLY the files whose
    * committed stats admit the range (plus the exact row-level filter —
    * stats prune files, the predicate prunes rows; equality with a full
    * scan is gated in TableIOSpec). Parquet row-group/page stats then
    * prune again inside each surviving file via the pushed filter. */
  def readRange(spark: SparkSession, base: String, column: String,
                lo: BigDecimal, hi: BigDecimal): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (keep, _, m) = prunedFilesWithManifest(base, column, lo, hi)
    // decimal literals keep the row-level predicate exact for long
    // columns beyond double precision
    val pred = col(column) >= lit(lo.underlying()) && col(column) <= lit(hi.underlying())
    if (keep.isEmpty) read(spark, base).filter(pred).limit(0)
    else
      // basePath makes Spark reconstruct partition-directory columns
      // (e.g. bucket=3/) from the kept leaf files, so a partitioned
      // table returns the SAME schema as read()/the empty branch; the
      // manifest schema spares the schema-inference job
      reader(spark, m).option("basePath", m.get("data").asText()).parquet(keep: _*).filter(pred)
  }

  /** Retention: expire all but the newest `keepLast` snapshots (Iceberg
    * `expire_snapshots` parity — an unbounded stream commits forever, so
    * superseded data dirs must be reclaimable). Metadata-only decision;
    * the manifest is deleted FIRST so no new reader can resolve an id
    * whose data is being removed (a reader already holding the resolved
    * path races only within its own job, same as Iceberg without a
    * retention grace period — run expiry with slack on a live table).
    * The `_metrics` history is append-only and is never expired.
    * Returns the expired ids. */
  def expireSnapshots(base: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val drop = snapshotIds(base).dropRight(keepLast)
    drop.foreach(deleteSnapshot(base, _))
    drop
  }

  /** Expire every snapshot with id < `minKeepId` (retention keyed by an
    * externally retained id set — see StateStore.expire, which
    * derives the floor from its multi-table epoch markers). */
  def expireBefore(base: String, minKeepId: Long): Seq[Long] = {
    val drop = snapshotIds(base).filter(_ < minKeepId)
    drop.foreach(deleteSnapshot(base, _))
    drop
  }

  private def deleteSnapshot(base: String, id: Long): Unit = {
    Files.deleteIfExists(metaDir(base).resolve(s"snapshot-$id.json"))
    val dataDir = Paths.get(base, "data", s"snap-$id")
    if (Files.isDirectory(dataDir)) {
      val st = Files.walk(dataDir)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally st.close()
    }
  }

  /** Checkpointed resume: if `base` has a snapshot, read it back and skip
    * recompute — otherwise compute, commit, and read back (so downstream
    * always consumes the committed bytes; resume is byte-identical). */
  def computeIfAbsent(spark: SparkSession, base: String, stage: String,
                      inputs: Seq[String] = Nil, partitionCols: Seq[String] = Nil)
                     (compute: => DataFrame): DataFrame = {
    if (!exists(base)) commit(spark, compute, base, stage, inputs, partitionCols)
    read(spark, base)
  }
}
