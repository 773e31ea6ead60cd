package graft

import graft.tableio.{StateStore, TableIO}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Snapshot/lineage/resume gates (BASELINE.md resumability row). */
class TableIOSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_tableio").toString

  test("commit + read round-trips; manifest carries lineage") {
    val base = tmp()
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val snap = TableIO.commit(spark, df, base, "stage1")
    assert(snap.id == 0 && snap.rows == 100)
    assert(snap.partitionRows.values.sum == 100) // per-partition lineage
    assert(snap.partitionRows.keys.forall(_.endsWith(".parquet"))) // physical files
    val back = TableIO.read(spark, base)
    assert(back.count() == 100)
    assert(Files.exists(Path.of(base, "_meta", "snapshot-0.json")))
    // S8 metric sink: append-only _metrics table records the commit
    val m = TableIO.metrics(spark, base).collect()
    assert(m.length == 1 && m.head.getAs[Long]("rows") == 100)
  }

  test("read/readAt/metrics build their DataFrames without a Spark job") {
    val base = tmp()
    TableIO.commit(spark, (1 to 100).map(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "bucket"),
      base, "s", partitionCols = Seq("bucket"))
    TableIO.commit(spark, Seq((7L, "w", 1)).toDF("id", "v", "bucket"),
      base, "s", partitionCols = Seq("bucket"))
    val ((latest, first, m), jobs) = countJobs(
      (TableIO.read(spark, base), TableIO.readAt(spark, base, 0), TableIO.metrics(spark, base)))
    assert(jobs == 0, s"building the reads submitted $jobs jobs")
    assert(latest.count() == 1 && first.count() == 100 && m.count() == 2)
  }

  test("the manifest records the data schema; a partitioned table reads back as inference reads it") {
    import org.apache.spark.sql.types._
    val base = tmp()
    val df = (0L until 200L).map(i => (i, s"v$i", i.toDouble / 3, Seq(i.toFloat), i % 16))
      .toDF("id", "v", "x", "emb", "bucket")
    TableIO.commit(spark, df, base, "s", partitionCols = Seq("bucket"))
    val json = Files.readString(Path.of(base, "_meta", "snapshot-0.json"))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val recorded = DataType.fromJson(root.get("schema").toString).asInstanceOf[StructType]
    // data columns only: the partition column lives in directory names
    assert(recorded.fieldNames.toSeq == Seq("id", "v", "x", "emb"))
    // the schema inference of earlier builds, partition-column type included
    val inferred = spark.read.parquet(s"$base/data/snap-0")
    val back = TableIO.read(spark, base)
    assert(back.schema == inferred.schema, s"${back.schema} vs ${inferred.schema}")
    assert(back.schema("bucket").dataType == IntegerType)
    assert(back.collect().map(_.toSeq).toSet == inferred.collect().map(_.toSeq).toSet)
    assert(TableIO.readAt(spark, base, 0).schema == inferred.schema)
  }

  test("a manifest without a schema field (older build) still reads by inference") {
    val base = tmp()
    TableIO.commit(spark, Seq((1L, "a", 0L), (2L, "b", 1L)).toDF("k", "v", "bucket"),
      base, "s", partitionCols = Seq("bucket"))
    val mf = Path.of(base, "_meta", "snapshot-0.json")
    val json = Files.readString(mf)
    val legacy = json.substring(0, json.indexOf(",\n\"schema\":")) + "}"
    Files.writeString(mf, legacy)
    assert(!Files.readString(mf).contains("schema"))
    val back = TableIO.read(spark, base)
    assert(back.schema == spark.read.parquet(s"$base/data/snap-0").schema)
    assert(back.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(TableIO.readAt(spark, base, 0).count() == 2)
  }

  test("manifest column stats: readRange skips files by committed ranges, result exact") {
    val base = tmp()
    // 8 range-disjoint files over id ∈ [0, 8000): stats land per file
    val df = (0L until 8000L).map(i => (i, i % 97, s"v$i")).toDF("id", "k", "v")
      .repartitionByRange(8, col("id"))
    TableIO.commit(spark, df, base, "stats")
    // manifest carries a numeric range for id and k in every file
    val json = Files.readString(Path.of(base, "_meta", "snapshot-0.json"))
    assert(json.contains("\"col_stats\""), json.take(400))
    assert(json.contains("\"id\":["))
    // a 1-file-wide range prunes most of the inventory — metadata only
    val (keep, total) = TableIO.prunedFiles(base, "id", BigDecimal(100), BigDecimal(200))
    assert(total == 8, s"expected 8 files, saw $total")
    assert(keep.size <= 2, s"expected ≤2 surviving files, saw ${keep.size}")
    // skipping is an optimization, never a filter: equality vs full scan
    val got = TableIO.readRange(spark, base, "id", BigDecimal(100), BigDecimal(200))
      .select("id", "k", "v").collect().map(_.toSeq).toSet
    val want = TableIO.read(spark, base)
      .filter(col("id") >= 100 && col("id") <= 200)
      .select("id", "k", "v").collect().map(_.toSeq).toSet
    assert(got == want && got.size == 101)
    // a column with no committed stats (string) keeps every file
    val (keepV, totalV) = TableIO.prunedFiles(base, "v", BigDecimal(0), BigDecimal(1))
    assert(keepV.size == totalV)
    // an out-of-range scan resolves to zero files and an empty result
    val (keepZ, _) = TableIO.prunedFiles(base, "id", BigDecimal(100000), BigDecimal(200000))
    assert(keepZ.isEmpty)
    assert(TableIO.readRange(spark, base, "id", BigDecimal(100000), BigDecimal(200000)).count() == 0)
  }

  test("readRange on a PARTITIONED table keeps the partition column, both branches") {
    val base = tmp()
    val df = (0L until 400L).map(i => (i, i % 4)).toDF("id", "bucket")
    TableIO.commit(spark, df, base, "s", partitionCols = Seq("bucket"))
    // surviving-files branch: partition-dir column must reconstruct
    // (basePath), matching read()'s schema
    val got = TableIO.readRange(spark, base, "id", BigDecimal(10), BigDecimal(20))
    assert(got.columns.toSet == Set("id", "bucket"), got.columns.mkString(","))
    // partition-dir values are re-inferred (int) — compare numerically
    assert(got.select("id", "bucket").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue())).toSet ==
      (10L to 20L).map(i => (i, i % 4)).toSet)
    // empty branch: same schema
    val none = TableIO.readRange(spark, base, "id", BigDecimal(100000), BigDecimal(200000))
    assert(none.columns.toSet == Set("id", "bucket"))
    assert(none.count() == 0)
  }

  test("readRange builds its DataFrame without a Spark job, plain and partitioned") {
    import org.apache.spark.sql.types.IntegerType
    val plain = tmp()
    TableIO.commit(spark, (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v"), plain, "s")
    val parted = tmp()
    TableIO.commit(spark, (0L until 400L).map(i => (i, i % 4)).toDF("id", "bucket"),
      parted, "s", partitionCols = Seq("bucket"))
    val ((p, q), jobs) = countJobs(
      (TableIO.readRange(spark, plain, "id", BigDecimal(10), BigDecimal(20)),
       TableIO.readRange(spark, parted, "id", BigDecimal(10), BigDecimal(20))))
    assert(jobs == 0, s"building the range reads submitted $jobs jobs")
    assert(p.schema == TableIO.read(spark, plain).schema)
    assert(q.schema == TableIO.read(spark, parted).schema)
    assert(q.schema("bucket").dataType == IntegerType)
    assert(p.count() == 11 && q.select("id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong)).toSet == (10L to 20L).map(i => (i, i % 4)).toSet)
  }

  test("rangeClusterBy commit makes skipping effective on shuffled input") {
    val base = tmp()
    // hash-scrambled row order: without clustering every file would
    // span ~the full id range and nothing could be skipped
    val df = (0L until 8000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(8, col("v"))
    TableIO.commit(spark, df, base, "clustered",
      rangeClusterBy = Seq("id"), rangeClusterParts = 8)
    val (keep, total) = TableIO.prunedFiles(base, "id", BigDecimal(100), BigDecimal(200))
    assert(total >= 2, s"expected a multi-file commit, saw $total")
    assert(keep.size <= 2, s"clustered commit should skip, saw ${keep.size}/$total")
    assert(TableIO.readRange(spark, base, "id", BigDecimal(100), BigDecimal(200)).count() == 101)
  }

  test("commit computes the input DataFrame exactly once (single-pass lineage)") {
    val base = tmp()
    val acc = spark.sparkContext.longAccumulator("computeRuns")
    val df = spark.range(0, 1000, 1, 4).map { i => acc.add(1L); i * 2 }.toDF("v")
    val snap = TableIO.commit(spark, df, base, "once")
    assert(snap.rows == 1000)
    // round-1 commit ran a lineage count THEN the write → 2000 here
    assert(acc.value == 1000L, s"df computed ${acc.value / 1000.0}x, expected once")
  }

  test("computeIfAbsent skips recompute on resume (byte-identical read-back)") {
    val base = tmp()
    var computed = 0
    def job() = { computed += 1; (1 to 50).map(i => (i.toLong, i * 2L)).toDF("k", "v") }
    val a = TableIO.computeIfAbsent(spark, base, "s")(job()).collect().sortBy(_.getLong(0))
    val b = TableIO.computeIfAbsent(spark, base, "s")(job()).collect().sortBy(_.getLong(0))
    assert(computed == 1, "resume must not recompute")
    assert(a.sameElements(b))
  }

  test("new commit supersedes; partition pruning dirs written") {
    val base = tmp()
    TableIO.commit(spark, Seq((1L, 0L)).toDF("k", "bucket"), base, "s", partitionCols = Seq("bucket"))
    TableIO.commit(spark, Seq((2L, 1L), (3L, 0L)).toDF("k", "bucket"), base, "s", partitionCols = Seq("bucket"))
    assert(TableIO.latestSnapshotId(base).contains(1L))
    assert(TableIO.read(spark, base).count() == 2)
    assert(Files.exists(Path.of(base, "data", "snap-1", "bucket=0")))
  }

  test("time travel: every committed snapshot stays readable as-committed") {
    val base = tmp()
    TableIO.commit(spark, Seq((1L, "a")).toDF("k", "v"), base, "s")
    TableIO.commit(spark, Seq((2L, "b"), (3L, "c")).toDF("k", "v"), base, "s")
    TableIO.commit(spark, Seq((4L, "d")).toDF("k", "v"), base, "s")
    assert(TableIO.snapshotIds(base) == Seq(0L, 1L, 2L))
    // readAt(id) returns the table exactly as of that commit
    assert(TableIO.readAt(spark, base, 0).collect().map(_.getLong(0)).sorted.sameElements(Array(1L)))
    assert(TableIO.readAt(spark, base, 1).collect().map(_.getLong(0)).sorted.sameElements(Array(2L, 3L)))
    // read() is readAt(latest)
    assert(TableIO.read(spark, base).collect().map(_.getLong(0)).sameElements(
      TableIO.readAt(spark, base, 2).collect().map(_.getLong(0))))
    intercept[IllegalStateException](TableIO.readAt(spark, base, 9))
  }

  test("pipeline resume: second run reuses all stage snapshots") {
    val dir = tmp()
    val cfg = PipelineConfig(
      synth = graft.ingest.SynthConfig(entitiesPerKg = 40),
      embed = graft.embed.EmbedderConfig(dim = 32),
      checkpointDir = Some(dir))
    val r1 = Pipeline.runSynthetic(spark, cfg).canonicalTriples
      .select("subj", "pred", "obj").collect().map(_.toString).sorted
    // simulate a fresh process resuming from the same checkpoint dir
    val r2 = Pipeline.runSynthetic(spark, cfg).canonicalTriples
      .select("subj", "pred", "obj").collect().map(_.toString).sorted
    assert(r1.sameElements(r2))
    assert(TableIO.exists(s"$dir/id_triples") && TableIO.exists(s"$dir/embeddings")
      && TableIO.exists(s"$dir/triples_canonical"))
    // resume did not create extra snapshots
    assert(TableIO.latestSnapshotId(s"$dir/id_triples").contains(0L))
  }

  test("expireSnapshots reclaims superseded data; latest and metrics survive") {
    val base = tmp()
    TableIO.commit(spark, Seq((1L, "a")).toDF("k", "v"), base, "s")
    TableIO.commit(spark, Seq((2L, "b")).toDF("k", "v"), base, "s")
    TableIO.commit(spark, Seq((3L, "c")).toDF("k", "v"), base, "s")
    assert(TableIO.expireSnapshots(base, keepLast = 1) == Seq(0L, 1L))
    assert(TableIO.snapshotIds(base) == Seq(2L))
    assert(TableIO.read(spark, base).collect().map(_.getLong(0)).sameElements(Array(3L)))
    intercept[IllegalStateException](TableIO.readAt(spark, base, 0))
    assert(!Files.exists(Path.of(base, "data", "snap-0"))) // bytes reclaimed
    assert(TableIO.metrics(spark, base).count() == 3)      // history append-only
    // a new commit continues the id sequence past the expired range
    assert(TableIO.commit(spark, Seq((4L, "d")).toDF("k", "v"), base, "s").id == 3L)
    assert(TableIO.expireSnapshots(base, keepLast = 5).isEmpty) // nothing to drop
    intercept[IllegalArgumentException](TableIO.expireSnapshots(base, keepLast = 0))
  }

  test("crash between data write and manifest move leaves the previous snapshot intact; retry recovers") {
    val base = tmp()
    TableIO.commit(spark, Seq((1L, "old")).toDF("k", "v"), base, "s")
    // simulate a job killed AFTER the parquet write and metrics append but
    // BEFORE the manifest rename: data + a torn .tmp manifest exist, no
    // snapshot-1.json. (This is the only window where state is partial —
    // the write itself is all-or-nothing via Spark's output committer.)
    Seq((2L, "new"), (3L, "new")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$base/data/snap-1")
    Files.writeString(Path.of(base, "_meta", ".snapshot-1.json.tmp"), "{\"torn\"")
    // readers are unaffected: the table IS snapshot 0
    assert(TableIO.latestSnapshotId(base).contains(0L))
    assert(TableIO.snapshotIds(base) == Seq(0L))
    assert(TableIO.read(spark, base).collect().map(_.getLong(0)).sameElements(Array(1L)))
    // a retried commit claims id 1, overwrites the orphaned data dir, and
    // lands atomically — readers flip from the old snapshot to the new one
    val snap = TableIO.commit(spark, Seq((4L, "retry")).toDF("k", "v"), base, "s")
    assert(snap.id == 1L && snap.rows == 1)
    assert(TableIO.read(spark, base).collect().map(_.getLong(0)).sameElements(Array(4L)))
    assert(TableIO.readAt(spark, base, 0).count() == 1) // time travel unaffected
  }

  /** the parquet data files under `dir`, recursively */
  private def parquetFiles(dir: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val st = Files.walk(Path.of(dir))
    try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally st.close()
  }

  test("snapshotBytes is the latest snapshot's on-disk data bytes, with no Spark job") {
    val base = tmp()
    assert(TableIO.snapshotBytes(spark, base).isEmpty)
    val df = (0L until 300L).map(i => (i, s"v$i", i % 4)).toDF("id", "v", "bucket").repartition(3)
    TableIO.commit(spark, df, base, "s", partitionCols = Seq("bucket"))
    val first = parquetFiles(s"$base/data/snap-0").map(Files.size).sum
    assert(first > 0)
    val (bytes, jobs) = countJobs(TableIO.snapshotBytes(spark, base))
    assert(bytes.contains(first) && jobs == 0)
    TableIO.commit(spark, df.filter($"id" < 10), base, "s")
    val second = parquetFiles(s"$base/data/snap-1").map(Files.size).sum
    assert(second != first && TableIO.snapshotBytes(spark, base).contains(second))
  }

  test("state commits are sized by the previous snapshot's bytes") {
    import org.apache.spark.sql.Row
    val dir = tmp()
    // materialized pieces: the state components' shape, no shuffle left
    val df = (0L until 2000L).map(i => (i, i / 7.0, (i * 31 % 97).toFloat, i % 5))
      .toDF("id", "x", "f", "bucket").repartition(8).localCheckpoint()
    val twoParts = df.repartition(2).localCheckpoint()
    def bits(rows: Array[Row]): Set[(Long, Long, Int, Long)] = rows.map(r => (r.getLong(0),
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
      java.lang.Float.floatToRawIntBits(r.getFloat(2)), r.getAs[Number](3).longValue)).toSet
    val expected = bits(df.collect())
    def snap(name: String): (Long, Seq[Path]) = {
      val id = StateStore.readEpoch(dir, StateStore.epochs(dir).last)(name)
      (id, parquetFiles(s"$dir/$name/data/snap-$id"))
    }
    def reload(name: String): Set[(Long, Long, Int, Long)] =
      bits(StateStore.load(spark, dir)(name).select("id", "x", "f", "bucket").collect())
    val opts = Map("p" -> StateStore.CommitOpts(partitionCols = Seq("bucket")))
    def save(split: Long => Long, flat: org.apache.spark.sql.DataFrame = df): Unit =
      StateStore.save(spark, dir, Seq("t" -> flat, "p" -> df), opts, Nil, split)
    // a first commit keeps the input partitioning: one file per task
    save(_ => 1L)
    assert(snap("t")._2.size == 8)
    assert(snap("p")._2.size == 8 * 5)
    assert(reload("t") == expected && reload("p") == expected)
    // a second commit writes ceil(prevBytes / split) files
    val prevT = TableIO.snapshotBytes(spark, s"$dir/t").get
    val split = prevT / 3 + 1
    save(b => if (b == prevT) split else Long.MaxValue)
    assert(snap("t")._2.size == (prevT + split - 1) / split)
    assert(snap("t")._2.size == 3)
    // a partitioned component: one task, so at most one file per dir
    val pFiles = snap("p")._2
    assert(pFiles.size == 5 && pFiles.map(_.getParent).distinct.size == 5)
    assert(reload("t") == expected && reload("p") == expected)
    // coalesce never raises the partition count
    save(_ => 1L, twoParts)
    assert(snap("t")._2.size == 2)
    assert(reload("t") == expected)
    // a component with a shuffle still to run keeps its partitioning,
    // so the shuffle's reduce side keeps its width; once a job has
    // materialized its cut, it is sized like any other
    val pending = df.repartition(4).localCheckpoint(eager = false)
    assert(!StateStore.runsNoShuffle(pending))
    save(_ => Long.MaxValue, pending)
    assert(snap("t")._2.size == 4)
    assert(reload("t") == expected)
    assert(StateStore.runsNoShuffle(pending))
    save(_ => Long.MaxValue, pending)
    assert(snap("t")._2.size == 1)
    assert(reload("t") == expected)
    assert(StateStore.runsNoShuffle(df.filter($"id" > 3).union(df).select("id")))
    assert(StateStore.runsNoShuffle(df.union(twoParts).localCheckpoint(eager = false)))
    assert(StateStore.runsNoShuffle(StateStore.load(spark, dir)("t")))
    assert(!StateStore.runsNoShuffle(df.repartition(4)))
    assert(!StateStore.runsNoShuffle(df.groupBy("bucket").count()))
    assert(!StateStore.runsNoShuffle(df.union(df.distinct())))
    // the session's rule at local[4] and default file confs: a small
    // state is one file, 70 MB is four, 1 GB is 128 MB files
    val mb = 1L << 20
    def files(bytes: Long) = (bytes - 1) / StateStore.splitBytes(spark, bytes) + 1
    assert(files(mb) == 1 && files(70 * mb) == 4 && files(1024 * mb) == 8)
  }

  test("TSV dictionary sink round-trips sorted (reference at-rest format)") {
    import org.apache.spark.sql.types._
    val base = tmp() + "/dict"
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("id", "label")
    graft.tableio.TsvSink.write(df, base, orderBy = Some("id"), golden = true)
    val schema = StructType(Seq(StructField("id", LongType), StructField("label", StringType)))
    val back = graft.tableio.TsvSink.read(spark, base, schema)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.sorted.sameElements(Array((1L, "a"), (2L, "b"), (3L, "c"))))
    // golden mode: exactly one part file
    val parts = new java.io.File(base).listFiles.filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
  }
}
