package graft

import graft.ingest.{DocSynthesizer, SynthConfig}
import graft.extract.Extraction
import graft.kg.{Doc, Span}
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming ingestion parity: the streaming extraction over a file
  * source must emit exactly the triples the batch path emits. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming extraction matches batch extraction") {
    val cfg = SynthConfig(entitiesPerKg = 40)
    val docs = DocSynthesizer.docs(spark, cfg)
    val dir = Files.createTempDirectory("graft_stream_in").toString
    docs.write.mode("overwrite").parquet(dir)

    val q = graft.streaming.StreamingExtraction.rawTriples(spark, dir)
      .writeStream.format("memory").queryName("stream_triples")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT subj, pred, obj FROM stream_triples")
      .collect().map(_.toString).sorted
    val batch = Extraction.rawTriples(spark, docs)
      .select($"subj", $"pred", $"obj").collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch), s"stream=${streamed.length} batch=${batch.length}")
  }

  test("watermarked windowed aggregation matches the batch aggregation") {
    val src = "/root/testdata/sf0.001/events.parquet"
    val dir = Files.createTempDirectory("graft_stream_events").toString
    val static = spark.read.parquet(src)
    static.coalesce(1).write.mode("overwrite").parquet(dir)

    val q = graft.streaming.StreamingEvents.windowedCounts(spark, dir)
      .writeStream.format("memory").queryName("stream_windows")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT * FROM stream_windows")
      .collect().map(_.toString).sorted
    // read the batch side with the SAME explicit schema the stream uses
    // (inference gives TIMESTAMP_NTZ for this pandas-written parquet)
    val batch = graft.streaming.StreamingEvents.windowedCountsBatch(
      spark.read.schema(graft.streaming.StreamingEvents.eventSchema).parquet(dir))
      .collect().map(_.toString).sorted
    assert(streamed.length > 10)
    assert(streamed.sameElements(batch), s"stream=${streamed.length} batch=${batch.length}")
  }

  test("stateful sessionization (flatMapGroupsWithState + event-time timeout) matches batch") {
    import org.apache.spark.sql.functions._
    val src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val dir = Files.createTempDirectory("graft_stream_sess")
    val stage = Files.createTempDirectory("graft_stream_sess_stage").toString

    // file 0: the real events; file 1: a single far-future sentinel event
    // that advances the watermark past every real session's last+gap so
    // all event-time timeouts fire (the standard end-of-stream flush).
    // Built in DataFrame land so the parquet timestamp typing matches f0.
    src.coalesce(1).write.mode("overwrite").parquet(s"$stage/f0")
    src.agg(max(col("ts")).as("mts"))
      .select(lit(-1L).as("event_id"), (col("mts") + expr("INTERVAL 30 DAYS")).as("ts"),
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/f1")
    def movePart(from: String, to: String, mtimeOffsetSec: Long): Unit = {
      val part = new java.io.File(from).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = dir.resolve(to)
      Files.move(part.toPath, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + mtimeOffsetSec * 1000))
    }
    movePart(s"$stage/f0", "000.parquet", -60) // older modTime → first micro-batch
    movePart(s"$stage/f1", "001.parquet", 0)

    val q = graft.streaming.StreamingEvents
      .sessions(spark, dir.toString, gapSec = 1800, maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("stream_sessions")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)

    val streamed = spark.sql(
      """SELECT user_id, count(*) AS n_sessions, sum(n_events) AS n_events
         FROM stream_sessions WHERE user_id >= 0 GROUP BY user_id""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)

    // batch oracle: the q_sessionize gap rule at millisecond precision,
    // using the IDENTICAL ts→ms expression the stream uses so truncation
    // can never disagree
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("tsMs").asc, col("event_id").asc)
    val batch = spark.read.schema(graft.streaming.StreamingEvents.eventSchema)
      .parquet(dir.toString).filter(col("user_id") >= 0)
      .withColumn("tsMs", (col("ts").cast("double") * 1000).cast("long"))
      .withColumn("gap", col("tsMs") - lag(col("tsMs"), 1).over(w))
      .withColumn("new_sess", when(col("gap").isNull || col("gap") > 1800 * 1000, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)

    assert(streamed.length == batch.length && streamed.length > 5,
      s"user counts differ: stream=${streamed.length} batch=${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("batch/stream parity holds on adjacent rel_ tokens (overlap windows)") {
    // "a rel_1 rel_2 b": both windows match — the batch parse must not
    // consume-after-match (it used to emit 1 triple here, the stream 2)
    val tricky = Seq(
      Doc("kg1_t0", Seq(Span("text", "a rel_1 rel_2 b .", "", 0))),
      Doc("kg1_t1", Seq(Span("text", "x rel_3 y rel_3 z", "", 0)))).toDS()
    val dir = Files.createTempDirectory("graft_stream_tricky").toString
    tricky.write.mode("overwrite").parquet(dir)
    val q = graft.streaming.StreamingExtraction.rawTriples(spark, dir)
      .writeStream.format("memory").queryName("stream_tricky")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT subj, pred, obj FROM stream_tricky")
      .collect().map(_.toString).sorted
    val batch = Extraction.rawTriples(spark, tricky)
      .select($"subj", $"pred", $"obj").collect().map(_.toString).sorted
    assert(batch.length == 4, s"expected all 4 windows, got ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming exact dedup drops in-horizon duplicates and matches the batch twin") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_stream_dedup").toString
    // 40 docs over 20 distinct texts, all within one watermark horizon —
    // every text must be emitted exactly once
    val rows = (0 until 40).map { i =>
      (s"d$i", java.sql.Timestamp.valueOf(f"2026-01-01 00:00:${i % 50}%02d"), s"text_${i % 20}")
    }
    rows.toDF("doc_id", "ts", "text").coalesce(1).write.mode("overwrite").parquet(dir)

    val q = graft.streaming.StreamingDedup.dedupDocs(spark, dir)
      .writeStream.format("memory").queryName("stream_dedup")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT text FROM stream_dedup")
      .collect().map(_.getString(0)).sorted
    val batch = graft.streaming.StreamingDedup.dedupDocsBatch(
      spark.read.schema(graft.streaming.StreamingDedup.docSchema).parquet(dir))
      .select($"text").collect().map(_.getString(0)).sorted
    assert(streamed.length == 20, s"expected 20 distinct texts, got ${streamed.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming dedup state is bounded: keys evicted past the horizon re-emit") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_stream_dedup_evict")
    val stage = Files.createTempDirectory("graft_stream_dedup_stage").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: A at 00:00 (+ an in-horizon dup to prove the drop),
    // batch 2: B at 00:30 → advances the watermark to 00:20, past A's
    //          expiry (event time + 10 min horizon = 00:10),
    // batch 3: C at 00:31 — DURING this batch's commit the state store
    //          evicts A (Spark removes expired keys at end-of-batch,
    //          after input processing, so an arrival in the eviction
    //          batch itself would still be deduplicated),
    // batch 4: A again at 00:25 (not late vs watermark 00:21) → with
    //          state evicted it must RE-emit — the bounded-state
    //          trade-off the operator documents.
    Seq(("d1", ts("2026-01-01 00:00:00"), "A"), ("dup", ts("2026-01-01 00:01:00"), "A"))
      .toDF("doc_id", "ts", "text").coalesce(1).write.mode("overwrite").parquet(s"$stage/f0")
    Seq(("d2", ts("2026-01-01 00:30:00"), "B"))
      .toDF("doc_id", "ts", "text").coalesce(1).write.mode("overwrite").parquet(s"$stage/f1")
    Seq(("d4", ts("2026-01-01 00:31:00"), "C"))
      .toDF("doc_id", "ts", "text").coalesce(1).write.mode("overwrite").parquet(s"$stage/f2")
    Seq(("d3", ts("2026-01-01 00:25:00"), "A"))
      .toDF("doc_id", "ts", "text").coalesce(1).write.mode("overwrite").parquet(s"$stage/f3")
    def movePart(from: String, to: String, mtimeOffsetSec: Long): Unit = {
      val part = new java.io.File(from).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = dir.resolve(to)
      Files.move(part.toPath, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + mtimeOffsetSec * 1000))
    }
    movePart(s"$stage/f0", "000.parquet", -180)
    movePart(s"$stage/f1", "001.parquet", -120)
    movePart(s"$stage/f2", "002.parquet", -60)
    movePart(s"$stage/f3", "003.parquet", 0)

    val q = graft.streaming.StreamingDedup
      .dedupDocs(spark, dir.toString, horizon = "10 minutes", maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("stream_dedup_evict")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val out = spark.sql("SELECT doc_id, text FROM stream_dedup_evict")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    // d1 (first A), d2 (B), d4 (C), d3 (A re-emitted after eviction);
    // dup dropped
    assert(out.map(_._1).sameElements(Array("d1", "d2", "d3", "d4")),
      s"got ${out.mkString(",")}")
  }

  test("BatchStage: distributed pin round-trips; release retains one commit generation") {
    import graft.streaming.BatchStage
    val stateDir = Files.createTempDirectory("stage").toString
    val stage = new BatchStage(Some(stateDir))
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val pinned1 = stage.pin(b1, 0L)
    // the pin is a stable parquet-backed copy with the batch's schema
    // (names/types; Spark file sources force nullable=true on read)
    assert(pinned1.schema.map(f => (f.name, f.dataType)) ==
      b1.schema.map(f => (f.name, f.dataType)))
    assert(pinned1.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    def staged(): Set[String] = {
      // identity-less writers stage under the `default` namespace
      val fs = new java.io.File(s"$stateDir/_staging/default").listFiles()
      if (fs == null) Set.empty else fs.map(_.getName).toSet
    }
    assert(staged() == Set("batch-0"))
    // commit 1: batch-0 moves to the retained generation — a state read
    // off the live handle just before this commit still resolves
    stage.release()
    assert(staged() == Set("batch-0"))
    assert(pinned1.count() == 2)
    stage.pin(Seq((3L, "c")).toDF("id", "v"), 1L)
    assert(staged() == Set("batch-0", "batch-1"))
    // commit 2: batch-0 (two commits old, nothing can reference it) is
    // swept; batch-1 is retained one more cycle
    stage.release()
    assert(staged() == Set("batch-1"))
    stage.release()
    assert(staged() == Set.empty)
    // a crashed-run leftover under the same namespace is swept, retained
    // generations are not
    Files.createDirectories(java.nio.file.Paths.get(s"$stateDir/_staging/default/batch-99"))
    stage.pin(Seq((4L, "d")).toDF("id", "v"), 2L)
    stage.release()
    assert(staged() == Set("batch-2"))
  }

  test("BatchStage: per-writer namespaces isolate two writers on one stateDir (ADVICE r4)") {
    import graft.streaming.BatchStage
    val stateDir = Files.createTempDirectory("stage2").toString
    val a = new BatchStage(Some(stateDir), Some("/ckpt/writerA"))
    val b = new BatchStage(Some(stateDir), Some("/ckpt/writerB"))
    // the SAME batchId in both writers: distinct namespaces, no collision
    val pa = a.pin(Seq((1L, "a")).toDF("id", "v"), 0L)
    val pb = b.pin(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), 0L)
    assert(pa.count() == 1 && pb.count() == 2)
    // writer A commits twice (full retention cycle): B's live staged
    // batch — same stateDir, same batch-0 name — must survive untouched
    a.release(); a.release()
    assert(pb.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    val namespaces = new java.io.File(s"$stateDir/_staging").listFiles().map(_.getName).toSet
    assert(namespaces.size == 2 && namespaces.forall(_.startsWith("w-")), namespaces)
    // a restart of writer A (same checkpoint spelling) lands in the same
    // namespace, so its own crash leftovers are governed by its commits
    val a2 = new BatchStage(Some(stateDir), Some("/ckpt/writerA"))
    a2.pin(Seq((9L, "z")).toDF("id", "v"), 5L)
    a2.release(); a2.release()
    assert(pb.count() == 2)
  }

  test("BatchStage: shape edge cases — zero-row batch, empty partitions, wide batch") {
    import graft.streaming.BatchStage
    val stage = new BatchStage(Some(Files.createTempDirectory("stage3").toString))
    // zero-row micro-batch: the parquet stage writes no data files, so
    // the read-back works ONLY because pin binds the batch's own schema
    // (schema inference over an empty dir would throw)
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    val p0 = stage.pin(empty, 0L)
    assert(p0.count() == 0)
    assert(p0.schema.map(f => (f.name, f.dataType)) ==
      empty.schema.map(f => (f.name, f.dataType)))
    // wide batch with empty partitions: fidelity is exact row content,
    // not partitioning (64 partitions over 100 rows leaves many empty)
    val wide = spark.range(0, 100).selectExpr("id", "CAST(id AS STRING) AS v")
      .repartition(64)
    val pw = stage.pin(wide, 1L)
    assert(pw.count() == 100)
    assert(pw.selectExpr("sum(id)").collect()(0).getLong(0) == 4950L)
    assert(pw.selectExpr("count(DISTINCT v)").collect()(0).getLong(0) == 100L)
    // release cycles sweep both shapes without error
    stage.release(); stage.release()
  }

  test("StreamProgress: identity-bound resume + backward epoch walk (ADVICE r3)") {
    import graft.streaming.StreamProgress
    import graft.tableio.StateStore
    val dir = Files.createTempDirectory("progress").toString
    val sidA = Some(StreamProgress.streamId("/ckpt/A"))
    val sidB = Some(StreamProgress.streamId("/ckpt/B"))
    assert(sidA != sidB)
    val dummy = Seq((1L, "x")).toDF("k", "v")
    // epoch 0: progress at batch 7 under lineage A
    StateStore.save(spark, dir, Seq("data" -> dummy,
      StreamProgress.Component -> StreamProgress.of(spark, 7L, sidA)))
    assert(StreamProgress.resumePosition(spark, dir, sidA) == 7L)
    // a DIFFERENT checkpoint lineage renumbers batches from 0 — the
    // skip must disarm, not silently drop genuinely new batches
    assert(StreamProgress.resumePosition(spark, dir, sidB) == -1L)
    // identity-less caller keeps the legacy scaladoc contract
    assert(StreamProgress.resumePosition(spark, dir, None) == 7L)
    // a later save WITHOUT a progress component (a direct state save to
    // the same dir) must not disarm replay protection: the walk finds
    // the newest progress-BEARING epoch (stale = safe lower bound)
    StateStore.save(spark, dir, Seq("data" -> dummy))
    assert(StreamProgress.resumePosition(spark, dir, sidA) == 7L)
    assert(StreamProgress.resumePosition(spark, dir, sidB) == -1L)
    // a newer progress-bearing epoch supersedes the older position
    StateStore.save(spark, dir, Seq("data" -> dummy,
      StreamProgress.Component -> StreamProgress.of(spark, 9L, sidA)))
    assert(StreamProgress.resumePosition(spark, dir, sidA) == 9L)
    assert(StreamProgress.resumePosition(spark, dir, None) == 9L)
  }
}
