package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._
import graft.dedup.{IncrementalDedup, IncrementalSimhash}

/** Streaming exact deduplication — the continuous-ingest twin of the
  * batch hash-groupBy dedup (TextQueries.qDedupExact): documents
  * arriving as parquet files under a directory are emitted once per
  * distinct text, duplicates dropped as they stream in.
  *
  * Bounded state at 100-TB scale: keying the dedup on the 64-bit text
  * hash (not the text itself) keeps each state row at a fixed ~8 bytes
  * of key, and `dropDuplicatesWithinWatermark` + `withWatermark` lets
  * the state store EVICT keys older than the lateness horizon — an
  * unbounded-corpus stream holds only the horizon's worth of keys, the
  * same O(horizon) state discipline as StreamingEvents' windows. A
  * duplicate arriving inside the horizon of its first occurrence is
  * dropped (the exact-dedup contract for continuous ingest, where
  * near-simultaneous re-crawls are the duplicate mode); one arriving
  * after eviction re-emits — the standard watermark trade-off,
  * re-resolved downstream by the batch dedup over the committed table.
  *
  * Hash-key caveat (declared, same as the batch MinHash family): a
  * 64-bit collision conflates two distinct texts; at the reference's
  * corpus sizes the birthday bound keeps that below ~1e-7 per 10^6
  * docs, and the committed batch pass compares full texts.
  */
object StreamingDedup {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("ts", TimestampType),
    StructField("text", StringType)))

  /** Streaming (doc_id, ts, text) rows with duplicate texts dropped
    * within `horizon` of first occurrence. State is keyed on
    * xxhash64(text) and evicted past the watermark. */
  def dedupDocs(spark: SparkSession, inputDir: String,
                horizon: String = "10 minutes",
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val rd = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.fold(rd)(n => rd.option("maxFilesPerTrigger", n))
      .parquet(inputDir)
      .withColumn("text_hash", xxhash64(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("text_hash")
      .select(col("doc_id"), col("ts"), col("text"))
  }

  /** NEAR-dup streaming composition: a stream of banded signature rows
    * (doc_id, band, key) drives [[IncrementalDedup.delta]] once per
    * micro-batch through the durable fold loop ([[StateFold]]) — the
    * maintained index + accumulated pair set equal the one-shot batch
    * operator after any batch prefix (the IncrementalDedup fold law,
    * re-gated through the stream in PairBlockingSpec). Start from
    * [[IncrementalDedup.emptyState]]: a delta over the empty state IS
    * the bootstrap. */
  def lshWriter(bands: DataFrame,
                state0: IncrementalDedup.DedupState,
                cap: Int = 4096,
                stateDir: Option[String] = None,
                commitEvery: Int = 1,
                retainEpochs: Option[Int] = None,
                checkpointLocation: Option[String] = None)
      : (DataStreamWriter[Row], Handle[IncrementalDedup.DedupState]) =
    StateFold.writer(bands, state0)(IncrementalDedup.save(_, _, _, _), IncrementalDedup.load(_, _),
        stateDir, commitEvery, retainEpochs, checkpointLocation) { (spark, st, rows) =>
      IncrementalDedup.delta(spark, st, rows, cap)._1
    }

  /** SimHash streaming composition: a stream of signature rows
    * (doc_id, simhash) drives [[IncrementalSimhash.delta]] once per
    * micro-batch — the maintained banded index + accumulated Hamming-≤2
    * pair set equal the one-shot batch operator after any batch prefix
    * (pigeonhole banding is lossless across micro-batch boundaries too).
    * Start from [[IncrementalSimhash.emptyState]]. */
  def simhashWriter(sigs: DataFrame,
                    state0: IncrementalDedup.DedupState,
                    cap: Int = 4096,
                    stateDir: Option[String] = None,
                    commitEvery: Int = 1,
                    retainEpochs: Option[Int] = None,
                    checkpointLocation: Option[String] = None)
      : (DataStreamWriter[Row], Handle[IncrementalDedup.DedupState]) =
    StateFold.writer(sigs, state0)(IncrementalDedup.save(_, _, _, _), IncrementalDedup.load(_, _),
        stateDir, commitEvery, retainEpochs, checkpointLocation) { (spark, st, rows) =>
      IncrementalSimhash.delta(spark, st, rows, cap)._1
    }

  /** CDC composition for the LSH dedup index: one stream carries adds
    * AND retraction tombstones — rows (op, doc_id, band, key) where
    * op="add" rows are banded index rows and op="retract" rows carry
    * only the doc_id (band/key ignored). Per micro-batch, retractions
    * apply FIRST then additions run as one delta (a batch may retract
    * and re-add a doc), so a takedown arriving mid-stream drops the
    * doc's index rows and every accumulated pair touching it at
    * delta-sized cost. Tombstones for never-committed docs are no-ops. */
  def lshWriterCdc(events: DataFrame,
                   state0: IncrementalDedup.DedupState,
                   cap: Int = 4096,
                   stateDir: Option[String] = None,
                   commitEvery: Int = 1,
                   retainEpochs: Option[Int] = None,
                   checkpointLocation: Option[String] = None)
      : (DataStreamWriter[Row], Handle[IncrementalDedup.DedupState]) =
    StateFold.writer(events, state0)(IncrementalDedup.save(_, _, _, _), IncrementalDedup.load(_, _),
        stateDir, commitEvery, retainEpochs, checkpointLocation) { (spark, st0, evs) =>
      // tombstone ids are the one driver-side set (the retract
      // API's own delta-sized contract); add rows stay distributed
      val tombstones = evs.filter(col("op") === "retract")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val adds = evs.filter(col("op") === "add")
        .select(col("doc_id"), col("band"), col("key"))
      var st = st0
      if (tombstones.nonEmpty) st = IncrementalDedup.retract(spark, st, tombstones)
      if (!adds.isEmpty) st = IncrementalDedup.delta(spark, st, adds, cap)._1
      st
    }

  /** Batch twin over the same files — one row per distinct text (the
    * first by event time, doc_id tie-break), for parity tests and for
    * re-resolving post-eviction re-emits over the committed table. */
  def dedupDocsBatch(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("text_hash"))
      .orderBy(col("ts").asc, col("doc_id").asc)
    docs.withColumn("text_hash", xxhash64(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("ts"), col("text"))
  }
}
