package graft.streaming

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.tableio.StateStore

/** Live handle on a stream writer's maintained state, safe to read
  * between micro-batches (how long a state read off it stays
  * resolvable: [[BatchStage]]). */
final class Handle[S] private[streaming] (state0: S) {
  private val ref = new AtomicReference[S](state0)
  def state: S = ref.get()
  private[streaming] def set(s: S): Unit = ref.set(s)
}

/** The durable fold loop under every foreachBatch writer of this
  * package. A writer supplies only its per-batch fold; the loop owns
  * everything else.
  *
  * The foreachBatch body runs on the DRIVER between micro-batches (the
  * standard mutable-state-at-the-driver pattern), but a batch's rows
  * never land on the driver: each non-empty micro-batch is pinned by a
  * distributed staging write ([[BatchStage]]) and folded into the live
  * state, whose heavy work stays distributed exactly as in batch mode.
  *
  * DURABILITY: with `stateDir` set, the state commits through its
  * family's `save` every `commitEvery` folded batches, with the
  * just-folded batch id riding in the SAME atomic epoch as a
  * [[StreamProgress]] component. A restarted writer reads that
  * committed position at construction and skips every replayed batchId
  * at or below it: Spark commits its offset log only after foreachBatch
  * returns, so a crash between our epoch commit and the engine's offset
  * write replays a batch already folded, and the id check drops it. At
  * `commitEvery = 1` resume is therefore EXACTLY-ONCE. Above it a crash
  * loses at most `commitEvery − 1` folded-but-uncommitted batches, which
  * the engine's offset log does not replay.
  *
  * IDENTITY: batch ids are comparable only within one checkpoint
  * lineage. Pass `checkpointLocation` to the writer, not as a raw option
  * on the returned stream writer: the loop sets the option itself AND
  * binds the committed position to that lineage, so a stateDir
  * re-pointed at a new stream disarms the skip (at-least-once) instead
  * of silently dropping the renumbered batches ([[StreamProgress]]).
  *
  * COMPACTION: each commit reloads the saved snapshot and swaps the
  * handle to it. The maintained states are lazy unions of per-batch
  * pieces; the reload replaces each with one parquet-backed scan, so
  * plan width and executor block inventory stay O(commitEvery) on an
  * unbounded stream. Loads are bit-exact, so compaction changes no bit
  * of a later fold. `retainEpochs` then expires older epochs
  * ([[StateStore.expire]]), bounding storage at O(retainEpochs × state).
  *
  * STAGING RELEASE: after the reload no live state references the
  * staged batches, so the commit ends with [[BatchStage.release]]
  * (which keeps one extra commit generation for readers of the handle).
  *
  * A [[Refit]] hook runs at the commit point: the state saved is the
  * re-fit one, and it persists in the same epoch as the progress marker. */
private[streaming] object StateFold {

  /** Sticky commit-point re-fit: `advised` is evaluated on every
    * post-fold state, and if ANY batch since the last commit advised,
    * the next commit saves `refit(state)` (a per-commit-only check would
    * lose an early batch's advisory behind later quiet ones). */
  final case class Refit[S](advised: S => Boolean, refit: (SparkSession, S) => S)

  /** `save(spark, state, dir, extras)` commits the state plus `extras`
    * in one epoch; `load(spark, dir)` reads the newest epoch back. */
  def writer[T, S](input: Dataset[T], state0: S)
                  (save: (SparkSession, S, String, Seq[(String, DataFrame)]) => Unit,
                   load: (SparkSession, String) => S,
                   stateDir: Option[String], commitEvery: Int, retainEpochs: Option[Int],
                   checkpointLocation: Option[String], refit: Option[Refit[S]] = None)
                  (fold: (SparkSession, S, Dataset[T]) => S): (DataStreamWriter[T], Handle[S]) = {
    require(commitEvery >= 1, "commitEvery must be >= 1")
    val handle = new Handle(state0)
    val sid = checkpointLocation.map(StreamProgress.streamId)
    val resumeAfter = stateDir.fold(-1L)(StreamProgress.resumePosition(input.sparkSession, _, sid))
    val stage = new BatchStage(stateDir, checkpointLocation)
    var batches = 0L
    var refitPending = false
    val w = input.writeStream.foreachBatch { (batch: Dataset[T], batchId: Long) =>
      if (batchId > resumeAfter && !batch.isEmpty) {
        val spark = batch.sparkSession
        val st = fold(spark, handle.state, stage.pinDs(batch, batchId))
        batches += 1
        refit.foreach(r => refitPending ||= r.advised(st))
        handle.set(stateDir match {
          case Some(dir) if batches % commitEvery == 0 =>
            val committed = if (refitPending) refit.fold(st)(_.refit(spark, st)) else st
            refitPending = false
            save(spark, committed, dir,
              Seq(StreamProgress.Component -> StreamProgress.of(spark, batchId, sid)))
            val loaded = load(spark, dir)
            retainEpochs.foreach(StateStore.expire(dir, _))
            stage.release()
            loaded
          case _ => st
        })
      }
    }
    (checkpointLocation.fold(w)(loc => w.option("checkpointLocation", loc)), handle)
  }
}
