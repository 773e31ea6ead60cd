package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tableio.{StateStore, TableIO}

/** Stream-position bookkeeping for durable foreachBatch writers: the
  * last folded micro-batch id commits as a `progress` component INSIDE
  * the same state epoch (one atomic marker covers data + position), and
  * writers skip every replayed batchId ≤ the committed position. This
  * is what makes durable resume EXACTLY-ONCE at commitEvery=1: Spark
  * commits its own offset log only after foreachBatch returns, so a
  * crash between our epoch commit and the engine's offset write
  * replays a batch we already folded — the id check drops it instead
  * of double-folding. (With commitEvery>1 durability is best-effort
  * every N batches: a crash loses at most N−1 folded-but-uncommitted
  * batches, which the engine's offset log will NOT replay — callers
  * wanting exactly-once resume use commitEvery=1.)
  *
  * STREAM IDENTITY (round 4, ADVICE r3): batch ids are only comparable
  * within one engine checkpoint lineage — a fresh checkpointLocation
  * renumbers genuinely new batches from 0, and a bare id check would
  * silently drop them. The progress component therefore also records a
  * stream identity (the hash of the checkpointLocation the writer was
  * given), and [[resumePosition]] DISABLES the skip when the persisted
  * identity does not match the current one: re-pointing an existing
  * stateDir at a new stream degrades to at-least-once instead of
  * silently losing data. Writers
  * that are not given a checkpointLocation record no identity and keep
  * the previous scaladoc-contract behavior (the caller guarantees one
  * lineage). */
object StreamProgress {

  val Component = "progress"

  /** Stable identity for a checkpoint lineage: a hash of the
    * checkpointLocation string (content-derived — survives restarts,
    * differs across locations). Trailing slashes are stripped so the
    * two spellings of one directory hash identically; deeper
    * equivalences (relative vs absolute paths, scheme case in URIs)
    * cannot be resolved portably for remote locations — callers must
    * pass the SAME spelling across restarts, and the failure mode of
    * not doing so is the safe direction (identities differ → the skip
    * disarms → at-least-once, never silent loss). */
  def streamId(checkpointLocation: String): Long = {
    val norm = checkpointLocation.reverse.dropWhile(_ == '/').reverse
    norm.foldLeft(1125899906842597L)((h, c) => 31 * h + c)
  }

  /** 1-row frame recording the just-folded batch id and the stream
    * identity it is numbered in (null when the writer was not given a
    * checkpointLocation). */
  def of(spark: SparkSession, batchId: Long, streamId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    Seq((batchId, streamId)).toDF("batch_id", "stream_id")
  }

  /** Committed stream position to resume after: the newest epoch that
    * CONTAINS a progress component (walked backward — a later save to
    * the same dir without progress, e.g. a direct IncrementalAlign.save,
    * must not disarm replay protection: an older position is still a
    * safe lower bound for the skip; ADVICE r3). Returns -1 (skip
    * nothing) when no epoch recorded progress, or when both the
    * persisted and current stream identities are present and DIFFER
    * (the stream was re-pointed — its batch numbering restarted). */
  def resumePosition(spark: SparkSession, dir: String, currentId: Option[Long]): Long =
    StateStore.epochs(dir).reverse.iterator
      .flatMap(k => StateStore.readEpoch(dir, k).get(Component))
      .map { id =>
        val row = TableIO.readAt(spark, s"$dir/$Component", id)
          .select("batch_id", "stream_id").collect().head
        val persistedId = if (row.isNullAt(1)) None else Some(row.getLong(1))
        (persistedId, currentId) match {
          case (Some(p), Some(c)) if p != c => -1L // new lineage: ids not comparable
          case _                            => row.getLong(0)
        }
      }
      .nextOption()
      .getOrElse(-1L)
}
