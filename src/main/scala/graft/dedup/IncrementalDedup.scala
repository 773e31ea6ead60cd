package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.candidates.PairBlocking

/** Continuous MinHash-LSH deduplication: maintain the banded signature
  * index under delta doc batches and emit each batch's NEW duplicate
  * candidate pairs with delta-sized work — the 10^12-doc twin of the
  * batch `q_minhash_pairs` operator (reference has no incremental
  * path; this is engine-side surface for the continuous-ingest mode,
  * same contract as [[graft.IncrementalAlign]]).
  *
  * State = the banded index (doc_id, band, key) plus the accumulated
  * pair set (d1 < d2). A delta batch contributes exactly two pair
  * classes, disjoint from each other and from the committed set:
  *
  *  - WITHIN pairs (both docs new): skew-safe [[PairBlocking]] over the
  *    delta's own bands — hot band keys tile at ≤cap² work/task;
  *  - CROSS pairs (one doc new): the delta bands join the committed
  *    index on (band, key). The delta side rides a broadcast hint while
  *    a bounded probe proves it ≤ `BroadcastMaxRows` (no shuffle of the
  *    corpus-sized index, no stragglers — each index row meets only its
  *    bucket's delta docs); past the cap the hint drops and Catalyst
  *    shuffle-joins, the correct plan for a corpus-sized "delta".
  *
  * Exactness (gated in PairBlockingSpec): folding delta over any batch
  * split reproduces the single-batch operator's pair set row for row,
  * and `retract` inverts `delta`. Contract: doc_ids are unique across
  * live batches (retract before re-adding a doc).
  *
  * State frames are lineage-cut per generation (the IncrementalAlign
  * discipline): reliable checkpoint under a checkpoint dir, lazy local
  * checkpoint otherwise — an unbounded batch chain keeps O(1) plan
  * depth instead of unioning B generations deep.
  *
  * This is the one banded-pair maintainer of the dedup family:
  * [[IncrementalSimhash]] is a signature codec over it (its band rows
  * carry the packed signature, and its candidates are verified by
  * exact Hamming distance instead of a plain `distinct`).
  */
object IncrementalDedup {

  final case class DedupState(bands: DataFrame, pairs: DataFrame)

  /** Largest delta (in band rows) whose cross join rides a broadcast
    * hint; a larger one shuffle-joins the committed index. */
  private val BroadcastMaxRows = 4000000L

  private def cut(df: DataFrame): DataFrame = graft.util.Lineage.cut(df)

  /** Zero-batch state: a [[delta]] over it IS the bootstrap (cross
    * pairs against an empty index vanish, leaving exactly
    * [[initial]]'s within-batch enumeration) — the natural seed for
    * the streaming composition. */
  def emptyState(spark: SparkSession): DedupState = {
    import spark.implicits._
    DedupState(Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "key"),
      Seq.empty[(Long, Long)].toDF("d1", "d2"))
  }

  /** Bootstrap from the first batch's bands (doc_id, band, key). */
  def initial(spark: SparkSession, bands: DataFrame, cap: Int = 4096): DedupState =
    initialWith(bands, cap)(_.distinct())

  /** Merge a delta batch: returns the updated state and the batch's new
    * pairs (every pair with at least one delta doc — disjoint from the
    * committed set, which never needs rescanning). */
  def delta(spark: SparkSession, state: DedupState, newBands: DataFrame,
            cap: Int = 4096): (DedupState, DataFrame) =
    deltaWith(state, newBands, cap)(_.distinct())

  /** Retract a doc set (takedown): drop its index rows and every pair
    * touching it — a delta-sized broadcast filter on both frames.
    * `retract(delta(initial(b1), b2)._1, docs(b2)) == initial(b1)`. */
  def retract(spark: SparkSession, state: DedupState, docIds: Set[Long]): DedupState =
    retractWith(spark, state, docIds)(identity)

  /** [[initial]] with `toPairs` turning raw candidate pairs (d1 < d2
    * over band-row doc_ids, duplicates possible) into state pairs. */
  private[dedup] def initialWith(bands: DataFrame, cap: Int)
                                (toPairs: DataFrame => DataFrame): DedupState =
    DedupState(cut(bands.select(col("doc_id"), col("band"), col("key"))),
      cut(toPairs(PairBlocking.pairs(bands, cap))))

  /** [[delta]] with `toPairs` as in [[initialWith]]. */
  private[dedup] def deltaWith(state: DedupState, newBands0: DataFrame, cap: Int)
                              (toPairs: DataFrame => DataFrame): (DedupState, DataFrame) = {
    val newBands = newBands0.select(col("doc_id"), col("band"), col("key"))
    val within = PairBlocking.pairs(newBands, cap)
    val deltaSide =
      if (graft.util.BoundedProbe.atMost(newBands, BroadcastMaxRows)) broadcast(newBands)
      else newBands
    val cross = state.bands.as("s")
      .join(deltaSide.as("n"),
        col("s.band") === col("n.band") && col("s.key") === col("n.key"))
      .select(least(col("s.doc_id"), col("n.doc_id")).as("d1"),
        greatest(col("s.doc_id"), col("n.doc_id")).as("d2"))
    val newPairs = cut(toPairs(within.unionByName(cross)))
    // act on the cut now: a pairs union still holding the distinct's
    // pending shuffle keeps one commit file per input partition, so a
    // durable writer's pairs would gain a file every batch
    // (StateStore.runsNoShuffle)
    newPairs.count()
    val stateU = DedupState(
      cut(state.bands.unionByName(newBands)),
      cut(state.pairs.unionByName(newPairs)))
    (stateU, newPairs)
  }

  /** [[retract]] with `docOf` mapping a band row's doc_id to the
    * document id that `docIds` names. */
  private[dedup] def retractWith(spark: SparkSession, state: DedupState, docIds: Set[Long])
                                (docOf: Long => Long): DedupState = {
    val bc = spark.sparkContext.broadcast(docIds)
    DedupState(
      cut(state.bands.filter(r => !bc.value.contains(docOf(r.getAs[Long]("doc_id"))))),
      cut(state.pairs.filter(r =>
        !bc.value.contains(r.getAs[Long]("d1")) && !bc.value.contains(r.getAs[Long]("d2")))))
  }

  /** Durable state: both frames commit atomically via
    * [[graft.tableio.StateStore]] (epoch marker last — a save killed
    * mid-commit is invisible; epochs time-travel; retention via
    * `StateStore.expire`). A later session resumes with [[load]] and
    * keeps folding deltas — gated in PairBlockingSpec: a delta over the
    * resumed state equals the delta over the live one. `extras` (a
    * stream writer's progress marker) commit in the same epoch; [[load]]
    * ignores them. The SimHash state saves and loads through the same
    * pair: its pairs' extra `hamming` column rides along. */
  def save(spark: SparkSession, state: DedupState, dir: String,
           extras: Seq[(String, DataFrame)] = Nil): Long =
    graft.tableio.StateStore.save(spark, dir,
      extras ++ Seq("bands" -> state.bands, "pairs" -> state.pairs))

  def load(spark: SparkSession, dir: String, epoch: Option[Long] = None): DedupState = {
    val m = graft.tableio.StateStore.load(spark, dir, epoch)
    DedupState(cut(m("bands")), cut(m("pairs")))
  }
}
