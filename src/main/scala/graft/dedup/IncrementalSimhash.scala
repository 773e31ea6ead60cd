package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.candidates.PairBlocking

/** Continuous SimHash deduplication: maintain the banded 16-bit
  * signature index under delta doc batches and emit each batch's NEW
  * near-duplicate pairs (Hamming ≤ maxHamming) at delta-sized cost —
  * the continuous-ingest twin of the batch `q_simhash_pairs` operator,
  * completing the dedup family's incremental surface next to
  * [[IncrementalDedup]] (MinHash-LSH). The reference has no dedup at
  * all; this is engine-side surface for the 10^12-doc operating mode.
  *
  * Blocking is the same pigeonhole-lossless banding as the batch
  * operator (4 bands × 4 bits: a pair within Hamming distance 2
  * differs in at most 2 bands, so it shares at least one band key),
  * which makes the incremental fold EXACT, not approximate: every
  * Hamming-≤2 pair is enumerated in the batch where its later doc
  * arrives — as a WITHIN pair (both docs new, skew-tiled
  * [[PairBlocking]]) or a CROSS pair (delta bands probe the committed
  * index on (band, key); the delta side rides a broadcast hint while a
  * bounded probe proves it small, so the corpus-sized index never
  * shuffles).
  *
  * The signature rides INSIDE the blocking id — `packed = doc_id *
  * 2^16 + simhash` — so candidate verification (exact Hamming) is
  * inline arithmetic on the pair row: no join back to a corpus-sized
  * signature table per batch. doc_id order is preserved by the pack
  * (signature bits are strictly low-order), so pair orientation
  * (d1 < d2) is the doc-id orientation. Bounds: doc_id < 2^47 at
  * 16-bit signatures — comfortable at the 10^12-doc (2^40) design
  * point. At production signature widths (64+ bits) the pack no
  * longer fits one long; there the signature denormalizes as a carry
  * column through the blocking join (the [[graft.candidates.BucketIndex]]
  * discipline) instead — same plan shape, one extra shuffled column.
  *
  * State frames are lineage-cut per generation (reliable checkpoint
  * under a checkpoint dir, lazy local otherwise) so an unbounded batch
  * chain keeps O(1) plan depth. Contract: doc_ids unique across live
  * batches (retract before re-adding).
  */
object IncrementalSimhash {

  /** bands: packed (doc_id, band, key) index rows; pairs: accumulated
    * (d1, d2, hamming) with d1 < d2 in DOC ids. */
  final case class SimhashState(bands: DataFrame, pairs: DataFrame)

  private val Pack = 65536L // 2^16: signature occupies the low 16 bits

  private def cut(df: DataFrame): DataFrame = graft.util.Lineage.cut(df)

  /** Banded index rows for a signature batch (doc_id, simhash) →
    * (packed doc_id, band, key); 4 bands × 4 bits over the 16-bit
    * signature, matching `q_simhash_pairs`' geometry. */
  def bandRows(sigs: DataFrame): DataFrame =
    sigs.select((col("doc_id") * Pack + col("simhash")).as("doc_id"),
        col("simhash"), explode(expr("sequence(0, 3)")).as("band"))
      .select(col("doc_id"), col("band"),
        expr("shiftright(simhash, band * 4) % 16").as("key"))

  /** Packed candidate pairs → verified (d1, d2, hamming) rows: unpack
    * both ids, compute the exact Hamming distance from the in-row
    * signatures, keep pairs within the threshold. */
  private def verified(cands: DataFrame, maxHamming: Int): DataFrame =
    cands.distinct()
      .select(expr(s"d1 DIV $Pack").as("doc1"), expr(s"d2 DIV $Pack").as("doc2"),
        expr(s"CAST(bit_count((d1 % $Pack) ^ (d2 % $Pack)) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc1").as("d1"), col("doc2").as("d2"), col("hamming"))

  /** Zero-batch state: a [[delta]] over it IS the bootstrap. */
  def emptyState(spark: SparkSession): SimhashState = {
    import spark.implicits._
    SimhashState(Seq.empty[(Long, Int, Long)].toDF("doc_id", "band", "key"),
      Seq.empty[(Long, Long, Long)].toDF("d1", "d2", "hamming"))
  }

  /** Bootstrap from the first signature batch (doc_id, simhash). */
  def initial(spark: SparkSession, sigs: DataFrame, cap: Int = 4096,
              maxHamming: Int = 2): SimhashState = {
    val bands = bandRows(sigs)
    SimhashState(cut(bands),
      cut(verified(PairBlocking.pairs(bands, cap), maxHamming)))
  }

  /** Merge a delta signature batch: returns the updated state and the
    * batch's new pairs (every pair with at least one delta doc —
    * disjoint from the committed set, which never rescans). */
  def delta(spark: SparkSession, state: SimhashState, newSigs: DataFrame,
            cap: Int = 4096, maxHamming: Int = 2,
            broadcastMaxRows: Long = 4000000L): (SimhashState, DataFrame) = {
    val newBands = bandRows(newSigs)
    val within = PairBlocking.pairs(newBands, cap)
    val deltaSide =
      if (graft.util.BoundedProbe.atMost(newBands, broadcastMaxRows)) broadcast(newBands)
      else newBands
    val cross = state.bands.as("s")
      .join(deltaSide.as("n"),
        col("s.band") === col("n.band") && col("s.key") === col("n.key"))
      .select(least(col("s.doc_id"), col("n.doc_id")).as("d1"),
        greatest(col("s.doc_id"), col("n.doc_id")).as("d2"))
    val newPairs = cut(verified(within.unionByName(cross), maxHamming))
    val stateU = SimhashState(
      cut(state.bands.unionByName(newBands)),
      cut(state.pairs.unionByName(newPairs)))
    (stateU, newPairs)
  }

  /** Durable state via [[graft.tableio.StateStore]] — atomic two-table
    * epochs, time travel, retention; resume with [[load]] and keep
    * folding (gated in PairBlockingSpec). `extras` commit in the same
    * epoch, as in [[IncrementalDedup.save]]. */
  def save(spark: SparkSession, state: SimhashState, dir: String,
           extras: Seq[(String, DataFrame)] = Nil): Long =
    graft.tableio.StateStore.save(spark, dir,
      extras ++ Seq("bands" -> state.bands, "pairs" -> state.pairs))

  def load(spark: SparkSession, dir: String, epoch: Option[Long] = None): SimhashState = {
    val m = graft.tableio.StateStore.load(spark, dir, epoch)
    SimhashState(cut(m("bands")), cut(m("pairs")))
  }

  /** Retract a doc set (takedown): drop its index rows and every pair
    * touching it — delta-sized broadcast filters.
    * `retract(delta(initial(b1), b2)._1, docs(b2)) == initial(b1)`. */
  def retract(spark: SparkSession, state: SimhashState, docIds: Set[Long]): SimhashState = {
    val bc = spark.sparkContext.broadcast(docIds)
    SimhashState(
      cut(state.bands.filter(r => !bc.value.contains(r.getAs[Long]("doc_id") / Pack))),
      cut(state.pairs.filter(r =>
        !bc.value.contains(r.getAs[Long]("d1")) && !bc.value.contains(r.getAs[Long]("d2")))))
  }
}
