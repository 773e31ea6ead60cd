package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import IncrementalDedup.DedupState

/** Continuous SimHash deduplication: maintain the banded 16-bit
  * signature index under delta doc batches and emit each batch's NEW
  * near-duplicate pairs (Hamming ≤ 2) at delta-sized cost —
  * the continuous-ingest twin of the batch `q_simhash_pairs` operator.
  * The reference has no dedup at all; this is engine-side surface for
  * the 10^12-doc operating mode.
  *
  * This object is a signature codec over [[IncrementalDedup]], the
  * family's one banded-pair maintainer: it turns signatures into band
  * rows and verifies candidate pairs; the within-delta
  * [[graft.candidates.PairBlocking]], the broadcast-probed cross join
  * against the committed index, the lineage cuts and the durable
  * `save`/`load` are the maintainer's.
  *
  * Blocking is the same pigeonhole-lossless banding as the batch
  * operator (4 bands × 4 bits: a pair within Hamming distance 2
  * differs in at most 2 bands, so it shares at least one band key),
  * which makes the incremental fold EXACT, not approximate: every
  * Hamming-≤2 pair is enumerated in the batch where its later doc
  * arrives.
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
  * State: bands are packed (doc_id, band, key) index rows; pairs are
  * (d1, d2, hamming) with d1 < d2 in DOC ids. Contract: doc_ids unique
  * across live batches (retract before re-adding).
  */
object IncrementalSimhash {

  private val Pack = 65536L // 2^16: signature occupies the low 16 bits

  /** Largest Hamming distance kept — the most the 4-band geometry
    * finds losslessly. */
  private val MaxHamming = 2

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
  private def verified(cands: DataFrame): DataFrame =
    cands.distinct()
      .select(expr(s"d1 DIV $Pack").as("doc1"), expr(s"d2 DIV $Pack").as("doc2"),
        expr(s"CAST(bit_count((d1 % $Pack) ^ (d2 % $Pack)) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= MaxHamming)
      .select(col("doc1").as("d1"), col("doc2").as("d2"), col("hamming"))

  /** Zero-batch state: a [[delta]] over it IS the bootstrap. */
  def emptyState(spark: SparkSession): DedupState = {
    import spark.implicits._
    IncrementalDedup.emptyState(spark)
      .copy(pairs = Seq.empty[(Long, Long, Long)].toDF("d1", "d2", "hamming"))
  }

  /** Bootstrap from the first signature batch (doc_id, simhash). */
  def initial(spark: SparkSession, sigs: DataFrame, cap: Int = 4096): DedupState =
    IncrementalDedup.initialWith(bandRows(sigs), cap)(verified)

  /** Merge a delta signature batch: returns the updated state and the
    * batch's new pairs (every pair with at least one delta doc —
    * disjoint from the committed set, which never rescans). */
  def delta(spark: SparkSession, state: DedupState, newSigs: DataFrame,
            cap: Int = 4096): (DedupState, DataFrame) =
    IncrementalDedup.deltaWith(state, bandRows(newSigs), cap)(verified)

  /** Retract a doc set (takedown): drop its index rows and every pair
    * touching it. `retract(delta(initial(b1), b2)._1, docs(b2)) ==
    * initial(b1)`. */
  def retract(spark: SparkSession, state: DedupState, docIds: Set[Long]): DedupState =
    IncrementalDedup.retractWith(spark, state, docIds)(_ / Pack)
}
