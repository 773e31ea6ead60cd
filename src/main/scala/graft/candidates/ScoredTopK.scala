package graft.candidates

import graft.embed.Embedder
import graft.kg.Emb
import graft.util.DetHash

/** Mergeable exact top-k scoring state — the candidate-stage primitive of
  * the CONTINUOUS-construction mode (IncrementalAlign).
  *
  * [[ExactTopK]] computes a query's top-k and its RSM calibration in one
  * pass and keeps only z-scores, which is the right shape for a one-shot
  * batch but useless for maintenance: z-scores cannot be merged when the
  * corpus grows. This module keeps the per-query state in a mergeable
  * form instead:
  *
  *  - the top-k list carries RAW cosines under the TOTAL order
  *    (cos desc, id asc) — top-k lists over disjoint corpus slices merge
  *    exactly to the top-k of the union ([[merge]] law, property-gated);
  *  - RSM calibration reads a DETERMINISTIC ORDER-STATISTIC sample of
  *    the corpus (the `s` ids with smallest (hash(id), id), the same
  *    discipline as CellJoin.countAndSample): sample membership is a pure
  *    set function of the corpus id set, so a committed sample merges
  *    with a delta batch's ids into EXACTLY the union's sample
  *    ([[mergeSampleIds]]), and the per-query moments are recomputed
  *    sequentially over the sample in ascending-id order
  *    ([[CellJoin.calib]]) — bit-identical between an incremental run and
  *    a from-scratch run of the union.
  *
  * All kernels are pure and driver/executor-agnostic; tests gate the
  * merge and calibration laws directly.
  */
object ScoredTopK {

  /** Per-query scored state: exact top-L (ids + raw cosines under
    * (cos desc, id asc), L = dstIds.length, stored with SLACK — up to
    * k' = 2k entries, see below), the RSM moments over the calibration
    * sample, and the accepted rank-1 edge (-1 = below threshold).
    * `emb` is the query's CURRENT encoding, denormalized into the row
    * so maintenance passes are map-only over this one table.
    *
    * SLACK INVARIANT: the stored list is always the EXACT top-L of the
    * query's current corpus; `complete` means the list is ALL of the
    * corpus (never truncated at k'). The slack exists for corpus-side
    * re-encodings: a changed dst's entries are DROPPED from the list
    * (the remainder is exactly the top-(L−d) of the unchanged corpus)
    * and its new score re-enters through the delta merge — without
    * slack, a single changed dst inside a k-list would force a full
    * corpus re-score of that query (measured: 59% of all queries per
    * batch on the dense fixture). Only when drops shrink a list below
    * k does the query re-score. */
  final case class ScoredQuery(srcId: Long, emb: Array[Float], dstIds: Array[Long],
                               cos: Array[Double], mu: Double, sigma: Double,
                               acceptedDst: Long, complete: Boolean)

  /** total order of candidates: higher cosine first, id as tiebreak */
  @inline def better(c1: Double, id1: Long, c2: Double, id2: Long): Boolean =
    c1 > c2 || (c1 == c2 && id1 < id2)

  /** Exact top-k of one query against a corpus slice. */
  def scoreAll(q: Array[Float], corpus: Array[Emb], k: Int): (Array[Long], Array[Double]) = {
    val buf = new CellJoin.TopKBuf(k)
    var i = 0
    while (i < corpus.length) {
      buf.offer(corpus(i).id, Embedder.dot(q, corpus(i).emb))
      i += 1
    }
    (buf.resultIds, buf.resultCos)
  }

  /** Merge two top-k lists over DISJOINT corpus slices: two-pointer under
    * the total order — exactly the union's top-k (property-gated). Both
    * inputs must be complete-or-k-truncated views of their slices. */
  def merge(idsA: Array[Long], cosA: Array[Double],
            idsB: Array[Long], cosB: Array[Double], k: Int): (Array[Long], Array[Double]) = {
    val n = math.min(k, idsA.length + idsB.length)
    val ids = new Array[Long](n)
    val cs = new Array[Double](n)
    var a = 0; var b = 0; var o = 0
    while (o < n) {
      val takeA = b >= idsB.length ||
        (a < idsA.length && better(cosA(a), idsA(a), cosB(b), idsB(b)))
      if (takeA) { ids(o) = idsA(a); cs(o) = cosA(a); a += 1 }
      else { ids(o) = idsB(b); cs(o) = cosB(b); b += 1 }
      o += 1
    }
    (ids, cs)
  }

  /** Maintenance merge of two exact top-lists over disjoint slices with
    * completeness tracking. A TRUNCATED list that exhausts mid-merge
    * ends the exact prefix (its unseen entries could outrank the other
    * list's rest); a COMPLETE list exhausting is harmless. Returns
    * (ids, cos, complete): the EXACT top-(out length) of the union, and
    * whether it is ALL of the union. Capped at `kPrime`; an output
    * shorter than the caller's k means "not enough exact entries
    * survive — re-score this query". */
  def mergeMaint(idsA: Array[Long], cosA: Array[Double], completeA: Boolean,
                 idsB: Array[Long], cosB: Array[Double], completeB: Boolean,
                 kPrime: Int): (Array[Long], Array[Double], Boolean) = {
    val ids = new Array[Long](kPrime)
    val cs = new Array[Double](kPrime)
    var a = 0; var b = 0; var o = 0
    var truncatedExhausted = false
    while (o < kPrime && !truncatedExhausted) {
      val aAvail = a < idsA.length
      val bAvail = b < idsB.length
      if (!aAvail && !bAvail) truncatedExhausted = true // both done — loop ends
      else if (!aAvail && !completeA) truncatedExhausted = true
      else if (!bAvail && !completeB) truncatedExhausted = true
      else {
        val takeA = !bAvail || (aAvail && better(cosA(a), idsA(a), cosB(b), idsB(b)))
        if (takeA) { ids(o) = idsA(a); cs(o) = cosA(a); a += 1 }
        else { ids(o) = idsB(b); cs(o) = cosB(b); b += 1 }
        o += 1
      }
    }
    val allConsumed = a >= idsA.length && b >= idsB.length
    val complete = allConsumed && completeA && completeB
    (java.util.Arrays.copyOf(ids, o), java.util.Arrays.copyOf(cs, o), complete)
  }

  /** Drop entries whose dst is in `gone` (re-encoded corpus rows): the
    * remainder is exactly the top-(L−d) of (slice ∖ gone); completeness
    * is preserved (a complete list minus gone members is all of the
    * shrunken slice). */
  def dropIds(ids: Array[Long], cs: Array[Double],
              gone: Long => Boolean): (Array[Long], Array[Double]) = {
    var d = 0
    var i = 0
    while (i < ids.length) { if (gone(ids(i))) d += 1; i += 1 }
    if (d == 0) (ids, cs)
    else {
      val oi = new Array[Long](ids.length - d)
      val oc = new Array[Double](ids.length - d)
      var o = 0; i = 0
      while (i < ids.length) {
        if (!gone(ids(i))) { oi(o) = ids(i); oc(o) = cs(i); o += 1 }
        i += 1
      }
      (oi, oc)
    }
  }

  /** sample-membership key — CellJoin.countAndSample uses it too, so both
    * candidate stacks sample identically */
  @inline def sampleKey(id: Long): Long = DetHash.nonNeg(DetHash.h1(13L, id))

  /** The `s` ids with smallest (sampleKey, id) from `ids` — returned
    * ASCENDING BY ID (the calibration iteration order). */
  def sampleIdsOf(ids: Array[Long], s: Int): Array[Long] =
    ids.distinct.sortBy(id => (sampleKey(id), id)).take(s).sorted

  /** Merge a committed sample with a delta batch's ids: order statistics
    * under a total order compose — the result is EXACTLY
    * `sampleIdsOf(committedCorpusIds ++ deltaIds, s)` (property-gated)
    * provided `committed` was itself the full committed sample. */
  def mergeSampleIds(committed: Array[Long], deltaIds: Array[Long], s: Int): Array[Long] =
    sampleIdsOf(committed ++ deltaIds, s)

  /** Assemble the final per-query row: z-accept the rank-1 candidate at
    * `tau` (z = (cos - mu) / sigma, MoCoTrainer.rsmScore). */
  def finish(srcId: Long, emb: Array[Float], ids: Array[Long], cs: Array[Double],
             sample: Array[Emb], tau: Double, complete: Boolean): ScoredQuery = {
    val (mu, sigma) = CellJoin.calib(emb, sample)
    val accepted =
      if (ids.nonEmpty && graft.align.MoCoTrainer.rsmScore(cs(0), mu, sigma) >= tau) ids(0)
      else -1L
    ScoredQuery(srcId, emb, ids, cs, mu, sigma, accepted, complete)
  }
}
