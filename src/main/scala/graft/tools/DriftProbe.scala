package graft.tools

import graft.candidates.{CellJoin, DriftMonitor, IndexGeometry, ScoredTopK}
import graft.embed.Embedder
import graft.kg.Emb
import graft.util.DetHash

/** Recall-drift probe for the indexed mode's frozen geometry (round 4,
  * VERDICT r3 missing #2 evidence): quantifies WHY
  * `IncrementalAlign.rebootstrap` exists.
  *
  * The maintained bucket index freezes its geometry (projections,
  * width, CENTER) at bootstrap — necessary for the delta/retract
  * exactness laws (candidate membership must not move under the
  * maintained lists). But `IndexGeometry.fit` mean-centers and
  * width-scales from the BOOTSTRAP sample: when later batches arrive
  * from a shifted region of embedding space (new language, new domain,
  * new crawl source), the frozen center no longer centers the corpus,
  * residual magnitudes blow past the fitted width, band keys spread
  * into the tails, and a query stops sharing buckets with its true
  * neighbors — candidate recall decays while candidate mass stays low
  * (the silent failure mode: the index looks cheap AND is wrong).
  *
  * Construction (all deterministic, real kernels — IndexGeometry.fit,
  * keysOf, CellJoin.sharesBand, the same sampling law as the bootstrap):
  * population A = unit vectors clustered around pole uA with spread
  * sA (the bootstrap corpus), population B = around a near-orthogonal
  * pole uB with a LARGER spread sB (the drifted ingest — a broader
  * domain). A pure center shift barely hurts (bucket co-membership is
  * translation-invariant: a common offset moves a cluster's keys
  * together); the decay mechanism is the WIDTH: `fit` scales the
  * bucket width to A's residuals, so B's wider neighbor distances span
  * multiple frozen buckets and true neighbors stop sharing any band —
  * while candidate mass stays LOW (the silent failure: the frozen
  * index looks cheap and is wrong). Queries are small perturbations of
  * corpus rows, so exact cosine top-k is the ground truth. Reported
  * per geometry: candidate recall@k (fraction of each query's exact
  * top-k the bucket rule would even SCORE) overall and on the drifted
  * B queries alone, plus mean candidate mass.
  *
  * Usage: runMain graft.tools.DriftProbe [dim nA nB k sB]
  */
object DriftProbe {

  def unitNoise(dim: Int, seed: Long, i: Long, tag: Long): Array[Float] =
    Array.tabulate(dim)(j =>
      (DetHash.toUnit(DetHash.h3(seed, i, j, tag)) - 0.5).toFloat)

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  /** unit vector near `pole`: normalize(pole + spread · noise). */
  def around(pole: Array[Float], spread: Double, seed: Long,
                     i: Long, tag: Long): Array[Float] = {
    val nz = unitNoise(pole.length, seed, i, tag)
    normalize(pole.indices.map(j => (pole(j) + spread * nz(j)).toFloat).toArray)
  }

  /** deterministic calibration sample — the bootstrap's sampling law
    * (order statistics over ascending ids). */
  def sampleOf(corpus: Array[Emb], n: Int): Array[Emb] = {
    val ids = ScoredTopK.sampleIdsOf(corpus.map(_.id), n).toSet
    corpus.filter(e => ids.contains(e.id))
  }

  private def recallAt(g: IndexGeometry, corpus: Array[Emb],
                       queries: Array[(Long, Array[Float], Array[Long])],
                       k: Int): (Double, Double) = {
    val cKeys = corpus.map(c => (c.id, g.keysOf(c.emb)))
    var hit = 0L; var mass = 0L; var want = 0L
    queries.foreach { case (_, qEmb, exact) =>
      val qk = g.keysOf(qEmb)
      val cands = cKeys.iterator.filter(c => CellJoin.sharesBand(qk, c._2))
        .map(_._1).toSet
      mass += cands.size
      want += exact.length
      hit += exact.count(cands.contains)
    }
    (hit.toDouble / want, mass.toDouble / queries.length)
  }

  def main(args: Array[String]): Unit = {
    val dim = if (args.nonEmpty) args(0).toInt else 32
    val nA = if (args.length > 1) args(1).toInt else 2000
    val nB = if (args.length > 2) args(2).toInt else 2000
    val k = if (args.length > 3) args(3).toInt else 5
    val spreadB = if (args.length > 4) args(4).toDouble else 1.2
    val seed = 37L
    val uA = normalize(unitNoise(dim, seed, 1L, 900))
    val uB = normalize(unitNoise(dim, seed, 2L, 901))
    val spreadA = 0.35
    val corpusA = Array.tabulate(nA)(i => Emb(i.toLong, around(uA, spreadA, seed, i, 1)))
    val corpusB = Array.tabulate(nB)(i => Emb((nA + i).toLong, around(uB, spreadB, seed, i, 2)))
    val corpus = corpusA ++ corpusB

    // queries: perturbed copies of every 4th corpus row; ground truth =
    // exact cosine top-k over the full corpus
    val queries = corpus.zipWithIndex.collect { case (e, qi) if qi % 4 == 0 =>
      val nz = unitNoise(dim, seed, e.id, 3)
      val qEmb = normalize(e.emb.indices.map(j =>
        (e.emb(j) + 0.1 * nz(j)).toFloat).toArray)
      val exact = corpus.map(c => (c.id, Embedder.dot(qEmb, c.emb)))
        .sortBy { case (id, d) => (-d, id) }.take(k).map(_._1)
      (e.id, qEmb, exact)
    }

    val bands = 16; val rows = 2
    // frozen: fit on the BOOTSTRAP population only (the pre-drift corpus)
    val gFrozen = IndexGeometry.fit(sampleOf(corpusA, 512), bands, rows, 1.0)
    // re-fit: the rebootstrap path — same fit law, current corpus sample
    val gRefit = IndexGeometry.fit(sampleOf(corpus, 512), bands, rows, 1.0)

    val queriesB = queries.filter(_._1 >= nA)
    val (rF, mF) = recallAt(gFrozen, corpus, queries, k)
    val (rFb, _) = recallAt(gFrozen, corpus, queriesB, k)
    val (rR, mR) = recallAt(gRefit, corpus, queries, k)
    val (rRb, _) = recallAt(gRefit, corpus, queriesB, k)
    // pre-drift reference point: the frozen geometry on the corpus it was fit for
    val queriesAOnly = queries.filter(_._1 < nA).map { case (id, qe, _) =>
      // ground truth restricted to the pre-drift corpus
      val exact = corpusA.map(c => (c.id, Embedder.dot(qe, c.emb)))
        .sortBy { case (cid, d) => (-d, cid) }.take(k).map(_._1)
      (id, qe, exact)
    }
    val (r0, m0) = recallAt(gFrozen, corpusA, queriesAOnly, k)

    println(f"[drift] dim=$dim nA=$nA nB=$nB k=$k bands=$bands rows=$rows spreadA=$spreadA spreadB=$spreadB")
    println(f"[drift] pre-drift   frozen-geometry recall@$k=$r0%.3f candMass=$m0%.1f (corpus=A, the population it was fit on)")
    println(f"[drift] post-drift  frozen-geometry recall@$k=$rF%.3f (drifted-B queries: $rFb%.3f) candMass=$mF%.1f")
    println(f"[drift] post-drift  REFIT geometry  recall@$k=$rR%.3f (drifted-B queries: $rRb%.3f) candMass=$mR%.1f (the rebootstrap path)")

    // ---- drift MONITOR readings (round 5): the per-delta score
    // IncrementalAlign.refresh now computes from the delta corpus +
    // calibration sample — a same-population batch must stay quiet,
    // the drifted ingest must advise rebootstrap ----
    val sampleA = sampleOf(corpusA, 512)
    val preBatch = Array.tabulate(nB)(i =>
      Emb((nA + nB + i).toLong, around(uA, spreadA, seed, i, 4)))
    val sPre = DriftMonitor.assess(preBatch, sampleA, gFrozen).get
    val sPost = DriftMonitor.assess(corpusB, sampleA, gFrozen).get
    val sRefit = DriftMonitor.assess(corpusB, sampleOf(corpus, 512), gRefit).get
    println(s"[drift] monitor same-population batch (must be quiet): $sPre")
    println(s"[drift] monitor drifted batch (must advise):           $sPost")
    println(s"[drift] monitor drifted batch after REFIT:             $sRefit")
  }
}
