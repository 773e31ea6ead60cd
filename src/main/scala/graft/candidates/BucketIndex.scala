package graft.candidates

import org.apache.spark.sql.Dataset
import graft.kg.{Dims, Emb}
import graft.embed.Embedder
import CellJoin.CellRow

/** Frozen LSH bucket-index geometry — the candidate-generation contract
  * of the INDEXED continuous-construction mode (IncrementalAlign with
  * `useIndex`).
  *
  * The exact continuous mode keeps per-query lists over the FULL corpus,
  * which forces one narrow corpus pass per delta batch (the rescore) and
  * a per-query merge against every delta row — fine at sandbox scale,
  * O(corpus) per batch at the 10^12-doc design point. The indexed mode
  * changes the CANDIDATE RULE instead of approximating the scores:
  *
  *   candidates(q, corpus) = { r : ∃ band j, key_j(q) == key_j(r) }
  *
  * under a geometry (projections, width, center) FROZEN at bootstrap.
  * Lists remain the exact cosine top-k OF THAT CANDIDATE SET, the RSM
  * calibration sample is unchanged, and because the rule is a pure
  * function of (q.emb, r.emb, geometry), the maintained state is
  * bit-identical to a from-scratch indexed run over the union corpus —
  * the same exactness contract as the exact mode, relative to the
  * indexed candidate rule (gated in IncrementalSpec).
  *
  * The geometry is [[LshTopK]]'s (seeded deterministic unit projections,
  * mean-centering, banded FNV keys, width = per-coordinate
  * residual std of the calibration sample; LshTopK.topK fits it per
  * call) — but here it is COMMITTED in the alignment state rather than
  * re-derived per call, because candidate membership must not drift as
  * the corpus grows; a production system refreshes the geometry only on
  * an explicit index rebuild. */
final case class IndexGeometry(bands: Int, rows: Int, width: Double,
                               seed: Long, center: Array[Float]) {
  @transient private lazy val projs =
    LshTopK.projections(bands, rows, seed, center.length)

  /** Band keys of one embedding under the frozen geometry. */
  def keysOf(emb: Array[Float]): Array[Long] = {
    val centered = new Array[Float](center.length)
    var i = 0
    while (i < center.length) { centered(i) = emb(i) - center(i); i += 1 }
    LshTopK.bandKeysOf(centered, projs, width, bands, rows)
  }
}

object IndexGeometry {
  /** Fit a geometry from the (deterministic, driver-side, id-sorted)
    * calibration sample. */
  def fit(sample: Array[Emb], bands: Int = 10, rows: Int = 2,
          seed: Long = Dims.Seed): IndexGeometry = {
    require(sample.nonEmpty, "IndexGeometry.fit: empty sample")
    val dim = sample(0).emb.length
    val mean = new Array[Float](dim)
    val acc = new Array[Double](dim); var sq = 0.0
    sample.foreach { e =>
      var i = 0
      while (i < dim) { acc(i) += e.emb(i); sq += e.emb(i).toDouble * e.emb(i); i += 1 }
    }
    val n = sample.length
    var i = 0
    while (i < dim) { mean(i) = (acc(i) / n).toFloat; i += 1 }
    val residVar = math.max(1e-12, sq / n - mean.map(x => x.toDouble * x).sum)
    IndexGeometry(bands, rows, math.sqrt(residVar / dim), seed, mean)
  }
}

object BucketIndex {

  /** One committed index row: the corpus row's occurrence in band `band`
    * with its band-key prefix keys[0..band) — the prefix lets a probe
    * score each (query, row) pair exactly once (in their FIRST shared
    * band), the same cross-band dedup as LshTopK's cells. At the design
    * point this table is committed bucket-partitioned (TableIO
    * partitionCols on a key bucket), so probes prune partitions instead
    * of scanning. */
  final case class IndexRow(band: Int, key: Long, id: Long,
                            emb: Array[Float], prefix: Array[Long])

  /** Exact cosine top-k of one query over the BUCKET-SHARING subset of a
    * driver-side corpus slice (keys precomputed, aligned with `corpus`).
    * Returns (ids, cos, candidateCount) — the count drives the
    * completeness flag (complete ⟺ the list is ALL candidates). */
  def scoreShared(qEmb: Array[Float], qKeys: Array[Long],
                  corpus: Array[Emb], corpusKeys: Array[Array[Long]],
                  k: Int): (Array[Long], Array[Double], Long) = {
    val buf = new CellJoin.TopKBuf(k)
    var cands = 0L
    var i = 0
    while (i < corpus.length) {
      if (CellJoin.sharesBand(qKeys, corpusKeys(i))) {
        buf.offer(corpus(i).id, Embedder.dot(qEmb, corpus(i).emb))
        cands += 1
      }
      i += 1
    }
    (buf.resultIds, buf.resultCos, cands)
  }

  /** The index rows of one corpus row (bands occurrences). */
  def rowsOf(id: Long, emb: Array[Float], geom: IndexGeometry): Iterator[IndexRow] = {
    val keys = geom.keysOf(emb)
    Iterator.tabulate(geom.bands)(j =>
      IndexRow(j, keys(j), id, emb, java.util.Arrays.copyOf(keys, j)))
  }

  /** Name of the accumulator [[cogroupTopK]] counts its scored tiles
    * in — one per evaluation of the cell join. */
  val ScoredTiles = "BucketIndex.scoredTiles"

  /** Distributed bootstrap scorer — the indexed twin of the exact
    * bootstrap's broadcast scorer, with NEITHER side collected: query
    * probe rows (bands per query, same shape as [[IndexRow]]) meet the
    * index in the salted cell join ([[CellJoin]], one cell per
    * (band, key), hot cells tiled past `cellCap`). Inside a cell each
    * (query, row) pair scores exactly once — in their FIRST shared band
    * (both prefixes cover bands [0, band)) — so per-cell top-k slices are
    * disjoint, the reduceGroups merge is exact (ScoredTopK laws), and
    * candidate counts sum to the true candidate-set size. Returns
    * (srcId, emb, topIds, topCos, candidateCount) for every query with
    * ≥1 candidate; callers emit empty-complete rows for the rest.
    * Scores stay full float: the shuffle carries bands× copies of each
    * embedding — the same trade as LshTopK's banding. */
  def cogroupTopK(queries: Dataset[(Long, Array[Float])], index: Dataset[IndexRow],
                  geom: IndexGeometry, kPrime: Int, cellCap: Int = 512)
      : Dataset[(Long, Array[Float], Array[Long], Array[Double], Long)] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bcG = spark.sparkContext.broadcast(geom)
    def cellRow(r: IndexRow) = CellRow(r.band, r.key, 0, r.id, r.emb, r.prefix)
    val probes = queries.flatMap { case (id, emb) => rowsOf(id, emb, bcG.value).map(cellRow) }
    val rows = index.map(cellRow)
    def keys(ds: Dataset[_]) = ds.select($"band", $"key").as[(Int, Long)].rdd
    val salts = CellJoin.hotCells(keys(probes), keys(index), cellCap)
    val tiles = spark.sparkContext.longAccumulator(ScoredTiles)
    CellJoin.join(probes, rows, salts) { (ps, ra) =>
      tiles.add(1)
      ps.flatMap { p =>
        val buf = new CellJoin.TopKBuf(kPrime)
        var cands = 0L
        var i = 0
        while (i < ra.length) {
          val r = ra(i)
          if (!CellJoin.sharesBand(p.prefix, r.prefix)) {
            buf.offer(r.id, Embedder.dot(p.emb, r.emb)); cands += 1
          }
          i += 1
        }
        if (cands == 0) Iterator.empty
        else Iterator((p.id, p.emb, buf.resultIds, buf.resultCos, cands))
      }
    }
      .groupByKey(_._1)
      .reduceGroups { (x, y) =>
        val (ids, cs) = ScoredTopK.merge(x._3, x._4, y._3, y._4, kPrime)
        (x._1, x._2, ids, cs, x._5 + y._5)
      }
      .map(_._2)
  }
}
