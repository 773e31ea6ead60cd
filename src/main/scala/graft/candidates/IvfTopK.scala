package graft.candidates

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.kg._
import graft.embed.Embedder
import CellJoin.CellRow

/** IVF-blocked cosine top-k — the inverted-file alternative to
  * [[LshTopK]] for approximate-nearest-neighbor candidate generation
  * (the reference's retrieval is an exact flat index,
  * model/layers_LaBSE_neighbor.py:313-315; IVF is the standard coarse
  * quantizer used to scale that index, re-expressed here as a Spark
  * bucket-join).
  *
  * Structure: a spherical k-means coarse quantizer (centroids trained on
  * the driver over the deterministic corpus sample of
  * [[CellJoin.countAndSample]], reduced in sorted-id order — bit-identical
  * at any parallelism) partitions the corpus into nCells inverted lists;
  * each query probes its nProbe nearest centroids. A (query, corpus) pair
  * meets in AT MOST ONE list (a corpus row lives in exactly one), so no
  * cross-probe dedup is needed — unlike LSH banding, where a near pair
  * collides in most bands.
  *
  * vs LSH as the scale path: IVF's cells adapt to the data distribution
  * (k-means), so recall per probed row is higher on clustered corpora;
  * LSH needs no training pass and its geometry is oblivious to drift.
  * Both are exposed; [[graft.Pipeline]] auto-selects LSH by default and
  * either can be forced.
  *
  * Each inverted list is one cell of the shared salted cell join
  * ([[CellJoin]]: hot-cell count, skew tiling, cogroup); scoring, the
  * top-k merge and RSM calibration are LSH's ([[LshTopK.scoreCell]],
  * [[LshTopK.rankAndCalibrate]]), so scores are on the same scale as every
  * other candidate path. Centroid broadcast is nCells × dim floats; auto
  * nCells is min(√corpus, cellsMax, sample/32) — the sample coupling
  * keeps the quantizer trained (≥32 samples/centroid, see [[autoCells]]).
  * The assignment scan is O(nCells × dim) per row — the known IVF
  * tradeoff vs LSH's O(bands × rows × dim).
  */
object IvfTopK {

  final case class IvfConfig(
      /** <= 0 → auto: min(ceil(sqrt(corpus rows)), cellsMax,
        * sample/SamplesPerCell) — see [[autoCells]]. */
      nCells: Int = 0,
      cellsMax: Int = 4096,
      /** inverted lists probed per query (recall/cost dial). */
      nProbe: Int = 4,
      /** Lloyd iterations over the driver sample. */
      lloydIters: Int = 6,
      /** corpus sample size for centroid training + RSM calibration. */
      sampleSize: Int = 4096,
      /** max rows (either side) of one cell before 2-D salt tiling. */
      bucketCap: Int = 512)

  /** Minimum training samples per centroid for the auto cell count:
    * below ~32 the Lloyd pass memorizes individual sample rows instead
    * of estimating cluster means (round-2 verdict: auto √corpus cells
    * with a fixed 4096-row sample degenerated to 1 sample/centroid at
    * corpus ≥ 16M — arbitrary centroids exactly where IVF must win). */
  val SamplesPerCell = 32

  /** Auto cell count: √corpus selectivity, bounded by the broadcast cap
    * AND by what the driver sample can actually train. Pure — gated in
    * OperatorSpec. At extreme corpora this bounds cells at
    * sampleSize/32 (default 128): cells get larger and salt tiling
    * bounds per-task work; callers wanting finer quantization raise
    * sampleSize explicitly (Lloyd is O(iters × sample × cells × dim) on
    * the driver) or use the LSH path, which needs no training pass. */
  def autoCells(nCorpus: Long, sampleLen: Int, cellsMax: Int): Int =
    math.max(1, math.min(math.min(cellsMax, sampleLen / SamplesPerCell),
      math.ceil(math.sqrt(nCorpus.toDouble)).toInt))

  /** argmax-dot centroid of v; ties break to the smaller cell id (strict
    * `>` while scanning in index order) so assignment is deterministic. */
  def nearestCell(v: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestS = Embedder.dot(v, cents(0))
    var c = 1
    while (c < cents.length) {
      val s = Embedder.dot(v, cents(c))
      if (s > bestS) { bestS = s; best = c }
      c += 1
    }
    best
  }

  /** The nProbe nearest centroids by dot, descending (ties to the
    * smaller cell id) — a primitive insertion buffer like TopKBuf. */
  def probeCells(v: Array[Float], cents: Array[Array[Float]], nProbe: Int): Array[Int] = {
    val p = math.min(nProbe, cents.length)
    val ss = new Array[Double](p)
    val cs = new Array[Int](p)
    var n = 0
    var c = 0
    while (c < cents.length) {
      val s = Embedder.dot(v, cents(c))
      if (n < p || s > ss(n - 1)) {
        var i = if (n < p) n else n - 1
        while (i > 0 && ss(i - 1) < s) { ss(i) = ss(i - 1); cs(i) = cs(i - 1); i -= 1 }
        ss(i) = s; cs(i) = c
        if (n < p) n += 1
      }
      c += 1
    }
    java.util.Arrays.copyOf(cs, n)
  }

  /** Spherical k-means over the (driver-resident, id-sorted) sample:
    * init = evenly spaced sample rows, Lloyd assign/mean/renormalize;
    * an emptied cell keeps its previous centroid. Deterministic. */
  def trainCentroids(sample: Array[Emb], nCells: Int, iters: Int): Array[Array[Float]] = {
    require(sample.nonEmpty, "IvfTopK: empty centroid sample")
    val dim = sample(0).emb.length
    var cents = Array.tabulate(nCells) { c =>
      val row = ((c.toLong * sample.length) / nCells).toInt
      Embedder.l2normalize(sample(row).emb.clone())
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val cnts = new Array[Int](nCells)
      sample.foreach { e =>
        val c = nearestCell(e.emb, cents)
        cnts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += e.emb(i); i += 1 }
      }
      cents = Array.tabulate(nCells) { c =>
        if (cnts(c) == 0) cents(c)
        else Embedder.l2normalize(Array.tabulate(dim)(i => (sums(c)(i) / cnts(c)).toFloat))
      }
      it += 1
    }
    cents
  }

  def topK(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb], k: Int,
           cfg: IvfConfig = IvfConfig()): Dataset[Candidate] =
    graft.util.JobDesc.withJobDesc(spark, "graft: IVF top-k candidates") {
      topKImpl(spark, queries, corpus, k, cfg)
    }

  private def topKImpl(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb], k: Int,
           cfg: IvfConfig): Dataset[Candidate] = {
    import spark.implicits._
    val qP = queries.persist(StorageLevel.MEMORY_AND_DISK)
    val cP = corpus.persist(StorageLevel.MEMORY_AND_DISK)
    val (nCorpus, sample) = CellJoin.countAndSample(cP, cfg.sampleSize)
    require(sample.nonEmpty, "IvfTopK: empty corpus")
    val nCells =
      if (cfg.nCells > 0) cfg.nCells // explicit: caller owns sample quality
      else autoCells(nCorpus, sample.length, cfg.cellsMax)
    val centsBc = spark.sparkContext.broadcast(
      trainCentroids(sample, math.min(nCells, sample.length), cfg.lloydIters))

    // corpus rows land in exactly one inverted list; queries probe nProbe.
    // A pair meets in at most one list, so rows carry no band prefix.
    val empty = Array.emptyLongArray
    val cCells = cP.mapPartitions { it =>
      val cents = centsBc.value
      it.map(e => CellRow(0, nearestCell(e.emb, cents).toLong, 0, e.id, LshTopK.quantize(e.emb), empty))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val qCells = qP.mapPartitions { it =>
      val cents = centsBc.value
      it.flatMap { e =>
        val q16 = LshTopK.quantize(e.emb)
        probeCells(e.emb, cents, cfg.nProbe).iterator.map(c => CellRow(0, c.toLong, 0, e.id, q16, empty))
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)

    // both cell sets feed the hot-cell count AND the cell join
    def keys(ds: Dataset[CellRow[Array[Short]]]) =
      ds.select($"band", $"key").as[(Int, Long)].rdd
    val salts = CellJoin.hotCells(keys(qCells), keys(cCells), cfg.bucketCap)
    val scored = CellJoin.join(qCells, cCells, salts)(LshTopK.scoreCell(k))
    val result = LshTopK.rankAndCalibrate(scored, qP, sample, k)
    Seq(qCells, cCells, qP, cP).foreach(_.unpersist(blocking = false))
    result
  }
}
