package graft.candidates

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.kg._
import graft.embed.Embedder
import graft.util.DetHash
import CellJoin.CellRow

/** LSH-blocked cosine top-k — the 10^12-scale candidate path.
  *
  * Blocking is bucketed-random-projection LSH (the algorithm of
  * org.apache.spark.ml.feature.BucketedRandomProjectionLSH — bucket id =
  * floor(x·v / w) — computed inline over primitive float arrays: the
  * mllib class routes every row through VectorUDT (de)serialization and
  * UDF boundaries, measured at ~20× the arithmetic itself). The geometry
  * is [[IndexGeometry.fit]] over a deterministic corpus sample
  * ([[CellJoin.countAndSample]]): seeded DetHash unit projections, vectors
  * mean-centered before hashing, width = the per-coordinate residual std
  * (text-feature corpora share a large common direction, and a fixed
  * width put 92% of brute-force pair work in a handful of buckets). The
  * fit reduces the sample in sorted-id order on the driver, so the
  * geometry is bit-identical at any parallelism. `RowsPerBand` bucket ids
  * compound into one band key, OR-ed across `Bands` bands for recall:
  * p_hit = 1 - (1 - p^rows)^bands.
  *
  * Each band bucket is one cell of the shared salted cell join
  * ([[CellJoin]], which owns skew tiling and the hot-cell count); a pair
  * is scored only in the first band it shares. Vectors cross the cell
  * shuffle 16-bit quantized ([[quantize]], [[dotQ]]).
  *
  * SCORE SEMANTICS match [[ExactTopK]]: candidates carry the RSM z-score
  * (cos - mu)/sigma against a deterministic same-corpus negative sample
  * (the paper's relative similarity metric; SURVEY.md §2.9 note).
  * Per-source ranking is raw cosine (z is monotone in it); the absolute
  * score feeds the canonicalization acceptance threshold, so every
  * candidate path must emit the same scale.
  *
  * Shuffle inventory: one keyed shuffle of each side (embedding arrays
  * move ≤ salts times), one narrow (src, dst, score) shuffle for the
  * merge, one narrow join with the per-source calibration rows. Pair rows
  * never materialize.
  */
object LshTopK {

  final val Bands = 10
  final val RowsPerBand = 2
  /** Max rows (either side) of one band bucket before tiling. 512 →
    * ≤0.26M pairs per cell: enough cells that the cogroup's hash
    * partitioning spreads them evenly (cap 1000 left single 13-21 s
    * straggler tasks pacing the whole stage at 32 cores). */
  final val BucketCap = 512
  /** corpus sample size for the geometry fit and RSM calibration */
  final val SampleSize = 4096

  /** Deterministic UNIT projection matrix (bands×rows, dim). */
  def projections(bands: Int, rows: Int, seed: Long, dim: Int): Array[Array[Float]] =
    Array.tabulate(bands * rows) { p =>
      val v = Array.tabulate(dim) { i =>
        var s = 0.0
        var k = 0
        while (k < 4) { s += DetHash.toUnit(DetHash.h3(seed, p.toLong, i.toLong, k.toLong)); k += 1 }
        ((s - 2.0) * math.sqrt(3.0)).toFloat
      }
      Embedder.l2normalize(v)
    }

  /** Band keys of one vector: FNV over the rowsPerBand bucket ids. */
  def bandKeysOf(emb: Array[Float], projs: Array[Array[Float]], w: Double,
                 bands: Int, rows: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var h = 0xcbf29ce484222325L ^ j
      var r = 0
      while (r < rows) {
        val b = math.floor(Embedder.dot(emb, projs(j * rows + r)) / w).toLong
        h ^= b; h *= 0x100000001b3L
        r += 1
      }
      out(j) = DetHash.mix64(h)
      j += 1
    }
    out
  }

  /** Scoring vectors travel the cogroup shuffle QUANTIZED to 16 bits:
    * inputs are L2-normalized (|coord| ≤ 1), so scale 32767 gives ≤3e-5
    * per-coordinate error (~1e-5 on a 256-dim cosine) — far below the
    * fixture's aligned-vs-bulk score gaps — while HALVING shuffle bytes,
    * cell cache footprint, and per-row deserialization (the measured
    * scaling ceiling of the cogroup stage). Candidate ranking is gated
    * by the recall-vs-exact tests; the exact path stays full float. */
  final val QScale = 32767f

  /** The product is taken in DOUBLE (exact for f32 × 32767, ≤39
    * mantissa bits) and rounded floor(x + 0.5) — cross-engine
    * reproducible arithmetic, oracle-checked element-wise by
    * `q_embed_quantize`. */
  def quantize(v: Array[Float]): Array[Short] = {
    val out = new Array[Short](v.length)
    var i = 0
    while (i < v.length) { out(i) = math.round(v(i).toDouble * QScale).toShort; i += 1 }
    out
  }

  /** Int dot over quantized vectors → cosine in [-1, 1].
    *
    * INT ACCUMULATOR, deliberately (round 6): both inputs are
    * quantizations of L2-NORMALIZED vectors, so by Cauchy–Schwarz every
    * PREFIX sum of products is bounded by |a|·|b| ≤ (32767 + ½√n)² ≈
    * 1.08e9 — under half of Int.MaxValue, so the int accumulator can
    * never wrap (exactness re-checked against a long-accumulated
    * reference incl. ±unit-spike worst cases in OperatorSpec). The
    * payoff is the paired form
    * `s += a(i)*b(i) + a(i+1)*b(i+1)`, which HotSpot C2 recognizes as
    * MulAddS2I and auto-vectorizes to pmaddwd-class SIMD — measured
    * ~4× the long-accumulated scalar loop on this box, on the frame
    * that is ~70% of the LSH scoring stage's CPU (E=50k stack samples,
    * BENCH.md).
    * The returned integer is bit-identical either way, so every
    * candidate score is unchanged. */
  private[candidates] def dotQScalarInt(a: Array[Short], b: Array[Short]): Int = {
    val n = a.length
    var s = 0
    var i = 0
    while (i < n - 1) {
      s += a(i) * b(i) + a(i + 1) * b(i + 1)
      i += 2
    }
    if (i < n) s += a(i) * b(i)
    s
  }

  def dotQ(a: Array[Short], b: Array[Short]): Double = {
    val s = if (DotQ.AVAILABLE) DotQ.dot(a, b) else dotQScalarInt(a, b)
    s.toDouble / (QScale.toDouble * QScale)
  }

  /** Scores one cell of quantized rows: each query's top-k over the
    * corpus rows it has not met in an earlier band (IVF rows carry empty
    * prefixes, so every pair scores). Primitive arrays, no per-element
    * tuple boxing in the inner loop. */
  private[candidates] def scoreCell(k: Int)(qs: Iterator[CellRow[Array[Short]]],
      cell: Array[CellRow[Array[Short]]]): Iterator[(Long, Long, Double)] = {
    val ids = cell.map(_.id); val embs = cell.map(_.emb); val keys = cell.map(_.prefix)
    qs.flatMap { q =>
      val buf = new CellJoin.TopKBuf(k)
      var i = 0
      while (i < ids.length) {
        if (!CellJoin.sharesBand(q.prefix, keys(i))) buf.offer(ids(i), dotQ(q.emb, embs(i)))
        i += 1
      }
      Iterator.tabulate(buf.n)(j => (q.id, buf.ids(j), buf.cs(j)))
    }
  }

  /** Map-side partial top-k merge over scored (src, dst, score) rows —
    * each map partition reduces its rows to ≤ one k-row partial per
    * source via a per-partition hash of [[CellJoin.TopKBuf]]s, so the
    * merge shuffle carries partials (≤ k rows per (source, partition)),
    * NOT every surviving candidate row (44.5M rows / 0.68 GB at E=50k —
    * measured the second-largest shuffle write of the whole pipeline).
    * Hand-rolled mapPartitions instead of a typed Aggregator on
    * purpose: ObjectHashAggregateExec falls back to SORT-based
    * aggregation past 128 distinct keys per partition
    * (spark.sql.objectHashAggregate.sortBased.fallbackThreshold) —
    * with thousands of sources per partition a typed-Aggregator
    * version sorted the full scored stream inside the scoring stage
    * (measured ~4× that stage's task-time). Exactness: the buffer's
    * total order makes insertion order irrelevant, so partial/merge
    * composition equals the single-pass result — property-gated in
    * OperatorSpec at 1/3/16 partitions.
    * Memory: |sources-per-partition| × O(k) primitive arrays. */
  private[graft] def mergeTopK(scored: Dataset[(Long, Long, Double)], k: Int): Dataset[(Long, Long, Double, Int)] = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.mapPartitions { it =>
      val m = new java.util.HashMap[Long, CellJoin.TopKBuf]()
      it.foreach { r =>
        var buf = m.get(r._1)
        if (buf == null) { buf = new CellJoin.TopKBuf(k); m.put(r._1, buf) }
        buf.offer(r._2, r._3)
      }
      val em = m.entrySet().iterator()
      new Iterator[(Long, Array[Long], Array[Double])] {
        def hasNext: Boolean = em.hasNext
        def next(): (Long, Array[Long], Array[Double]) = {
          val e = em.next(); val b = e.getValue
          (e.getKey, b.resultIds, b.resultCos)
        }
      }
    }
    .groupByKey(_._1)
    .flatMapGroups { (src, it) =>
      val buf = new CellJoin.TopKBuf(k)
      it.foreach { case (_, ids, ss) =>
        var j = 0
        while (j < ids.length) { buf.offer(ids(j), ss(j)); j += 1 }
      }
      Iterator.tabulate(buf.n)(j => (src, buf.ids(j), buf.cs(j), j + 1))
    }
  }

  /** The tail shared with [[IvfTopK]]: merge the scored cells to each
    * source's top-k ([[mergeTopK]]) and z-score them against per-source
    * RSM moments over every 8th sample row (~512). The calibration rows
    * are queries-scale, so they are joined, not broadcast. The returned
    * candidate table (≤ queries × k narrow rows) is persisted and
    * materialized, so callers can release the inputs it was built from. */
  private[candidates] def rankAndCalibrate(scored: Dataset[(Long, Long, Double)],
      queries: Dataset[Emb], sample: Array[Emb], k: Int): Dataset[Candidate] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val negBc = spark.sparkContext.broadcast(
      sample.indices.collect { case i if i % 8 == 0 => sample(i) }.toArray)
    val calib = queries.map { q =>
      val (mu, sigma) = CellJoin.calib(q.emb, negBc.value)
      (q.id, mu, sigma)
    }
    val result = mergeTopK(scored, k).toDF("srcId", "dstId", "cos", "rank")
      .join(calib.toDF("srcId", "mu", "sigma"), "srcId")
      .as[(Long, Long, Double, Int, Double, Double)]
      .map { case (src, dst, cos, r, mu, sigma) =>
        Candidate(src, dst, graft.align.MoCoTrainer.rsmScore(cos, mu, sigma), r) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    result
  }

  def topK(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb], k: Int): Dataset[Candidate] =
    graft.util.JobDesc.withJobDesc(spark, "graft: LSH top-k candidates") {
      topKImpl(spark, queries, corpus, k)
    }

  private def topKImpl(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb],
                       k: Int): Dataset[Candidate] = {
    import spark.implicits._
    // this operator drives several actions over its inputs — persist
    // them so upstream stages (extraction, GAT encode) run exactly once
    val qP = queries.persist(StorageLevel.MEMORY_AND_DISK)
    val cP = corpus.persist(StorageLevel.MEMORY_AND_DISK)
    val (nCorpus, sample) = CellJoin.countAndSample(cP, SampleSize)
    require(sample.nonEmpty, "LshTopK: empty corpus")
    val dim = sample(0).emb.length
    val geomBc = spark.sparkContext.broadcast(IndexGeometry.fit(sample, Bands, RowsPerBand))

    // each occurrence carries its band-key PREFIX keys[0..j): the cell
    // scorer uses it to skip pairs already scored in an earlier band
    // (avg bands/2 longs per row — small next to the embedding itself)
    def banded(ds: Dataset[Emb]): Dataset[CellRow[Array[Short]]] =
      ds.mapPartitions { it =>
        val g = geomBc.value
        it.flatMap { e =>
          val keys = g.keysOf(e.emb)
          val q16 = quantize(e.emb)
          Iterator.tabulate(Bands)(j =>
            CellRow(j, keys(j), 0, e.id, q16, java.util.Arrays.copyOf(keys, j)))
        }
      }

    // Spread the salting/replication serialization across all cores —
    // without this the map work pins to the partitions holding hot rows.
    // The spread shuffle moves the RAW Emb rows (1× the vectors), not the
    // banded rows (bands× the vectors): banding fans out uniformly, so
    // repartitioning before it buys the same balance at ~1/bands the
    // shuffle bytes. The banded sets are NOT persisted: their only
    // consumer is the cell join; the hot-cell count reads a KEYS-ONLY
    // banding pass over the persisted inputs (20 projection dots per row,
    // no quantize/prefix materialization), so a columnar cache build of
    // the ~bands×-expanded frames (~45 CPU-s at E=50k, BENCH.md)
    // buys nothing.
    // The partition count is DATA-derived (~64 MB of banded rows per
    // partition), floored by the session parallelism — NOT a multiple of
    // core count: the shuffle-write path carries a real per-output-
    // partition cost (round-3 stack profile: 93% of map-task samples in
    // BypassMergeSortShuffleWriter's LZ4-flush/write chain; 4× the
    // partitions measured 2.3× the task-seconds for identical rows).
    val bandedBytes = nCorpus * Bands * (dim * 2L + 8L * Bands / 2 + 48)
    val spread = math.max(spark.sparkContext.defaultParallelism,
      (bandedBytes / (64L << 20)).toInt + 1)

    def bandKeys(ds: Dataset[Emb]) = ds.rdd.mapPartitions { it =>
      val g = geomBc.value
      it.flatMap { e => val keys = g.keysOf(e.emb); Iterator.tabulate(Bands)(j => (j, keys(j))) }
    }
    val salts = CellJoin.hotCells(bandKeys(qP), bandKeys(cP), BucketCap)
    // cross-band dedup guarantees each (src, dst) is scored at most once
    val scored = CellJoin.join(banded(qP.repartition(spread)), banded(cP.repartition(spread)),
      salts)(scoreCell(k))

    val result = rankAndCalibrate(scored, qP, sample, k)
    // repeated topK calls in one session must not accumulate cached
    // blocks (ADVICE r2)
    Seq(qP, cP).foreach(_.unpersist(blocking = false))
    result
  }
}
