package graft.candidates

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import graft.embed.Embedder
import graft.kg.Emb
import graft.util.DetHash

/** The salted cell join under every blocked candidate path: [[LshTopK]]
  * (a cell is one LSH band bucket), [[IvfTopK]] (one inverted list) and
  * the indexed bootstrap's [[BucketIndex.cogroupTopK]] (one committed
  * band bucket). It is the metric-partition join of Scalable Metric
  * Similarity Join Using MapReduce (ICDE 2019): each caller assigns rows
  * to cells, and a query and a corpus row are scored only if they share
  * a cell. The callers keep their cell assignment and their scoring; this
  * object owns what they have in common.
  *
  * A cell is the FULL `(band, key)` pair of a row (IVF uses band 0 and
  * the list id as key), so rows of different cells never meet.
  *
  * Skew is handled by 2-D SALT TILING. [[hotCells]] counts the rows of
  * every cell on each side in one Spark job (the block-cardinality
  * statistics of SparkER, EDBT 2019). A cell with more than `cap` rows on
  * a side gets ceil(n/cap) salts on that side. A query row hashes to one
  * query salt and replicates across the cell's corpus salts; a corpus row
  * hashes to one corpus salt and replicates across the query salts; so
  * every (query, corpus) pair of the cell meets in exactly one tile
  * `qSalt * base + cSalt`, where `base` exceeds every corpus-side salt
  * count (a constant base would alias tiles once one cell needs more
  * salts than it). Per-task work and working set are O(cap²), and the
  * replication shuffle is O(pair work / cap) rows. A caller whose pairs
  * meet in several cells (LSH bands) scores each pair only in the first
  * cell both rows share, using the band-key prefixes each row carries
  * ([[sharesBand]]); then every pair is scored exactly once, per-tile
  * top-k slices are disjoint, and merging them under the total order
  * (score desc, id asc) of [[TopKBuf]] gives the same rows at any cap.
  */
private[graft] object CellJoin {

  /** One row of one side: its cell `(band, key)`, the tile it was
    * replicated into (`salt`, set by [[join]]), its id, its scoring
    * vector, and its band keys before `band` (empty when a pair can share
    * at most one cell). */
  final case class CellRow[E](band: Int, key: Long, salt: Int, id: Long, emb: E,
                              prefix: Array[Long])

  /** Salt counts of the hot cells of each side (a missing cell has 1). */
  final case class Salts(q: Map[(Int, Long), Int], c: Map[(Int, Long), Int]) {
    val base: Int = math.max(1, c.valuesIterator.maxOption.getOrElse(1))
  }

  /** The hot-cell inventory in ONE Spark job over keys-only inputs. RDD
    * `reduceByKey` rather than a DataFrame `groupBy`: with AQE on, the
    * groupBy form ran as three driver-scheduled query-stage jobs plus a
    * codegen compile for what is one map-side combine and one narrow
    * count shuffle. The driver receives only cells over `cap`, at most
    * rows/cap of them per side. */
  def hotCells(qKeys: RDD[(Int, Long)], cKeys: RDD[(Int, Long)], cap: Int): Salts = {
    require(cap > 0, "cell cap must be positive")
    val hot = qKeys.map(k => ((0, k._1, k._2), 1L))
      .union(cKeys.map(k => ((1, k._1, k._2), 1L)))
      .reduceByKey(_ + _, qKeys.sparkContext.defaultParallelism)
      .filter(_._2 > cap)
      .collect()
    def side(s: Int): Map[(Int, Long), Int] = hot.iterator.collect {
      case ((`s`, band, key), n) => (band, key) -> ((n + cap - 1) / cap).toInt
    }.toMap
    Salts(side(0), side(1))
  }

  @inline private def tile(id: Long, n: Int): Int =
    if (n == 1) 0 else (DetHash.nonNeg(DetHash.h1(29L, id)) % n).toInt

  /** Salts both sides by `salts`, cogroups them by (band, key, tile) and
    * hands each tile's query rows and corpus rows to `score`. Tiles with
    * no corpus rows are skipped. */
  def join[E, O: Encoder](queries: Dataset[CellRow[E]], corpus: Dataset[CellRow[E]],
                          salts: Salts)(
      score: (Iterator[CellRow[E]], Array[CellRow[E]]) => Iterator[O])(
      implicit rowEnc: Encoder[CellRow[E]]): Dataset[O] = {
    val bc = queries.sparkSession.sparkContext.broadcast(salts)
    val base = salts.base
    val qS = queries.mapPartitions { it =>
      val s = bc.value
      it.flatMap { r =>
        val cell = (r.band, r.key)
        val sq = tile(r.id, s.q.getOrElse(cell, 1))
        Iterator.tabulate(s.c.getOrElse(cell, 1))(c => r.copy(salt = sq * base + c))
      }
    }
    val cS = corpus.mapPartitions { it =>
      val s = bc.value
      it.flatMap { r =>
        val cell = (r.band, r.key)
        val sc = tile(r.id, s.c.getOrElse(cell, 1))
        Iterator.tabulate(s.q.getOrElse(cell, 1))(q => r.copy(salt = q * base + sc))
      }
    }
    implicit val keyEnc: Encoder[(Int, Long, Int)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaInt)
    qS.groupByKey(r => (r.band, r.key, r.salt))
      .cogroup(cS.groupByKey(r => (r.band, r.key, r.salt))) { (_, qs, cs) =>
        val rows = cs.toArray
        if (rows.isEmpty) Iterator.empty else score(qs, rows)
      }
  }

  /** true iff the two band-key arrays agree in some band both cover. With
    * full key arrays this is the indexed candidate rule; with the prefixes
    * of two rows met in band j it means the pair already met (and was
    * scored) in an earlier band, so a handful of long compares replaces a
    * duplicate dot. */
  @inline def sharesBand(a: Array[Long], b: Array[Long]): Boolean = {
    val n = math.min(a.length, b.length)
    var j = 0
    while (j < n) { if (a(j) == b(j)) return true; j += 1 }
    false
  }

  /** Bounded top-k insertion buffer under the total order (score desc,
    * id asc), so results are independent of encounter order. k ≤ ~20:
    * linear insertion into parallel primitive arrays — boxed
    * PriorityQueue/sortBy comparators in these loops dominated jstack
    * samples and anti-scaled at 32 threads. */
  final class TopKBuf(k: Int) {
    val ids = new Array[Long](k)
    val cs = new Array[Double](k)
    var n = 0
    def offer(id: Long, c: Double): Unit = {
      if (n < k || ScoredTopK.better(c, id, cs(n - 1), ids(n - 1))) {
        var i = math.min(n, k - 1)
        while (i > 0 && ScoredTopK.better(c, id, cs(i - 1), ids(i - 1))) {
          ids(i) = ids(i - 1); cs(i) = cs(i - 1); i -= 1
        }
        ids(i) = id; cs(i) = c
        if (n < k) n += 1
      }
    }
    def resultIds: Array[Long] = java.util.Arrays.copyOf(ids, n)
    def resultCos: Array[Double] = java.util.Arrays.copyOf(cs, n)
  }

  /** One pass over `ds` returning (row count, deterministic sample): the
    * sample is the `sampleSize` rows with the SMALLEST (hash(id), id) —
    * order statistics under a total order, so membership is independent
    * of partitioning AND of the corpus size (a rate filter needs the count
    * first, forcing a second full scan). treeAggregate merges the bounded
    * partials executor-side, so the driver receives one ≤sampleSize
    * buffer. Returned rows are sorted by id, the driver-deterministic
    * reduction order the geometry fit and calibration rely on. */
  def countAndSample(ds: Dataset[Emb], sampleSize: Int): (Long, Array[Emb]) = {
    type Acc = (Long, scala.collection.mutable.ArrayBuffer[(Long, Emb)])
    def compact(v: scala.collection.mutable.ArrayBuffer[(Long, Emb)]) = {
      val a = v.sortBy(t => (t._1, t._2.id)); a.takeInPlace(sampleSize); a
    }
    val (n, top) = ds.rdd.treeAggregate[Acc]((0L, scala.collection.mutable.ArrayBuffer.empty))(
      seqOp = { case ((n, v), e) =>
        v += ((ScoredTopK.sampleKey(e.id), e))
        (n + 1, if (v.length >= 2 * sampleSize) compact(v) else v)
      },
      combOp = { case ((n1, v1), (n2, v2)) => (n1 + n2, compact(v1 ++= v2)) })
    (n, compact(top).map(_._2).toArray.sortBy(_.id))
  }

  /** RSM moments (mu, sigma) of one query's cosine over a negative sample:
    * sequential Welford in the array's order. Callers pass the sample
    * sorted ascending by id, so the result is a pure function of (query,
    * sample set) regardless of partitioning or merge history. */
  def calib(q: Array[Float], sample: Array[Emb]): (Double, Double) = {
    var mu = 0.0; var m2 = 0.0; var n = 0L
    var i = 0
    while (i < sample.length) {
      val s = Embedder.dot(q, sample(i).emb)
      n += 1; val d = s - mu; mu += d / n; m2 += d * (s - mu)
      i += 1
    }
    val sigma = if (n > 1) math.sqrt(m2 / (n - 1)) else 1.0
    (mu, sigma)
  }
}
