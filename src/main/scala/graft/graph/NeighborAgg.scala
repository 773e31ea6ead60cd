package graft.graph

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.kg._

/** One directed occurrence of `neighbor` next to `center`, at global
  * first-seen position `seq` (file line order in the reference). */
case class Edge(center: Long, neighbor: String, neighborId: Long, seq: Long)

/** Edge variant carrying the relation — feeds the per-relation
  * neighborhood grouping (loader/Neighbors.py:18-28). */
case class RelEdge(center: Long, rel: Long, neighbor: String, neighborId: Long, seq: Long)

/** Ordered-dedup neighbor collect — the reference's load-bearing
  * aggregation (SURVEY.md §2.4 A1; loader/DBP15KRawNeighbors.py:25-45):
  * distinct neighbor strings in FIRST-SEEN order (min seq per string),
  * truncated to `limit`.
  *
  * Scale note: the buffer is BOUNDED at `limit` entries. Pruning beyond
  * the `limit` smallest seqs is safe under partial-aggregate merge: seqs
  * only matter via their per-string minimum, and any globally-qualifying
  * occurrence lives in some partial where it ranks within the smallest
  * `limit`. Hub entities with degree 10^6 cost O(limit) memory, not
  * O(degree) — required at the 10^12-doc design point.
  */
class OrderedDedupAgg(limit: Int)
    extends Aggregator[Edge, Map[String, (Long, Long)], Seq[(String, Long)]] {

  def zero: Map[String, (Long, Long)] = Map.empty

  // deterministic order: (minSeq, neighborId) — ties on seq are broken
  // by id so results are stable under any partitioning / map iteration
  private def prune(m: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    if (m.size <= limit) m else m.toSeq.sortBy(x => (x._2._1, x._2._2)).take(limit).toMap

  def reduce(b: Map[String, (Long, Long)], e: Edge): Map[String, (Long, Long)] =
    b.get(e.neighbor) match {
      case Some((s, _)) if s <= e.seq => b
      case _ => prune(b.updated(e.neighbor, (e.seq, e.neighborId)))
    }

  def merge(x: Map[String, (Long, Long)], y: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    prune(y.foldLeft(x) { case (acc, (n, (s, id))) =>
      acc.get(n) match {
        case Some((s0, _)) if s0 <= s => acc
        case _ => acc.updated(n, (s, id))
      }
    })

  /** Distinct (neighborName, neighborId) in first-seen order. */
  def finish(b: Map[String, (Long, Long)]): Seq[(String, Long)] =
    b.toSeq.sortBy(x => (x._2._1, x._2._2)).take(limit).map { case (n, (_, id)) => (n, id) }

  def bufferEncoder: Encoder[Map[String, (Long, Long)]] = ExpressionEncoder()
  def outputEncoder: Encoder[Seq[(String, Long)]] = ExpressionEncoder()
}

/** Neighborhood view builder: directed triples → undirected 1-hop
  * neighborhoods (U2 union of both directions) → ordered-dedup collect →
  * NeighborBlock with center row 0, zero padding. The star adjacency is
  * derived from validLen inside the GAT kernel and never materialized
  * (SURVEY.md §2.4 A2; loader/DBP15KRawNeighbors.py:66-82). */
object NeighborAgg {

  /** A triple's first-seen position: a pure function of its CONTENT,
    * not of partitioning or document provenance, so the neighbor order
    * is the same at any parallelism and under retract/re-add. */
  def contentSeq(t: Triple): Long = (t.head << 20) ^ t.tail ^ (t.rel << 40)

  /** Block assembly from id triples, shared by the batch pipeline and
    * the continuous mode: content-ordered undirected 1-hop neighborhoods
    * ([[undirectedEdges]] → [[orderedNeighbors]]), centers restricted to
    * `centers` when given, then [[blocks]]. A restricted center's row is
    * identical to the full run's as long as `triples` holds its complete
    * incident edge set. */
  def blocksOf(spark: SparkSession, triples: Dataset[Triple], ents: Dataset[Entity],
               embs: Dataset[Emb], dim: Int, boundedDims: Boolean = true,
               centers: Option[Set[Long]] = None): Dataset[NeighborBlock] = {
    import spark.implicits._
    val edges = undirectedEdges(spark, triples.map(t => (t, contentSeq(t))), ents, boundedDims)
    val ordered = orderedNeighbors(spark, edges, ents, boundedDims = boundedDims)
    val kept = centers.fold(ordered) { cs =>
      val bc = spark.sparkContext.broadcast(cs)
      ordered.filter(r => bc.value.contains(r._1))
    }
    blocks(spark, kept, embs, ents, dim, boundedDims)
  }

  /** Both-direction edge stream with stable seq: head→tail gets seq*2,
    * tail→head seq*2+1 (the reference processes the head side then the
    * tail side of each line — loader/DBP15KRawNeighbors.py:36-45). */
  def undirectedEdges(spark: SparkSession, triplesWithSeq: Dataset[(Triple, Long)],
                      ents: Dataset[Entity], boundedDims: Boolean = true): Dataset[Edge] = {
    import spark.implicits._
    val names = graft.util.BoundedProbe.dimHint(
      ents.toDF().select(col("id"), col("name")), boundedDims)
    val t = triplesWithSeq.toDF("t", "seq")
    val fwd = t.select(col("t.head").as("center"), col("t.tail").as("nid"), (col("seq") * 2).as("seq"))
    val rev = t.select(col("t.tail").as("center"), col("t.head").as("nid"), (col("seq") * 2 + 1).as("seq"))
    fwd.unionByName(rev)
      .join(names, col("nid") === col("id"))
      .select(col("center"), col("name").as("neighbor"), col("nid").as("neighborId"), col("seq"))
      .as[Edge]
  }

  /** center → ordered distinct neighbors, truncated to NeighborSize-1
    * (center occupies row 0). Center-valued neighbor strings are excluded:
    * the reference seeds the list with the center string, so its dedup
    * check drops them (loader/DBP15KRawNeighbors.py:36-38). One shuffle,
    * partial-aggregated map-side. */
  def orderedNeighbors(spark: SparkSession, edges: Dataset[Edge], ents: Dataset[Entity],
                       limit: Int = Dims.NeighborSize - 1,
                       boundedDims: Boolean = true): Dataset[(Long, Seq[(String, Long)])] = {
    import spark.implicits._
    // same un-renamed (id, name) plan as undirectedEdges' neighbor-name
    // join: the two broadcast exchanges canonicalize identically, so one
    // query materializing both joins builds the broadcast ONCE (AQE
    // stage cache) — renames live in the join condition, not under the
    // exchange, where they would fork it into two builds
    val centerNames = graft.util.BoundedProbe.dimHint(
      ents.toDF().select(col("id"), col("name")), boundedDims)
    val filtered = edges.toDF().join(centerNames, col("center") === col("id"))
      .filter(col("neighbor") =!= col("name"))
      .select(col("center"), col("neighbor"), col("neighborId"), col("seq"))
      .as[Edge]
    filtered.groupByKey(_.center)
      .agg(new OrderedDedupAgg(limit).toColumn.name("neighbors"))
  }

  /** Per-relation grouping variant (loader/Neighbors.py:18-28:
    * dict[id][relation] -> ordered distinct neighbors) — the
    * relation-aware neighborhood the token ablation consumes. Same
    * ordered-dedup aggregator, keyed by (center, rel); dedup is per
    * (center, rel) group exactly as the reference dicts nest. */
  def orderedNeighborsByRel(spark: SparkSession, edges: Dataset[RelEdge],
                            limit: Int = Dims.NeighborSize - 1): Dataset[((Long, Long), Seq[(String, Long)])] = {
    import spark.implicits._
    edges.groupByKey(e => (e.center, e.rel))
      .mapValues(e => Edge(e.center, e.neighbor, e.neighborId, e.seq))
      .agg(new OrderedDedupAgg(limit).toColumn.name("neighbors"))
  }

  /** In-place quicksort of `keys[lo..hi]` carrying one or two parallel
    * Int arrays (`p2` may be null) — the primitive-paired sort the
    * broadcast pack needs (keys are unique ids, so pivot ties cannot
    * recurse degenerately on equal runs; a boxed `sortBy` here costs
    * both tuple allocation and comparator dispatch on a 100k+ row
    * driver-serial path). Recursion goes into the smaller side and the
    * larger side is looped on, so the stack depth is at most log2(n)
    * whatever the key order; the two sides are disjoint, so the order
    * they are sorted in does not change the result. */
  private[graft] def sortPaired(keys: Array[Long], p1: Array[Int], p2: Array[Int],
                                lo0: Int, hi0: Int): Unit = {
    @inline def swap(i: Int, j: Int): Unit = {
      val k = keys(i); keys(i) = keys(j); keys(j) = k
      val a = p1(i); p1(i) = p1(j); p1(j) = a
      if (p2 != null) { val b = p2(i); p2(i) = p2(j); p2(j) = b }
    }
    var lo = lo0
    var hi = hi0
    while (lo < hi) {
      val mid = lo + (hi - lo) / 2
      // median-of-three pivot selection
      if (keys(mid) < keys(lo)) swap(mid, lo)
      if (keys(hi) < keys(lo)) swap(hi, lo)
      if (keys(hi) < keys(mid)) swap(hi, mid)
      val pivot = keys(mid)
      var i = lo
      var j = hi
      while (i <= j) {
        while (keys(i) < pivot) i += 1
        while (keys(j) > pivot) j -= 1
        if (i <= j) { swap(i, j); i += 1; j -= 1 }
      }
      if (j - lo < hi - i) { sortPaired(keys, p1, p2, lo, j); lo = i }
      else { sortPaired(keys, p1, p2, i, hi); hi = j }
    }
  }

  /** The [[blocks]] fast path's embedding side: ids sorted ascending and
    * the embeddings packed row-major in the same order. */
  private def packEmbeddings(embs: Dataset[Emb], dim: Int): (Array[Long], Array[Float]) = {
    import embs.sparkSession.implicits._
    val packed: Array[(Array[Long], Array[Float])] = embs.mapPartitions { it =>
      val idB = new scala.collection.mutable.ArrayBuffer[Long]
      val emB = new scala.collection.mutable.ArrayBuffer[Array[Float]]
      it.foreach { e => idB += e.id; emB += e.emb }
      val flat = new Array[Float](emB.length * dim)
      var i = 0
      while (i < emB.length) { System.arraycopy(emB(i), 0, flat, i * dim, dim); i += 1 }
      Iterator.single((idB.toArray, flat))
    }.collect()
    // single output allocation + primitive paired sort + direct gather
    // from the partition buffers: boxed sortBy tuples and a second
    // 100 MB concat buffer measured as multi-second driver gaps on
    // this host's slow first-touch page-fault path
    val total = packed.iterator.map(_._1.length).sum
    val embIds = new Array[Long](total)
    val partOf = new Array[Int](total)
    val idxOf = new Array[Int](total)
    var off = 0
    var p = 0
    while (p < packed.length) {
      val ids = packed(p)._1
      var i = 0
      while (i < ids.length) {
        embIds(off) = ids(i); partOf(off) = p; idxOf(off) = i; off += 1; i += 1
      }
      p += 1
    }
    sortPaired(embIds, partOf, idxOf, 0, total - 1)
    val embFlat = new Array[Float](total * dim)
    var r = 0
    while (r < total) {
      System.arraycopy(packed(partOf(r))._2, idxOf(r) * dim, embFlat, r * dim, dim)
      r += 1
    }
    (embIds, embFlat)
  }

  /** The [[blocks]] fast path's kg side: entity ids sorted ascending and
    * their kg in the same order. */
  private def packKgs(ents: Dataset[Entity]): (Array[Long], Array[Int]) = {
    import ents.sparkSession.implicits._
    val kgPacked = ents.toDF().select(col("id"), col("kg")).as[(Long, Int)]
      .mapPartitions { it =>
        val ids = new scala.collection.mutable.ArrayBuffer[Long]
        val kgs = new scala.collection.mutable.ArrayBuffer[Int]
        it.foreach { case (i, kg) => ids += i; kgs += kg }
        Iterator.single((ids.toArray, kgs.toArray))
      }.collect()
    val kgIds = kgPacked.flatMap(_._1)
    val kgVals = kgPacked.flatMap(_._2)
    sortPaired(kgIds, kgVals, null, 0, kgIds.length - 1)
    (kgIds, kgVals)
  }

  /** Default byte budget for the [[blocks]] broadcast fast path (a
    * budget ≤ 0 disables the fast path outright). 256 MB is a sane
    * executor broadcast on any modern box; the 10^12-row design point
    * exceeds it and takes the shuffle-join path below. */
  val BlocksBroadcastMaxBytes: Long = 256L << 20

  /** Assemble NeighborBlocks from the ordered neighbor lists.
    *
    * FAST PATH (round 6, guide §2.3/§3.1 — shuffle fewer bytes): the
    * general plan explodes each center's neighbor list and shuffle-joins
    * the embedding table onto it, which moves ~degree × dim × 4 bytes
    * per center across two exchanges (measured ~2 GB and the single
    * largest stage of the bench pipeline at E=50k, dim 256 — vs ~100 MB
    * for the embedding table itself). When one bounded probe proves the
    * embedding table fits the byte budget [[BlocksBroadcastMaxBytes]]
    * (rows ≤ bytes / 4·dim), the table is collected once and broadcast,
    * and block assembly is MAP-ONLY over the ordered lists — zero
    * exchanges, identical rows (inner-join semantics preserved: centers
    * or neighbors without an embedding row drop exactly as the join
    * dropped them; equality-gated in OperatorSpec). Above the cap — the
    * 10^12-row design point — the original explode → join → re-collect
    * plan runs unchanged.
    *
    * SHUFFLE PATH: explode ordered neighbor ids, join embeddings
    * (shuffle on neighbor id), re-collect by (center, pos) — order
    * restored from pos, then prepend center row and zero-pad. */
  def blocks(spark: SparkSession, ordered: Dataset[(Long, Seq[(String, Long)])],
             embs: Dataset[Emb], ents: Dataset[Entity], dim: Int,
             boundedDims: Boolean = true): Dataset[NeighborBlock] =
    blocks(spark, ordered, embs, ents, dim, boundedDims, BlocksBroadcastMaxBytes)

  /** [[blocks]] under an explicit broadcast byte budget. */
  private[graft] def blocks(spark: SparkSession, ordered: Dataset[(Long, Seq[(String, Long)])],
                            embs: Dataset[Emb], ents: Dataset[Entity], dim: Int,
                            boundedDims: Boolean, maxBroadcastBytes: Long): Dataset[NeighborBlock] = {
    import spark.implicits._
    val bcMaxRows = maxBroadcastBytes / (4L * math.max(1, dim))
    // the dictionary gate (boundedDims) bounds the kg lookup side; the
    // byte probe bounds the embedding payload itself
    if (boundedDims && bcMaxRows > 0 &&
        graft.util.BoundedProbe.atMost(embs.toDF(), bcMaxRows)) {
      // FLAT PRIMITIVE broadcast layout — sorted id array + one packed
      // float array + parallel kg arrays, looked up by binary search. A
      // Map[Long, Array[Float]] here Java-serializes 100k+ small object
      // graphs at broadcast-creation time (measured ~17 s of driver gap
      // at E=50k — more than the shuffle it replaced); primitive arrays
      // serialize as bulk bytes in well under a second.
      // The pack happens ON THE EXECUTORS (round 6): `embs.collect()`
      // decoded 100k embedding rows through the row encoder on the
      // driver, single-threaded — measured as a 6.6 s driver gap at
      // E=50k (BENCH.md), a pure serial term that Amdahl-caps
      // the N-vs-4N ladder. Each partition now emits ONE
      // (ids, packed-floats) pair — executor-parallel packing, and the
      // driver's decode of a handful of primitive-array rows is bulk
      // memcpy. The driver only concatenates and applies one sort
      // permutation.
      // the kg collect is independent of the embedding collect — run it
      // concurrently (guide §2.6: overlap independent jobs) so the
      // serial prelude pays one job round-trip, not two; both run in the
      // caller's job group, and a failure of either cancels and awaits
      // the other
      val ((embIds, embFlat), (kgIds, kgVals)) = graft.util.ParJobs.both(spark)(
        packEmbeddings(embs, dim), packKgs(ents))
      val bcEmbIds = spark.sparkContext.broadcast(embIds)
      val bcEmbFlat = spark.sparkContext.broadcast(embFlat)
      val bcKgIds = spark.sparkContext.broadcast(kgIds)
      val bcKgVals = spark.sparkContext.broadcast(kgVals)
      return ordered.mapPartitions { it =>
          val ids = bcEmbIds.value; val flatAll = bcEmbFlat.value
          val kIds = bcKgIds.value; val kVals = bcKgVals.value
          it.flatMap { case (center, ns) =>
            // inner-join semantics: center must have an embedding AND a
            // kg row; neighbors without an embedding drop (closing the
            // gap, like the shuffle join); a center whose neighbors all
            // drop disappears (the groupBy saw no row for it)
            val cIdx = java.util.Arrays.binarySearch(ids, center)
            val kIdx = java.util.Arrays.binarySearch(kIds, center)
            if (cIdx < 0 || kIdx < 0) Iterator.empty
            else {
              val nIdx = ns.iterator.map(x => java.util.Arrays.binarySearch(ids, x._2))
                .filter(_ >= 0).toArray
              if (nIdx.isEmpty) Iterator.empty
              else {
                val n = math.min(nIdx.length + 1, Dims.NeighborSize)
                val flat = new Array[Float](n * dim)
                System.arraycopy(flatAll, cIdx * dim, flat, 0, dim)
                var i = 1
                while (i < n) {
                  System.arraycopy(flatAll, nIdx(i - 1) * dim, flat, i * dim, dim)
                  i += 1
                }
                Iterator.single(NeighborBlock(center, kVals(kIdx), flat, n))
              }
            }
          }
        }
    }
    val embDf = embs.toDF("eid", "emb")
    val kgDf = graft.util.BoundedProbe.dimHint(
      ents.toDF().select(col("id").as("cid"), col("kg")), boundedDims)
    val exploded = ordered.toDF("center", "ns")
      .select(col("center"), posexplode(col("ns")).as(Seq("pos", "n")))
      .select(col("center"), col("pos"), col("n._2").as("nid"))
    val joined = exploded.join(embDf, col("nid") === col("eid"))
      .groupBy(col("center"))
      .agg(array_sort(collect_list(struct(col("pos"), col("emb")))).as("sorted"))
      .select(col("center"), col("sorted.emb").as("nembs"))
    joined
      .join(embDf.select(col("eid").as("center"), col("emb").as("cemb")), Seq("center"))
      .join(kgDf, col("center") === col("cid"))
      .select(col("center"), col("kg"), col("cemb"), col("nembs"))
      .as[(Long, Int, Array[Float], Seq[Array[Float]])]
      .map { case (id, kg, cemb, nembs) =>
        // flat row-major block: center row 0, then ordered neighbors;
        // no padding rows materialized (validLen carries the shape)
        val n = math.min(nembs.length + 1, Dims.NeighborSize)
        val flat = new Array[Float](n * dim)
        System.arraycopy(cemb, 0, flat, 0, dim)
        var i = 1
        while (i < n) {
          System.arraycopy(nembs(i - 1), 0, flat, i * dim, dim)
          i += 1
        }
        NeighborBlock(id, kg, flat, n)
      }
  }
}
