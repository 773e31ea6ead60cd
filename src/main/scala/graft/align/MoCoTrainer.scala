package graft.align

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.kg._
import graft.embed.Embedder
import graft.util.BoundedProbe

/** SelfKG-style self-supervised training + RSM scoring.
  *
  * Reference machinery reproduced (SURVEY.md §2.9):
  *  - T1 MoCo negative queue: FIFO of the last `queueLen` batches per KG;
  *    negatives never mix KGs (model/layers_LaBSE_neighbor.py:392-420).
  *    Implemented as a PARTITION-LOCAL batched negative cache inside
  *    mapPartitions (north star): rows are processed in deterministic
  *    content-derived batch order, each partition maintains its own queue.
  *  - T2 momentum (key) encoder: EMA-updated copy producing positives and
  *    negatives (:104-108, m = 0.9999).
  *  - F4/F9 NCE: softmax cross-entropy at label 0 with temperature 0.08.
  *
  * Training target: with no pretrained weights in the sandbox the only
  * free parameter is the combine mixing weight `alpha` (GatKernel). Each
  * partition line-searches alpha on its own queue-based NCE loss; the
  * driver averages partition results weighted by row count — one Spark
  * job per epoch, no shuffle inside an epoch (SURVEY.md §3.1 trace).
  *
  * RSM (relative similarity metric): the paper's RSM manifests as
  * ranking by cosine of one shared encoder's L2-normalized outputs with
  * self-negatives (SURVEY.md §2.9 note). `rsmScore` additionally
  * calibrates each source's cosine against the negative-cache
  * distribution (z-score) so canonicalization gets an absolute threshold;
  * per-source ranking is unchanged (monotone in cosine).
  */
final case class MoCoConfig(
    batchSize: Int = 64,           // model/layers_LaBSE_neighbor.py:36
    queueLen: Int = 64,            // :37
    temperature: Double = 0.08,    // :46
    momentum: Double = 0.9999,     // :47
    epochs: Int = 3,
    alphaGrid: Seq[Float] = Seq(0.0f, 0.1f, 0.2f, 0.3f, 0.5f, 0.8f),
    /** refinement step around the current alpha after epoch 0; HALVED
      * every 10 epochs — the analog of the reference's LR schedule (F8,
      * model/layers_LaBSE_neighbor.py:53-57: lr halves every 10 epochs;
      * alpha is this trainer's only free parameter). */
    alphaStep: Float = 0.1f,
    /** true → gradient-train the FULL combine Linear(2·dim → dim)
      * (trainCombine) instead of the scalar-alpha line search. */
    trainCombine: Boolean = false,
    /** SGD base learning rate for combine training; halves every 10
      * epochs (F8, model/layers_LaBSE_neighbor.py:53-57 — the SCHEDULE is
      * the reference's; the base value is not: the reference fine-tunes
      * pretrained LaBSE at 1e-6, this sandbox trains a fresh layer over
      * hash features, which wants a fresh-layer-scale lr). */
    lr0: Double = 0.05,
    /** fixed virtual-shard count for BOTH training paths: rows are hashed
      * to combineShards shards regardless of cluster parallelism, each
      * shard runs its own sequential queue pass (line search or SGD), and
      * the driver averages shard results per epoch (local SGD). Fixing
      * the shard count — not inheriting spark.sql.shuffle.partitions — is
      * what makes the result bit-identical at N vs 4N cores (SURVEY.md
      * §7.5 item 2; round-2 verdict: the alpha path used to inherit the
      * session partition count, so queue composition could differ between
      * parallelism levels). */
    combineShards: Int = 32,
    /** GAT center_norm / neighbor_norm flags (GatWeights scaladoc;
      * reference defaults are center=false, neighbor=true). */
    centerNorm: Boolean = false,
    neighborNorm: Boolean = false)

object MoCoTrainer {

  /** F8 schedule: the step size for epoch index `e`. Halves every 10
    * epochs, first at epoch index 9 — the reference's
    * adjust_learning_rate halves when (epoch+1) % 10 == 0
    * (model/layers_LaBSE_neighbor.py:53-57), so epoch 9 already trains
    * at lr0/2. Integer division is intentional. */
  def lrAt(lr0: Double, e: Int): Double = lr0 * math.pow(0.5, (e + 1) / 10)

  /** NCE loss of one positive pair against a negative block.
    * logits = [q·k+, q·n1, ...]/t; CE at label 0 (:60-72,102). */
  def nceLoss(q: Array[Float], kPos: Array[Float], negs: Iterable[Array[Float]], t: Double): Double = {
    val pos = Embedder.dot(q, kPos) / t
    var maxL = pos
    val negL = negs.map { n => val l = Embedder.dot(q, n) / t; if (l > maxL) maxL = l; l }
    var z = math.exp(pos - maxL)
    negL.foreach(l => z += math.exp(l - maxL))
    -(pos - maxL - math.log(z))
  }

  /** One training epoch: partition-local alpha line search under the MoCo
    * queue discipline. Returns (bestAlpha, loss) averaged over partitions.
    * Blocks are batched in content-derived order (id hash) so the result
    * is independent of partitioning — N vs 4N determinism (SURVEY §7.5). */
  def epoch(spark: SparkSession, blocks: Dataset[NeighborBlock], w: GatWeights, cfg: MoCoConfig,
            grid: Seq[Float] = Nil): (Float, Double) = {
    import spark.implicits._
    val alphas = if (grid.nonEmpty) grid else cfg.alphaGrid
    val results = blocks
      .map(b => (graft.util.DetHash.h1(Dims.Seed, b.id), b))(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.product[NeighborBlock]))
      .repartition(cfg.combineShards, org.apache.spark.sql.functions.col("_1"))
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1).map(_._2) // deterministic batch order
        if (rows.isEmpty) Iterator.empty
        else {
          val out = alphas.map { a =>
            val wq = w.withAlpha(a)            // query encoder
            var wk = wq                        // momentum key encoder (T2)
            var loss = 0.0; var nPairs = 0L
            // per-KG FIFO negative queues (T1) — negatives never mix KGs
            val queues = Map(1 -> new scala.collection.mutable.ArrayDeque[Array[Array[Float]]](),
                             2 -> new scala.collection.mutable.ArrayDeque[Array[Array[Float]]]())
            rows.grouped(cfg.batchSize).foreach { batch =>
              val byKg = batch.groupBy(_.kg)
              byKg.foreach { case (kg, bs) =>
                val q = queues.getOrElse(kg, queues(1))
                val kEmbs = bs.map(b => GatKernel.forward(wk, b)) // key encoder, no grad
                if (q.size >= cfg.queueLen) {
                  // oldest batch = positives, rest of queue = negatives (:392-420)
                  val posBatch = q.removeHead()
                  val negs = q.iterator.flatten.toArray
                  // positive pair: same row encoded by q-enc vs k-enc
                  bs.zipWithIndex.take(posBatch.length).foreach { case (b, i) =>
                    val qEmb = GatKernel.forward(wq, b)
                    loss += nceLoss(qEmb, kEmbs(i), negs, cfg.temperature)
                    nPairs += 1
                  }
                }
                q.append(kEmbs.toArray)
              }
              // EMA update of the key encoder after every step (:497)
              val m = cfg.momentum.toFloat
              wk = wk.withAlpha(m * wk.alpha + (1 - m) * wq.alpha)
            }
            (a, if (nPairs == 0) Double.MaxValue else loss / nPairs, rows.length.toLong)
          }
          Iterator.single(out)
        }
      }
      .collect()
    if (results.isEmpty) (w.alpha, 0.0)
    else {
      // weighted-average per-alpha loss across partitions, pick argmin
      val byAlpha = results.flatten.groupBy(_._1).map { case (a, xs) =>
        val wsum = xs.map(_._3).sum.toDouble
        (a, xs.map(x => x._2 * x._3).sum / math.max(1.0, wsum))
      }
      byAlpha.minBy(_._2)
    }
  }

  /** One combine-training epoch: every shard starts from the same
    * broadcast (query, key) weights, runs the MoCo queue discipline
    * sequentially over its content-hashed rows, and SGD-steps its local
    * copy per batch; the driver pair-weight-averages shard weights in
    * shard-id order (deterministic float summation). lr = 0 turns the
    * pass into a pure loss evaluation (used by tests).
    *
    * Per positive pair the gradient flows through q = normalize(W·x)
    * only (x = [center ∥ gatOut] is fixed — attention is not trained;
    * key encodings and negatives are stop-grad, reference
    * :430-436 `no_grad`): dL/dq = (softmax − onehot₀)·K / t,
    * dL/du = (dL/dq − q(q·dL/dq)) / ‖u‖, dL/dW = dL/du ⊗ x. */
  def combineEpoch(spark: SparkSession, blocks: Dataset[NeighborBlock], base: GatWeights,
                   wq0: Array[Float], wk0: Array[Float], lr: Double, cfg: MoCoConfig): (Array[Float], Array[Float], Double) = {
    import spark.implicits._
    val bcBase = spark.sparkContext.broadcast(base)
    val bcQ = spark.sparkContext.broadcast(wq0)
    val bcK = spark.sparkContext.broadcast(wk0)
    val states = blocks
      .map(b => (graft.util.DetHash.h1(Dims.Seed, b.id), b))(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.product[NeighborBlock]))
      .repartition(cfg.combineShards, org.apache.spark.sql.functions.col("_1"))
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1).map(_._2) // deterministic batch order
        if (rows.isEmpty) Iterator.empty
        else {
          val baseW = bcBase.value
          val w = bcQ.value.clone()   // query-encoder combine weights
          val wk = bcK.value.clone()  // momentum key-encoder copy (T2)
          val dim = rows.head.emb.length / rows.head.validLen
          val d2 = 2 * dim
          // attention is fixed → precompute x = (center, agg) once per
          // row, norm flags applied (combineInputs = the combine's input)
          val xs = rows.map(b => GatKernel.combineInputs(baseW, b))
          val kgs = rows.map(_.kg)
          val t = cfg.temperature
          var loss = 0.0
          var nPairs = 0L
          val grad = new Array[Double](w.length)
          val queues = Map(1 -> new scala.collection.mutable.ArrayDeque[Array[Array[Float]]](),
                           2 -> new scala.collection.mutable.ArrayDeque[Array[Array[Float]]]())
          rows.indices.grouped(cfg.batchSize).foreach { batch =>
            java.util.Arrays.fill(grad, 0.0)
            var stepPairs = 0
            batch.groupBy(kgs(_)).toSeq.sortBy(_._1).foreach { case (kg, is) =>
              val q = queues.getOrElse(kg, queues(1))
              val kEmbs = is.map { i =>
                val (c, g) = xs(i)
                graft.embed.Embedder.l2normalize(GatKernel.matvec2(wk, c, g))
              }
              if (q.size >= cfg.queueLen) {
                val posBatch = q.removeHead()
                val negs = q.iterator.flatten.toArray
                is.take(posBatch.length).zipWithIndex.foreach { case (i, bi) =>
                  val (c, g) = xs(i)
                  val u = GatKernel.matvec2(w, c, g)
                  var nu = 0.0
                  var j = 0
                  while (j < dim) { nu += u(j).toDouble * u(j); j += 1 }
                  nu = math.sqrt(nu)
                  val qv = new Array[Double](dim)
                  j = 0
                  while (j < dim) { qv(j) = u(j) / nu; j += 1 }
                  @inline def qdot(kv: Array[Float]): Double = {
                    var s = 0.0
                    var jj = 0
                    while (jj < dim) { s += qv(jj) * kv(jj); jj += 1 }
                    s
                  }
                  // logits [pos, negs...] / t; softmax; CE at label 0
                  val lPos = qdot(kEmbs(bi)) / t
                  var maxL = lPos
                  val lNeg = new Array[Double](negs.length)
                  var n = 0
                  while (n < negs.length) { lNeg(n) = qdot(negs(n)) / t; if (lNeg(n) > maxL) maxL = lNeg(n); n += 1 }
                  var z = math.exp(lPos - maxL)
                  n = 0
                  while (n < negs.length) { z += math.exp(lNeg(n) - maxL); n += 1 }
                  loss += -(lPos - maxL - math.log(z))
                  nPairs += 1
                  stepPairs += 1
                  if (lr != 0.0) {
                    // dL/dq = Σ_j (p_j − δ_j0)·k_j / t
                    val dq = new Array[Double](dim)
                    val pPos = math.exp(lPos - maxL) / z
                    j = 0
                    while (j < dim) { dq(j) = (pPos - 1.0) * kEmbs(bi)(j) / t; j += 1 }
                    n = 0
                    while (n < negs.length) {
                      val p = math.exp(lNeg(n) - maxL) / z
                      j = 0
                      while (j < dim) { dq(j) += p * negs(n)(j) / t; j += 1 }
                      n += 1
                    }
                    // dL/du = (dq − q(q·dq)) / ‖u‖
                    var qdq = 0.0
                    j = 0
                    while (j < dim) { qdq += qv(j) * dq(j); j += 1 }
                    val gu = new Array[Double](dim)
                    j = 0
                    while (j < dim) { gu(j) = (dq(j) - qv(j) * qdq) / nu; j += 1 }
                    // dL/dW += gu ⊗ [c ∥ g]
                    var r = 0
                    while (r < dim) {
                      val off = r * d2
                      val gr = gu(r)
                      j = 0
                      while (j < dim) { grad(off + j) += gr * c(j); j += 1 }
                      j = 0
                      while (j < dim) { grad(off + dim + j) += gr * g(j); j += 1 }
                      r += 1
                    }
                  }
                }
              }
              q.append(kEmbs.toArray)
            }
            // SGD step on the batch-mean gradient, then EMA the key copy
            // after every step (:497, momentum :47)
            if (lr != 0.0 && stepPairs > 0) {
              val scale = lr / stepPairs
              var j = 0
              while (j < w.length) { w(j) = (w(j) - scale * grad(j)).toFloat; j += 1 }
              val m = cfg.momentum
              j = 0
              while (j < w.length) { wk(j) = (m * wk(j) + (1 - m) * w(j)).toFloat; j += 1 }
            }
          }
          Iterator.single((org.apache.spark.TaskContext.getPartitionId(), w, wk, nPairs, loss, rows.length.toLong))
        }
      }
      .collect()
    val withPairs = states.filter(_._4 > 0).sortBy(_._1) // shard-id order: fixed merge order
    if (withPairs.isEmpty) (wq0, wk0, 0.0)
    else {
      val totPairs = withPairs.map(_._4).sum.toDouble
      val len = wq0.length
      val accQ = new Array[Double](len)
      val accK = new Array[Double](len)
      withPairs.foreach { case (_, w, wk, pairs, _, _) =>
        val wt = pairs / totPairs
        var j = 0
        while (j < len) { accQ(j) += wt * w(j); accK(j) += wt * wk(j); j += 1 }
      }
      val loss = withPairs.map(_._5).sum / totPairs
      (accQ.map(_.toFloat), accK.map(_.toFloat), loss)
    }
  }

  /** Gradient training of the full combine Linear(2·dim → dim): local
    * SGD over fixed content-hashed shards with per-epoch weight
    * averaging; EMA'd key copy (T2/F7) carried across epochs; lr halves
    * every 10 epochs (F8). Returns weights with `combine` set. The
    * `eval` hook mirrors train()'s best-by-metric discipline (A5). */
  def trainCombine(spark: SparkSession, blocks: Dataset[NeighborBlock], dim: Int,
                   cfg: MoCoConfig = MoCoConfig(),
                   eval: Option[GatWeights => Double] = None): GatWeights = {
    val base = GatKernel.initWeights(dim).withNorms(cfg.centerNorm, cfg.neighborNorm)
    var w = GatKernel.initCombine(dim, base.alpha)
    var wk = w.clone()
    var cur = base.withCombine(w)
    var best = cur
    var bestScore = Double.NegativeInfinity
    var e = 0
    while (e < cfg.epochs) {
      val lr = lrAt(cfg.lr0, e) // F8: halve every 10 epochs (first at index 9)
      val (w2, wk2, _) = combineEpoch(spark, blocks, base, w, wk, lr, cfg)
      w = w2; wk = wk2
      cur = base.withCombine(w)
      eval.foreach { f =>
        val s = f(cur)
        if (s > bestScore) { bestScore = s; best = cur }
      }
      e += 1
    }
    if (eval.isDefined) best else cur
  }

  /** Training loop. Epoch 0 searches the coarse alphaGrid; later epochs
    * refine around the current alpha with a step that HALVES every 10
    * epochs — the analog of the reference LR schedule (F8,
    * model/layers_LaBSE_neighbor.py:53-57), alpha being the only free
    * parameter of this stand-in trainer.
    *
    * `eval` (optional) is the eval-every-epoch discipline (DWY:
    * layers_DWY_LaBSE_neighbor.py:442): called after each epoch, and the
    * best-scoring weights are returned (A5 best-metric tracking) instead
    * of the last-epoch weights. */
  def train(spark: SparkSession, blocks: Dataset[NeighborBlock], dim: Int,
            cfg: MoCoConfig = MoCoConfig(),
            eval: Option[GatWeights => Double] = None): GatWeights = {
    if (cfg.trainCombine) return trainCombine(spark, blocks, dim, cfg, eval)
    var w = GatKernel.initWeights(dim).withNorms(cfg.centerNorm, cfg.neighborNorm)
    var best = w
    var bestScore = Double.NegativeInfinity
    var e = 0
    while (e < cfg.epochs) {
      val grid =
        if (e == 0) cfg.alphaGrid
        else {
          val step = lrAt(cfg.alphaStep, e).toFloat
          (-2 to 2).map(i => math.min(1f, math.max(0f, w.alpha + i * step))).distinct
        }
      val (a, _) = epoch(spark, blocks, w, cfg, grid)
      w = w.withAlpha(a)
      eval.foreach { f =>
        val s = f(w)
        if (s > bestScore) { bestScore = s; best = w }
      }
      e += 1
    }
    if (eval.isDefined) best else w
  }

  /** Encode blocks with trained weights → alignment embeddings. */
  def encode(spark: SparkSession, blocks: Dataset[NeighborBlock], w: GatWeights): Dataset[Emb] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(w)
    blocks.mapPartitions { it =>
      val wv = bc.value
      it.map(b => Emb(b.id, GatKernel.forward(wv, b)))
    }
  }

  /** Full-corpus alignment embeddings `(id, kg, emb)`, shared by the
    * batch pipeline and the continuous-mode bootstrap: the GAT encoding
    * of `blocks`, the raw embedding for every entity without a block
    * (reference blocks exist only for entities in triples), and the kg
    * attached by a dictionary join. The encoder output is cut: the union
    * and the anti-join's id side both read it, and without the cut the
    * GAT forward pass over every block runs twice per downstream action.
    * The anti-join's build side is an id-only projection bounded by
    * |ents|, so under the dim gate it broadcasts instead of shuffling the
    * embedding payload. */
  def encodeCorpus(spark: SparkSession, blocks: Dataset[NeighborBlock], w: GatWeights,
                   rawEmbs: Dataset[Emb], ents: Dataset[Entity],
                   boundedDims: Boolean): DataFrame = {
    val enc = graft.util.Lineage.cut(encode(spark, blocks, w).toDF("id", "emb"))
    val blockless = rawEmbs.toDF("id", "emb")
      .join(BoundedProbe.dimHint(enc.select("id"), boundedDims), Seq("id"), "left_anti")
    val kgOf = BoundedProbe.dimHint(ents.toDF().select(col("id"), col("kg")), boundedDims)
    enc.unionByName(blockless).join(kgOf, "id").select(col("id"), col("kg"), col("emb"))
  }

  /** RSM calibration: mean/std of cosine against a deterministic sample of
    * same-KG negatives (the negative-cache distribution), per source.
    * score = (cos - mu) / sigma. Per-source ranking unchanged. */
  def rsmScore(cos: Double, mu: Double, sigma: Double): Double =
    if (sigma <= 1e-9) cos else (cos - mu) / sigma
}
