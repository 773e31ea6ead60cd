package graft

import graft.kg._
import graft.align.{GatKernel, MoCoTrainer, MoCoConfig}
import graft.graph.NeighborAgg
import graft.embed.{Embedder, EmbedderConfig}
import graft.ingest.{DocSynthesizer, SynthConfig}

/** MoCo machinery gates: the partition-local negative-queue training
  * loop runs, produces a finite loss, picks an alpha from the grid, and
  * is deterministic across partitionings (content-derived batch order —
  * SURVEY.md §7.5 item 2). */
class MoCoSpec extends SparkTestBase {
  import spark.implicits._

  private def blocks(parts: Int) = {
    val synth = SynthConfig(entitiesPerKg = 120)
    val embedCfg = EmbedderConfig(dim = 32)
    val ents = DocSynthesizer.entities(spark, synth)
    val triples = DocSynthesizer.goldTriples(spark, synth, 1)
      .union(DocSynthesizer.goldTriples(spark, synth, 2))
    NeighborAgg.blocksOf(spark, triples, ents,
      Embedder.embedEntities(spark, ents, embedCfg), 32).repartition(parts)
  }

  test("MoCo epoch: runs the queue discipline, returns grid alpha + finite loss") {
    val cfg = MoCoConfig(batchSize = 8, queueLen = 4, epochs = 1)
    val w = GatKernel.initWeights(32)
    val (alpha, loss) = MoCoTrainer.epoch(spark, blocks(4), w, cfg)
    assert(cfg.alphaGrid.contains(alpha))
    assert(!loss.isNaN && loss >= 0.0 && loss != Double.MaxValue,
      s"queue must fill and produce a real NCE loss, got $loss")
  }

  test("train: alpha-step schedule refines; eval hook returns best-by-metric") {
    // F8 analog: epoch>0 grids center on the current alpha with a step
    // that halves every 10 epochs; the eval hook (DWY eval-every-epoch)
    // must make train return the best-scoring epoch's weights
    val cfg = MoCoConfig(batchSize = 8, queueLen = 4, epochs = 3, alphaStep = 0.05f)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Float]
    val w = MoCoTrainer.train(spark, blocks(4), 32, cfg,
      eval = Some(wt => { seen += wt.alpha; -math.abs(wt.alpha - 0.2) }))
    assert(seen.size == 3)
    val expected = seen.minBy(a => math.abs(a - 0.2f))
    assert(w.alpha == expected, s"returned ${w.alpha}, best-by-eval $expected of $seen")
    assert(w.alpha >= 0f && w.alpha <= 1f)
  }

  test("combine init [I | alpha*I] reproduces the scalar-alpha forward") {
    val w = GatKernel.initWeights(32).withAlpha(0.3f)
    val wFull = w.withCombine(GatKernel.initCombine(32, 0.3f))
    val bs = blocks(4).collect()
    assert(bs.nonEmpty)
    bs.foreach { b =>
      val a = GatKernel.forward(w, b)
      val f = GatKernel.forward(wFull, b)
      a.zip(f).foreach { case (x, y) => assert(math.abs(x - y) < 1e-5f, s"$x vs $y") }
    }
  }

  test("combine gradient training lowers NCE loss; F8 schedule; partition-invariant") {
    val cfg = MoCoConfig(batchSize = 8, queueLen = 4, epochs = 2, lr0 = 0.05,
      trainCombine = true, combineShards = 4)
    val base = GatKernel.initWeights(32)
    val w0 = GatKernel.initCombine(32, base.alpha)
    // lr = 0 → pure loss evaluation of fixed weights
    val (_, _, lossBefore) = MoCoTrainer.combineEpoch(spark, blocks(4), base, w0, w0.clone(), 0.0, cfg)
    val trained = MoCoTrainer.trainCombine(spark, blocks(4), 32, cfg)
    assert(trained.combine != null && trained.combine.length == 32 * 64)
    val (_, _, lossAfter) = MoCoTrainer.combineEpoch(
      spark, blocks(4), base, trained.combine, trained.combine.clone(), 0.0, cfg)
    assert(lossAfter < lossBefore,
      s"SGD on the NCE loss must reduce it: before $lossBefore after $lossAfter")
    // bit-identical at different input partitionings (fixed virtual shards)
    val trained2 = MoCoTrainer.trainCombine(spark, blocks(11), 32, cfg)
    assert(trained.combine.sameElements(trained2.combine),
      "combine training must be bit-identical across partitionings")
  }

  test("F8 schedule (lrAt, the function the training loops call): halves at epoch 9") {
    // reference adjust_learning_rate: lr halves when (epoch+1) % 10 == 0,
    // i.e. the FIRST halving applies at epoch index 9 (round-2 ADVICE:
    // e/10 was off by one at the boundary, and the old assertions tested
    // standalone integer-division constants, not the trainer's schedule)
    assert(MoCoTrainer.lrAt(0.05, 0) == 0.05)
    assert(MoCoTrainer.lrAt(0.05, 8) == 0.05)
    assert(MoCoTrainer.lrAt(0.05, 9) == 0.025)
    assert(MoCoTrainer.lrAt(0.05, 18) == 0.025)
    assert(MoCoTrainer.lrAt(0.05, 19) == 0.0125)
  }

  test("alpha-path epoch is invariant to input partitioning AND session shuffle conf") {
    // round-2 verdict item 2: epoch() used repartition(col) which
    // inherited spark.sql.shuffle.partitions, so queue composition could
    // differ between N and 4N sessions. Now it shards to the fixed
    // cfg.combineShards like the combine path.
    val cfg = MoCoConfig(batchSize = 8, queueLen = 4, epochs = 1, combineShards = 5)
    val w = GatKernel.initWeights(32)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val a = MoCoTrainer.epoch(spark, blocks(3), w, cfg)
    spark.conf.set("spark.sql.shuffle.partitions", "17")
    val b = try MoCoTrainer.epoch(spark, blocks(13), w, cfg)
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(a == b, s"alpha path must be partitioning-independent: $a vs $b")
  }

  test("GAT norm flags: neighborNorm feeds a unit attention vector to the combine; [I|aI] equivalence holds") {
    // reference center_norm/neighbor_norm (model/layers_LaBSE_neighbor
    // .py:39-40,123-126; CLI defaults False/True) — config-gated here
    val w = GatKernel.initWeights(32).withAlpha(0.3f).withNorms(center = false, neighbor = true)
    val wFull = w.withCombine(GatKernel.initCombine(32, 0.3f))
    val wOff = GatKernel.initWeights(32).withAlpha(0.3f)
    val bs = blocks(4).collect()
    var flagChangedSomething = false
    bs.foreach { b =>
      val (_, g) = GatKernel.combineInputs(w, b)
      if (b.validLen > 1) {
        val n = math.sqrt(g.map(v => v.toDouble * v).sum)
        assert(math.abs(n - 1.0) < 1e-4, s"neighborNorm must unit-normalize, got $n")
      }
      val light = GatKernel.forward(w, b)
      val full = GatKernel.forward(wFull, b)
      light.zip(full).foreach { case (x, y) => assert(math.abs(x - y) < 1e-5f) }
      if (!light.sameElements(GatKernel.forward(wOff, b))) flagChangedSomething = true
    }
    assert(flagChangedSomething, "the flag must be observable on multi-row blocks")
  }

  test("MoCo encode is deterministic and normalized") {
    val w = GatKernel.initWeights(32).withAlpha(0.3f)
    val a = MoCoTrainer.encode(spark, blocks(3), w).collect().sortBy(_.id)
    val b = MoCoTrainer.encode(spark, blocks(11), w).collect().sortBy(_.id)
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) =>
      assert(x.id == y.id && x.emb.sameElements(y.emb))
    }
    val n = math.sqrt(a.head.emb.map(v => v.toDouble * v).sum)
    assert(math.abs(n - 1.0) < 1e-5)
  }
}
