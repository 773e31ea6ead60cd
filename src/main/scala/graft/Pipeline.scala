package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._
import graft.ingest.{DocSynthesizer, SynthConfig}
import graft.extract.Extraction
import graft.embed.{Embedder, EmbedderConfig}
import graft.graph.NeighborAgg
import graft.align.{GatWeights, MoCoTrainer, MoCoConfig}
import graft.candidates.{ExactTopK, IvfTopK, LshTopK}
import graft.canon.{CanonicalTriples, ConnectedComponents}
import graft.tableio.TableIO

/** End-to-end KG-construction pipeline (the north star, BASELINE.json):
  *
  *   interleaved docs → mention detection + triple extraction per span
  *   → embeddings (broadcast-model mapPartitions) → 1-hop neighbor
  *   aggregation → MoCo-trained GAT encoding → candidate top-k join
  *   (exact or LSH+salting) → RSM-scored alignment → connected-components
  *   canonicalization → partitioned (subj, pred, obj) triples with
  *   lineage + checkpointed resume (TableIO).
  *
  * Shuffle inventory of one run (SURVEY.md §3.1 Spark trace): extraction
  * is narrow after the explode; the neighbor agg shuffles once on entity
  * id; block assembly shuffles once on neighbor id; the candidate join
  * shuffles on LSH bucket (or not at all on the broadcast path); CC runs
  * 2–4 small rounds; final materialization shuffles on the partition
  * column. Entity dictionaries ride broadcast joins throughout — but
  * only while one bounded probe proves them ≤ `dimBroadcastMaxRows`;
  * past the cap the hints drop and the dims shuffle-join (the correct
  * plan at billions of entities, where a forced broadcast is an OOM).
  */
final case class PipelineConfig(
    synth: SynthConfig = SynthConfig(),
    embed: EmbedderConfig = EmbedderConfig(),
    moco: MoCoConfig = MoCoConfig(epochs = 1),
    /** Candidate path: Some(true) forces LSH, Some(false) forces the
      * exact broadcast path, None (default) auto-selects by corpus size —
      * exact only when corpus × dim fits a sane executor broadcast.
      * Both paths emit the same RSM z-score scale, so rsmThreshold is
      * path-independent. */
    useLsh: Option[Boolean] = None,
    /** Force the IVF coarse-quantizer candidate path (candidates/IvfTopK)
      * — takes precedence over useLsh/auto. Same RSM score scale as the
      * other two paths, so rsmThreshold stays path-independent. */
    useIvf: Boolean = false,
    useMoco: Boolean = false,
    /** SSL ablation (align/SslPath, model/layers_LaBSE_SSL.py): skip the
      * neighbor/GAT stage entirely and align on raw embeddings — with
      * useMoco, a Linear(dim→dim) adapter is MoCo-trained over them with
      * self-negatives (the reference's neighbor-free fine-tune path).
      * Saves both neighbor-aggregation shuffles. */
    useSsl: Boolean = false,
    topK: Int = Dims.TopK,
    /** auto path: corpus floats (rows × dim) above this → LSH. 5e7 floats
      * ≈ 200 MB broadcast — past that a driver collect/broadcast is the
      * thing that falls over first at scale. */
    exactPathMaxFloats: Long = 50_000_000L,
    /** RSM z-score acceptance threshold for canonicalization edges.
      * Empirically on the fixture: 4.0 leaves ~1/3 of aligned pairs
      * unmerged; 2.0 merges ~all with no observed false merges (rank-1
      * precision is gated separately by Hit@1). */
    rsmThreshold: Double = 2.0,
    /** lowercase normalization at load — the DWY100K discipline
      * (loader/DWY100K.py:21); applied to both entity names and mention
      * surfaces so dictionary linking stays consistent. */
    lowercaseNames: Boolean = false,
    /** > 0 with useMoco on `runSynthetic`: hash-split this fraction of
      * the planted gold links into a held-out valid set and run the
      * reference's eval-every-epoch model selection
      * (model/layers_LaBSE_neighbor.py:452-486, DWY :442) — each epoch's
      * weights are scored by valid Hit@1 and the best-scoring epoch wins
      * (A5). External callers pass their valid links to `run` directly.
      * Training itself never sees the links (SelfKG is self-supervised),
      * so no leakage split is needed beyond holding them out of eval. */
    validFraction: Double = 0.0,
    /** Forced-broadcast gate for the entity-dimension joins (extraction
      * dict, neighbor name/kg dims, stage-4 kgOf, stage-6 names): the
      * run probes the entity frame ONCE (one narrow job with bounded
      * per-task cost, util.BoundedProbe) and force-broadcasts these
      * dims only when |ents| ≤ this cap; above it every hint drops and
      * Catalyst/AQE picks the join strategy — a forced broadcast of
      * billions of entities is a driver OOM at the design point. ≤ 0
      * disables forcing outright (no probe job runs). The two plans are
      * equality-gated in PipelineSpec. */
    dimBroadcastMaxRows: Long = 4_000_000L,
    checkpointDir: Option[String] = None)

object PipelineConfig {
  /** DWY100K-shaped preset: lowercase entity load (loader/DWY100K.py:21),
    * batch 32 (model/layers_DWY_LaBSE_neighbor.py:43). The DWY
    * eval-every-epoch discipline (:442) is MoCoTrainer.train's `eval`
    * hook (best-by-valid-metric weights). */
  def dwy(synth: SynthConfig = SynthConfig(), embed: EmbedderConfig = EmbedderConfig()): PipelineConfig =
    PipelineConfig(synth = synth, embed = embed,
      moco = MoCoConfig(batchSize = 32, epochs = 1),
      lowercaseNames = true)
}

final case class PipelineResult(
    docs: Dataset[Doc],
    entities: Dataset[Entity],
    rawTriples: Dataset[RawTriple],
    idTriples: Dataset[Triple],
    alignment: Dataset[Candidate],
    components: DataFrame,
    canonicalTriples: DataFrame,
    /** media-span features side table (doc_id, media_ref, offset,
      * feature_fp, n_frames) — the multimodal lineage surface */
    mediaFeatures: DataFrame,
    /** best per-epoch valid Hit@1 when eval-every-epoch ran */
    validHit1: Option[Double],
    /** which candidate path actually ran: "exact", "lsh", or "ivf" —
      * auto-selection is observable */
    candidatePath: String)

object Pipeline {

  /** Run on synthesized fixtures (no external data permitted). */
  def runSynthetic(spark: SparkSession, cfg: PipelineConfig): PipelineResult = {
    val docs = DocSynthesizer.docs(spark, cfg.synth)
    val ents = DocSynthesizer.entities(spark, cfg.synth)
    val valid =
      if (cfg.useMoco && cfg.validFraction > 0)
        Some(DocSynthesizer.goldLinks(spark, cfg.synth).filter { l =>
          graft.util.DetHash.toUnit(graft.util.DetHash.h2(cfg.synth.seed, l.e1, 555L)) < cfg.validFraction
        })
      else None
    run(spark, docs, ents, cfg, valid)
  }

  /** Per-epoch validation: Hit@1 of the current weights over the valid
    * links, ranked against the valid targets plus a deterministic
    * ~`negSample`-row hash sample of the KG2 corpus. Bounded per-epoch
    * cost at any corpus size: only the valid ± sampled blocks are
    * encoded (narrow) and the exact ranking corpus stays ≲ negSample
    * rows — the full candidate join never runs inside the epoch loop.
    * The sampled ranking approximates the full-corpus eval the way the
    * reference's valid split approximates test (:452-486); final quality
    * gates still run on the full alignment. Returns the hook plus a
    * cleanup that drops the two cached block subsets. */
  def validationHook(spark: SparkSession, blocks: Dataset[NeighborBlock],
                     validLinks: Dataset[Link], negSample: Int = 4096):
      (GatWeights => Double, () => Unit) = {
    import spark.implicits._
    val pairs = validLinks.collect() // valid sets are small by design
    val srcIds = pairs.map(_.e1).toSet
    val dstIds = pairs.map(_.e2).toSet
    val bcSrc = spark.sparkContext.broadcast(srcIds)
    val bcDst = spark.sparkContext.broadcast(dstIds)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val qBlocks = blocks.filter(b => bcSrc.value.contains(b.id)).persist(lvl)
    val nKg2 = blocks.filter(_.kg == 2).count()
    val rate = math.max(1L, nKg2 / math.max(1, negSample))
    val cBlocks = blocks.filter { b =>
      b.kg == 2 && (bcDst.value.contains(b.id) ||
        graft.util.DetHash.nonNeg(graft.util.DetHash.h1(941L, b.id)) % rate == 0L)
    }.persist(lvl)
    qBlocks.count(); cBlocks.count()
    val hook = (w: GatWeights) => {
      val cands = ExactTopK.topK(spark,
        MoCoTrainer.encode(spark, qBlocks, w),
        MoCoTrainer.encode(spark, cBlocks, w), 1)
      eval.Metrics.hitAtK(spark, cands, validLinks, 1).head().getDouble(0)
    }
    (hook, () => { qBlocks.unpersist(blocking = false); cBlocks.unpersist(blocking = false) })
  }

  def run(spark: SparkSession, docs: Dataset[Doc], ents0: Dataset[Entity], cfg: PipelineConfig,
          validLinks: Option[Dataset[Link]] = None): PipelineResult = {
    import spark.implicits._

    // ---- stage 0: load normalization (DWY lowercase discipline) ----
    // cut: the dictionary is consumed by ~6 downstream subtrees (probe,
    // extraction dict, kgOf, names ×2, auto-path count) — without the
    // cut each re-runs the load/synthesis map (the incremental twin
    // IncrementalAlign.initial has always cut here)
    val ents = graft.util.Lineage.cut(
      if (cfg.lowercaseNames) ents0.map(e => e.copy(name = e.name.toLowerCase))
      else ents0)

    // one bounded probe decides every forced dim-broadcast this run
    val dimsBounded = graft.util.BoundedProbe.dimsBounded(ents.toDF(), cfg.dimBroadcastMaxRows)

    // ---- stage 1: extraction (checkpointable) ----
    val raw0 = Extraction.rawTriples(spark, docs)
    val raw =
      if (cfg.lowercaseNames)
        raw0.map(r => r.copy(subj = r.subj.toLowerCase, obj = r.obj.toLowerCase))
      else raw0
    val idTriples = cfg.checkpointDir match {
      case Some(dir) =>
        TableIO.computeIfAbsent(spark, s"$dir/id_triples", "extract") {
          Extraction.idTriples(spark, raw, ents, dimsBounded).toDF()
        }.as[Triple]
      // cut: the triple table feeds the direction-union edge build
      // (which otherwise re-runs doc synthesis + extraction TWICE — the
      // two union branches are separate map subtrees over the doc
      // source) and the stage-6 materialize join (a third pass).
      // Measured at E=50k/8c: the re-extraction stage billed ~147
      // task-seconds of the 559 s run (stage table in BENCH.md);
      // the localCheckpoint is one narrow triple table.
      case None => graft.util.Lineage.cut(Extraction.idTriples(spark, raw, ents, dimsBounded))
    }

    // ---- stage 1b: media-features side table (multimodal lineage) ----
    // extraction prunes media spans at the scan (they contribute no
    // triples); the media surface routes them through MediaKernels and,
    // under a checkpoint dir, commits them with lineage like the triples
    val mediaFeatures = cfg.checkpointDir match {
      case Some(dir) =>
        TableIO.computeIfAbsent(spark, s"$dir/media_features", "media") {
          graft.extract.MediaKernels.docMediaFeatures(spark, docs)
        }
      case None => graft.extract.MediaKernels.docMediaFeatures(spark, docs)
    }

    // ---- stage 2: embeddings (broadcast-model mapPartitions) ----
    val embs = cfg.checkpointDir match {
      case Some(dir) =>
        TableIO.computeIfAbsent(spark, s"$dir/embeddings", "embed") {
          Embedder.embedEntities(spark, ents, cfg.embed).toDF()
        }.as[Emb]
      // cut: consumed by the block assembly AND the blockless fallback
      // branch — two hash-embedding passes over the dictionary without it
      case None => graft.util.Lineage.cut(Embedder.embedEntities(spark, ents, cfg.embed))
    }

    // ---- stage 3: neighbor aggregation + encoding ----
    // SSL ablation skips the neighbor/GAT stage: singleton blocks over
    // the raw embeddings (narrow broadcast join, zero extra shuffles)
    val blocks =
      if (cfg.useSsl) align.SslPath.singletonBlocks(spark, embs, ents, dimsBounded)
      else NeighborAgg.blocksOf(spark, idTriples, ents, embs, cfg.embed.dim, dimsBounded)

    def fit(ev: Option[GatWeights => Double]): GatWeights =
      if (cfg.useSsl) align.SslPath.train(spark, blocks, cfg.embed.dim, cfg.moco, ev)
      else MoCoTrainer.train(spark, blocks, cfg.embed.dim, cfg.moco, ev)
    var validHit1: Option[Double] = None
    val weights: GatWeights =
      if (cfg.useMoco) validLinks match {
        case Some(vl) =>
          // eval-every-epoch model selection (reference :452-486, DWY :442)
          val (score, close) = validationHook(spark, blocks, vl)
          val scores = scala.collection.mutable.ArrayBuffer.empty[Double]
          try fit(Some(w => { val s = score(w); scores += s; s }))
          finally { validHit1 = scores.maxOption; close() }
        case None => fit(None)
      }
      else align.GatKernel.initWeights(cfg.embed.dim)
        .withNorms(cfg.moco.centerNorm, cfg.moco.neighborNorm)

    // ---- stage 4: candidate top-k join (KG1 queries vs KG2 corpus) ----
    // lineage cut + compute-once: BOTH candidate sides (q1, c2) read this
    // — without it the whole upstream (extraction → blocks → GAT encode)
    // runs twice. CHECKPOINT (not persist) because the candidate stage
    // runs MANY actions (sample/count/score/merge jobs): a persist
    // leaves the full upstream in every downstream logical plan, so each
    // action re-analyzes and AQE re-plans the deep tree (measured multi-
    // second driver gaps per job at bench scale — the serial floor that
    // caps small-rung N-vs-4N scaling); the checkpoint's LogicalRDD makes
    // every candidate-stage plan shallow. Same discipline as
    // ConnectedComponents.cut: reliable checkpoint when the session has
    // a checkpoint dir (real cluster — survives executor loss), lazy
    // localCheckpoint otherwise (single box, where the first candidate
    // job materializes the blocks and executor loss ≡ JVM loss anyway).
    val embById = graft.util.Lineage.cut(
      MoCoTrainer.encodeCorpus(spark, blocks, weights, embs, ents, dimsBounded))
    val q1 = embById.filter(col("kg") === 1).select(col("id"), col("emb")).as[Emb]
    val c2 = embById.filter(col("kg") === 2).select(col("id"), col("emb")).as[Emb]
    // lazy: the auto decision (and its dictionary count job) runs only
    // when IVF hasn't already claimed the path (round-2 ADVICE)
    lazy val wantLsh = cfg.useLsh.getOrElse {
      // auto: count the KG2 entity dictionary (cheap scan) — NOT the
      // encoded embeddings, whose count would re-run the encode stage
      val corpusRows = ents.filter(_.kg == 2).count()
      corpusRows * cfg.embed.dim > cfg.exactPathMaxFloats
    }
    val candidatePath = if (cfg.useIvf) "ivf" else if (wantLsh) "lsh" else "exact"
    val cands = candidatePath match {
      case "ivf" => IvfTopK.topK(spark, q1, c2, cfg.topK)
      case "lsh" => LshTopK.topK(spark, q1, c2, cfg.topK)
      case _ =>
        // LSH/IVF return their candidates persisted + materialized; give
        // the exact path the same contract so embById can be released
        val r = ExactTopK.topK(spark, q1, c2, cfg.topK)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        r.count()
        r
    }
    // candidates are materialized on every path — the encoded-embedding
    // blocks have served both sides and can go (repeated runs in one
    // session must not accumulate cached blocks, ADVICE r2). A local-
    // checkpointed Dataset's blocks live on its underlying RDD (Dataset
    // .unpersist only reaches CacheManager entries), so free them there.
    embById.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

    // ---- stage 5: canonicalization ----
    val acceptedEdges = cands.toDF()
      .filter(col("rank") === 1 && col("score") >= cfg.rsmThreshold)
      .select(col("srcId").as("a"), col("dstId").as("b"))
    // size-gated: accepted edges are ≤ |queries| rows — under the driver
    // cap they solve in one bounded collect + union-find (the distributed
    // star loop's ~13 jobs/run are pure scheduling latency at that size,
    // and its LocalRelation result broadcast-joins in stage 6); billions
    // of queries exceed the cap and take the distributed loop
    val comps = ConnectedComponents.runAuto(spark, acceptedEdges)

    // ---- stage 6: materialize canonical (subj, pred, obj) ----
    val t = CanonicalTriples.of(idTriples.toDF(), comps, ents, dimsBounded)
      .select(col("subj"), col("pred"), col("obj"), col("subjId"), col("objId"),
        CanonicalTriples.bucket(col("subjId")).as("bucket"))
    val canonical = cfg.checkpointDir match {
      case Some(dir) =>
        TableIO.computeIfAbsent(spark, s"$dir/triples_canonical", "materialize",
          inputs = Seq(s"$dir/id_triples"), partitionCols = Seq("bucket"))(t)
      case None => t
    }

    PipelineResult(docs, ents, raw, idTriples, cands, comps, canonical,
      mediaFeatures = mediaFeatures, validHit1 = validHit1, candidatePath = candidatePath)
  }
}
