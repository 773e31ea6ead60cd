package kgbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Pipeline, PipelineConfig}
import graft.align.{GatKernel, MoCoTrainer}
import graft.candidates.LshTopK
import graft.canon.ConnectedComponents
import graft.embed.{Embedder, EmbedderConfig}
import graft.eval.Metrics
import graft.extract.Extraction
import graft.graph.NeighborAgg
import graft.ingest.{DocSynthesizer, SynthConfig}
import graft.kg._
import graft.util.{BoundedProbe, Lineage}

/** `batch_lsh`: the batch pipeline on the LSH candidate path.
  *
  * Set-up writes the synthetic docs and entity dictionary to parquet;
  * every timed operation reads them back as tables, runs
  * `Pipeline.run` and writes the canonical triples to parquet. The
  * traced operation calls the same layer functions `Pipeline.run`
  * composes, with the same `Lineage.cut` boundaries, one span per layer.
  */
object BatchWorkload {

  final case class Size(entities: Int, dim: Int, setups: Int, warmups: Int)
  def size(smoke: Boolean): Size = if (smoke) Size(150, 32, 1, 1) else Size(3000, 256, 3, 2)

  def run(spark: SparkSession, run: Bench.Run): Unit = {
    import spark.implicits._
    val a = run.args
    val sz = size(a.smoke)
    val synth = SynthConfig(entitiesPerKg = sz.entities, seed = a.seed)
    val cfg = PipelineConfig(synth = synth, embed = EmbedderConfig(dim = sz.dim), useLsh = Some(true))
    val in = s"${a.work}/input"
    val docsN = 2L * sz.entities
    run.context ++= Seq("entities_per_kg" -> sz.entities, "dim" -> sz.dim, "docs_per_op" -> docsN)

    // ---- set-up: inputs generated and written several times (median reported) ----
    val gen = (1 to sz.setups).map { _ =>
      Bench.seconds {
        DocSynthesizer.docs(spark, synth).write.mode("overwrite").parquet(s"$in/docs")
        DocSynthesizer.entities(spark, synth).write.mode("overwrite").parquet(s"$in/ents")
      }._2
    }
    run.setup("input_s") = gen.toList
    def docs: Dataset[Doc] = spark.read.parquet(s"$in/docs").as[Doc]
    def ents: Dataset[Entity] = spark.read.parquet(s"$in/ents").as[Entity]

    var n = 0
    def out(): String = { n += 1; s"${a.work}/out/canonical-$n" }

    /** One untraced operation: the product's entry point, end to end. */
    def plain(): (String, Double, graft.PipelineResult) = {
      val o = out()
      val (r, wall) = Bench.seconds {
        val r = Pipeline.run(spark, docs, ents, cfg)
        r.canonicalTriples.write.parquet(o)
        r
      }
      (o, wall, r)
    }
    def release(r: graft.PipelineResult): Unit = r.alignment.unpersist(blocking = false)

    // warm-up: JIT and first-use costs settle over the first two runs
    run.setup("warmup_s") = List.fill(sz.warmups) {
      val (_, warm, wr) = plain()
      release(wr)
      warm
    }

    // ---- timed operations ----
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var last: Option[graft.PipelineResult] = None
    val digests = scala.collection.mutable.ArrayBuffer.empty[(Boolean, String)]
    do {
      last.foreach(release)
      val (o, wall, r) = plain()
      last = Some(r)
      val d = Bench.bookkeeping(spark)(Bench.digest(spark.read.parquet(o)))
      digests += ((false, d))
      run.op(wall, docsN, traced = false, "digest" -> d)
      tracer.foreach { t =>
        val o2 = out()
        val (cands, tw) = Bench.seconds(traced(spark, t, docs, ents, cfg, o2))
        t.endOp()
        cands.unpersist(blocking = false)
        val d2 = Bench.bookkeeping(spark)(Bench.digest(spark.read.parquet(o2)))
        digests += ((true, d2))
        run.op(tw, docsN, traced = true, "digest" -> d2)
      }
    } while (System.nanoTime() < deadline || digests.count(!_._1) < run.minOps)
    tracer.foreach(t => run.trace = t.dump())

    // ---- checks, outside the timers ----
    val r = last.get
    val first = digests.head._2
    run.check("canonical_triples_repeat", digests.filterNot(_._1).forall(_._2 == first), first)
    if (a.trace)
      run.check("traced_equals_untraced", digests.filter(_._1).forall(_._2 == first),
        digests.filter(_._1).map(_._2).distinct.mkString(","))
    run.checking("canonical_rows") {
      val rows = first.takeWhile(_ != ':').toLong
      (rows > 0, s"$rows rows")
    }
    Bench.bookkeeping(spark) {
      run.checking("alignment_quality") {
        val gold = DocSynthesizer.goldLinks(spark, synth)
        val m = Metrics.hitAtK(spark, r.alignment, gold).head()
        run.quality("hit_at_1") = m.getDouble(0)
        run.quality("hit_at_10") = m.getDouble(1)
        (m.getDouble(0) >= 0.5, f"hit@1 ${m.getDouble(0)}%.4f (floor 0.5, the LSH-path gate)")
      }
      run.checking("triple_quality") {
        val gold = DocSynthesizer.goldTriples(spark, synth, 1).union(DocSynthesizer.goldTriples(spark, synth, 2))
        val (p, rc) = Metrics.triplePR(spark, r.idTriples, gold)
        run.quality("triple_precision") = p
        run.quality("triple_recall") = rc
        (p >= 0.95 && rc >= 0.95, f"P $p%.4f R $rc%.4f (floor 0.95)")
      }
    }
    release(r)
  }

  /** `Pipeline.run` for this workload's configuration (LSH path, no
    * MoCo, no SSL, no checkpoint dir), one span per layer call. Each cut
    * is materialized inside the span that creates it, so the span owns
    * its work; the materializing action is one job over rows the cut
    * computes once either way, so no pass is added. Keep in step with
    * `Pipeline.run`: the digest check fails when the two disagree. */
  def traced(spark: SparkSession, t: Tracer, docs: Dataset[Doc], ents0: Dataset[Entity],
             cfg: PipelineConfig, out: String): Dataset[Candidate] = {
    import spark.implicits._
    val (ents, dimsBounded) = t.counted("ingest") {
      val ents = Lineage.cut(ents0)
      val bounded = cfg.dimBroadcastMaxRows > 0 &&
        BoundedProbe.atMost(ents.toDF(), cfg.dimBroadcastMaxRows)
      ((ents, bounded), ents.count())
    }
    val idTriples = t.counted("extract") {
      force(Lineage.cut(Extraction.idTriples(spark, Extraction.rawTriples(spark, docs), ents, dimsBounded)))
    }
    val embs = t.counted("embed")(force(Lineage.cut(Embedder.embedEntities(spark, ents, cfg.embed))))
    val blocks = t.span("graph", (d: Dataset[NeighborBlock]) => d.count()) {
      val withSeq = idTriples.map(t => (t, (t.head << 20) ^ t.tail ^ (t.rel << 40)))
      val edges = NeighborAgg.undirectedEdges(spark, withSeq, ents, dimsBounded)
      val ordered = NeighborAgg.orderedNeighbors(spark, edges, ents, boundedDims = dimsBounded)
      NeighborAgg.blocks(spark, ordered, embs, ents, cfg.embed.dim, dimsBounded)
    }
    val encoded = t.counted("align") {
      val weights = GatKernel.initWeights(cfg.embed.dim)
        .withNorms(cfg.moco.centerNorm, cfg.moco.neighborNorm)
      force(Lineage.cut(MoCoTrainer.encode(spark, blocks, weights)))
    }
    val cands = t.span("candidates", (d: Dataset[Candidate]) => d.count()) {
      val encodedAll = encoded.toDF("id", "emb").unionByName(
        embs.toDF("id", "emb").join(BoundedProbe.dimHint(
          encoded.toDF("id", "emb2").select("id"), dimsBounded), Seq("id"), "left_anti"))
      val kgOf = BoundedProbe.dimHint(ents.toDF().select(col("id"), col("kg")), dimsBounded)
      val embById = Lineage.cut(encodedAll.join(kgOf, "id"))
      val q1 = embById.filter(col("kg") === 1).select(col("id"), col("emb")).as[Emb]
      val c2 = embById.filter(col("kg") === 2).select(col("id"), col("emb")).as[Emb]
      val c = LshTopK.topK(spark, q1, c2, cfg.topK)
      embById.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
      c
    }
    val comps = t.span("canon", (d: DataFrame) => d.count()) {
      val acceptedEdges = cands.toDF()
        .filter(col("rank") === 1 && col("score") >= cfg.rsmThreshold)
        .select(col("srcId").as("a"), col("dstId").as("b"))
      ConnectedComponents.runAuto(spark, acceptedEdges)
    }
    t.span("materialize") {
      val canonMap = comps.select(col("node"), col("component"))
      val names = BoundedProbe.dimHint(ents.toDF().select(col("id"), col("name")), dimsBounded)
      idTriples.toDF().as("t")
        .join(canonMap.as("ch"), col("t.head") === col("ch.node"), "left")
        .join(canonMap.as("ct"), col("t.tail") === col("ct.node"), "left")
        .withColumn("subjId", coalesce(col("ch.component"), col("t.head")))
        .withColumn("objId", coalesce(col("ct.component"), col("t.tail")))
        .join(names.as("ns"), col("subjId") === col("ns.id"))
        .join(names.as("no"), col("objId") === col("no.id"))
        .select(col("ns.name").as("subj"), concat(lit("rel_"), col("t.rel")).as("pred"),
          col("no.name").as("obj"),
          col("subjId"), col("objId"), pmod(col("subjId"), lit(16)).as("bucket"))
        .write.parquet(out)
    }
    cands
  }

  /** Materializes a lazily cut Dataset now: one job over the cut, whose
    * row count is the span's output. */
  private def force[T](ds: Dataset[T]): (Dataset[T], Long) = (ds, ds.count())
}
