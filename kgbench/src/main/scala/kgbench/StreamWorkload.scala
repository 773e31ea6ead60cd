package kgbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{AlignState, IncrementalAlign, IncrementalConfig}
import graft.eval.Metrics
import graft.ingest.{DocSynthesizer, SynthConfig}
import graft.kg._
import graft.streaming.{BatchStage, StreamProgress, StreamingKg}

/** One CDC event of the input table, tagged with its micro-batch. */
final case class BatchEvent(batch: Int, op: String, doc_id: String, spans: Seq[Span])
/** One dictionary entry arriving with micro-batch `batch`. */
final case class BatchEntity(batch: Int, id: Long, name: String, kg: Int)

/** `stream_cdc`: the indexed continuous mode driven through
  * `StreamingKg.writerCdc` from a `MemoryStream`, one client in a closed
  * loop with one micro-batch in flight, state committed and reloaded
  * every batch (`commitEvery = 1`).
  *
  * Set-up writes the bootstrap docs and dictionary plus a pool of
  * micro-batches to parquet, and bootstraps the state from those tables.
  * Micro-batch b adds the docs of `delta` new entities per KG (generated
  * at corpus size e0 + b·delta, so a batch only mentions entities known
  * by its end) and retracts `tombstones` bootstrap docs. There is no
  * warm-up batch: one costs as much as a timed batch, which the run
  * budget cannot carry, so the first timed batch also pays the stream's
  * first-use costs. The traced operation calls the functions the
  * `writerCdc` batch body wraps, one span each.
  */
object StreamWorkload {

  final case class Size(e0: Int, delta: Int, tombstones: Int, pool: Int)
  def size(smoke: Boolean): Size = if (smoke) Size(60, 5, 1, 4) else Size(300, 3, 1, 24)

  private def idx(docId: String): Long = docId.substring(docId.lastIndexOf('_') + 1).toLong

  def run(spark: SparkSession, run: Bench.Run): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val a = run.args
    val sz = size(a.smoke)
    val seed = a.seed
    val (e0, delta) = (sz.e0, sz.delta)
    val cfg = IncrementalConfig(useIndex = true)
    val in = s"${a.work}/input"
    run.context ++= Seq("bootstrap_entities_per_kg" -> e0, "entities_per_batch_per_kg" -> delta,
      "tombstones_per_batch" -> sz.tombstones, "dim" -> cfg.embed.dim)

    // ---- set-up: input tables ----
    val (_, genS) = Bench.seconds {
      val boot = SynthConfig(entitiesPerKg = e0, seed = seed)
      DocSynthesizer.docs(spark, boot).write.mode("overwrite").parquet(s"$in/boot_docs")
      DocSynthesizer.entities(spark, boot).write.mode("overwrite").parquet(s"$in/boot_ents")
      val rng = new scala.util.Random(seed)
      val victims = rng.shuffle((0 until e0).toList).take(sz.pool * sz.tombstones).zipWithIndex
        .map { case (i, k) => (k / sz.tombstones + 1, s"kg${1 + k % 2}_doc_$i") }
      val adds = spark.range(0L, sz.pool.toLong * delta).flatMap { j =>
        val b = (j / delta).toInt + 1
        val c = SynthConfig(entitiesPerKg = e0 + b * delta, seed = seed)
        Seq(1, 2).map { kg =>
          val d = DocSynthesizer.docOf(c, kg, e0 + j)
          BatchEvent(b, "add", d.doc_id, d.spans)
        }
      }
      adds.unionByName(victims.map { case (b, id) => BatchEvent(b, "retract", id, Seq.empty) }.toDS())
        .write.mode("overwrite").parquet(s"$in/events")
      spark.range(0L, sz.pool.toLong * delta).flatMap { j =>
        val c = SynthConfig(entitiesPerKg = e0, seed = seed)
        Seq(1, 2).map(kg => BatchEntity((j / delta).toInt + 1, DocSynthesizer.entityId(kg, e0 + j),
          DocSynthesizer.entityName(c, kg, e0 + j), kg))
      }.write.mode("overwrite").parquet(s"$in/batch_ents")
    }
    run.setup("input_s") = List(genS)
    val bootDocs = spark.read.parquet(s"$in/boot_docs").as[Doc]
    val bootEnts = spark.read.parquet(s"$in/boot_ents").as[Entity]
    val batchEnts = spark.read.parquet(s"$in/batch_ents").as[BatchEntity]
    val pool: Array[Seq[DocEvent]] = spark.read.parquet(s"$in/events").as[BatchEvent].collect()
      .groupBy(_.batch).toArray.sortBy(_._1)
      .map { case (_, evs) => evs.sortBy(e => (e.op, e.doc_id)).toSeq.map(e => DocEvent(e.op, e.doc_id, e.spans)) }

    /** The ingest contract: a batch's docs bring their dictionary entries. */
    def entsFor(docs: Dataset[Doc]): Dataset[Entity] = {
      val ids = docs.map(d => idx(d.doc_id)).collect().toSet
      batchEnts.filter(e => ids.contains(e.id % DocSynthesizer.Kg2Base))
        .map(e => Entity(e.id, e.name, e.kg))
    }

    val (s0, bootS) = Bench.seconds(IncrementalAlign.initial(spark, bootDocs, bootEnts, cfg))
    run.setup("bootstrap_s") = bootS

    // ---- timed: the stream, one micro-batch in flight ----
    val stateDir = s"${a.work}/state"
    val source = MemoryStream[DocEvent]
    val (writer, handle) = StreamingKg.writerCdc(source.toDS(), entsFor, s0, cfg,
      stateDir = Some(stateDir), commitEvery = 1, checkpointLocation = Some(s"${a.work}/checkpoint"))
    val q = writer.start()
    var applied = 0
    try {
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      do {
        val evs = pool(applied)
        val (_, wall) = Bench.seconds { source.addData(evs: _*); q.processAllAvailable() }
        applied += 1
        run.op(wall, evs.count(_.op == "add").toLong, traced = false)
      } while ((System.nanoTime() < deadline || applied < run.minOps) && applied < pool.length)
    } finally q.stop()
    run.context("batches_applied") = applied
    run.context("pool_exhausted") = applied == pool.length
    val state = handle.state
    val stateDigest = Bench.bookkeeping(spark)(Bench.digest(state.canonical))

    // ---- traced: the batch body's calls, replayed from the same bootstrap ----
    if (a.trace) {
      val t = new Tracer(spark)
      val dir = s"${a.work}/state-traced"
      val stage = new BatchStage(Some(dir))
      var st = s0
      for (b <- 0 until applied) {
        val (_, wall) = Bench.seconds { st = tracedBatch(spark, t, stage, st, pool(b), b, entsFor, cfg, dir) }
        t.endOp()
        run.op(wall, pool(b).count(_.op == "add").toLong, traced = true)
      }
      run.trace = t.dump()
      run.checking("traced_equals_untraced") {
        val d = Bench.bookkeeping(spark)(Bench.digest(st.canonical))
        (d == stateDigest, s"traced $d untraced $stateDigest")
      }
    }

    // ---- checks, outside the timers ----
    val events = pool.take(applied).flatten
    val retracted = events.filter(_.op == "retract").map(_.doc_id).toSet
    Bench.bookkeeping(spark) {
      run.checking("stream_equals_initial") {
        val addDocs = events.filter(_.op == "add").map(_.doc).toSeq.toDS()
        val docs = bootDocs.unionByName(addDocs).filter(d => !retracted.contains(d.doc_id))
        val ents = bootEnts.unionByName(
          batchEnts.filter(_.batch <= applied).map(e => Entity(e.id, e.name, e.kg)))
        val full = IncrementalAlign.initial(spark, docs, ents, cfg, geometry = s0.geometry)
        val d = Bench.digest(full.canonical)
        (d == stateDigest, s"stream $stateDigest initial $d")
      }
      run.checking("canonical_rows") {
        val rows = stateDigest.takeWhile(_ != ':').toLong
        (rows > 0, s"$rows rows")
      }
      val eFinal = e0 + applied * delta
      run.checking("alignment_quality") {
        val k = cfg.topK
        val cands = state.topk.flatMap(q => q.dstIds.take(k).indices.map(i =>
          Candidate(q.srcId, q.dstIds(i), q.cos(i), i + 1)))
        val gold = DocSynthesizer.goldLinks(spark, SynthConfig(entitiesPerKg = eFinal, seed = seed))
        val m = Metrics.hitAtK(spark, cands, gold, k).head()
        run.quality("hit_at_1") = m.getDouble(0)
        run.quality("hit_at_10") = m.getDouble(1)
        (m.getDouble(0) >= 0.5, f"hit@1 ${m.getDouble(0)}%.4f (floor 0.5)")
      }
      run.checking("triple_quality") {
        // gold: every live doc's planted edges, at the corpus size it was generated at
        val live = (0L until e0.toLong).flatMap(i => Seq(1, 2).map(kg => (kg, i, e0))) ++
          (0L until applied.toLong * delta).flatMap(j =>
            Seq(1, 2).map(kg => (kg, e0 + j, e0 + (j / delta + 1).toInt * delta)))
        val gold = live.filter { case (kg, i, _) => !retracted.contains(s"kg${kg}_doc_$i") }.toDS()
          .flatMap { case (kg, i, e) =>
            val c = SynthConfig(entitiesPerKg = e, seed = seed)
            val edges = if (kg == 1) DocSynthesizer.edgesOf(c, i) else DocSynthesizer.edgesOfKg2(c, i)
            edges.map { case (r, t) =>
              Triple(DocSynthesizer.entityId(kg, i), r.toLong, DocSynthesizer.entityId(kg, t)) }
          }
        val got = state.idTriples.map(t => Triple(t.head, t.rel, t.tail))
        val (p, r) = Metrics.triplePR(spark, got, gold)
        run.quality("triple_precision") = p
        run.quality("triple_recall") = r
        (p >= 0.95 && r >= 0.95, f"P $p%.4f R $r%.4f (floor 0.95)")
      }
    }
  }

  /** The `writerCdc` batch body, one span per call it wraps. */
  def tracedBatch(spark: SparkSession, t: Tracer, stage: BatchStage, st0: AlignState,
                  events: Seq[DocEvent], batchId: Long,
                  entsFor: Dataset[Doc] => Dataset[Entity],
                  cfg: IncrementalConfig, dir: String): AlignState = {
    import spark.implicits._
    val (tombstones, adds, noAdds) = t.counted("stream.stage") {
      val evs = stage.pinDs(events.toDS(), batchId)
      val tombstones = evs.filter(_.op == "retract").map(_.doc_id).collect().toSet
      val adds = evs.filter(_.op == "add").map(_.doc)
      ((tombstones, adds, adds.isEmpty), events.size.toLong)
    }
    var st = st0
    if (tombstones.nonEmpty)
      st = t.counted("stream.retract")((IncrementalAlign.retract(spark, st, tombstones, cfg), tombstones.size.toLong))
    if (!noAdds)
      st = t.counted("stream.delta") {
        (IncrementalAlign.delta(spark, st, adds, entsFor(adds), cfg), events.count(_.op == "add").toLong)
      }
    val committed = st
    t.span("stream.commit") {
      IncrementalAlign.save(spark, committed, dir,
        extras = Seq(StreamProgress.Component -> StreamProgress.of(spark, batchId)))
    }
    t.span("stream.compact", (s: AlignState) => s.canonical.count()) {
      val loaded = IncrementalAlign.load(spark, dir)
      stage.release()
      loaded
    }
  }
}
