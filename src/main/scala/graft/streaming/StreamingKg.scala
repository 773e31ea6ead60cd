package graft.streaming

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.{AlignState, IncrementalAlign, IncrementalConfig}
import graft.kg.{Doc, DocEvent, Entity}

/** Continuous KG construction as a STRUCTURED STREAM: a stream of
  * interleaved documents drives [[IncrementalAlign.delta]] once per
  * micro-batch via foreachBatch, maintaining the committed alignment
  * state EXACTLY — after any prefix of batches the state is bit-equal
  * to a from-scratch batch run over everything ingested so far (the
  * IncrementalAlign contract, re-gated through the stream in
  * StreamingSpec / IncrementalSpec).
  *
  * `entsFor` supplies the dictionary entries arriving with a batch (the
  * ingest contract: a document's mentions resolve against entities known
  * by the end of its own batch — new names apply prospectively).
  *
  * Durability: with `stateDir` set, the state commits through
  * [[IncrementalAlign.save]] (TableIO snapshot tables) every
  * `commitEvery` batches, with the just-folded batch id riding in the
  * SAME epoch as a [[StreamProgress]] component. A crashed stream
  * resumes from the last committed snapshot via
  * [[IncrementalAlign.load]]; the writers read the committed position
  * at construction and SKIP every replayed batchId at or below it —
  * Spark commits its offset log only after foreachBatch returns, so
  * the replay-after-our-commit window is real and the id check closes
  * it (exactly-once at commitEvery=1; at commitEvery>1 a crash loses
  * at most commitEvery−1 folded-but-uncommitted batches, which the
  * engine's offset log does not replay — use commitEvery=1 when
  * exactly-once resume matters).
  *
  * COMPACTION: each commit also swaps the live handle to the freshly
  * loaded snapshot. IncrementalAlign's state tables are lazy unions of
  * per-batch checkpoint pieces (see its append-mostly note) — width B
  * after B batches; on an UNBOUNDED stream that plan width, and the
  * per-batch localCheckpoint blocks backing it, would grow without
  * bound. The reload replaces each union with a single parquet-backed
  * scan, so plan width and executor block inventory reset every
  * `commitEvery` batches — O(commitEvery) regardless of stream length.
  * load() is gated bit-exact (IncrementalSpec), so compaction cannot
  * change a single bit of any later delta.
  *
  * The foreachBatch body runs on the DRIVER between micro-batches (the
  * standard mutable-state-at-the-driver pattern), but the batch's ROWS
  * never land on the driver: each micro-batch is pinned by a
  * distributed staging write ([[BatchStage]] — batch size bounded by
  * cluster disk, not driver heap) and the heavy work inside `delta` is
  * distributed exactly as in batch mode. */
object StreamingKg {

  /** Live handle on the maintained state (safe to read between batches). */
  final class Handle private[StreamingKg] (ref: AtomicReference[AlignState]) {
    def state: AlignState = ref.get()
    private[StreamingKg] def set(s: AlignState): Unit = ref.set(s)
  }

  /** Geometry-drift policy for the INDEXED continuous mode, closing the
    * monitor → trigger → recovery loop in-stream: the predicate is
    * evaluated on EVERY post-fold state, and the advisory is STICKY
    * across the commit window — if any batch since the last commit
    * advised, the writer runs [[IncrementalAlign.rebootstrap]] at the
    * next commit point (the natural boundary: the re-fit rebuilds
    * candidate state, and the commit persists the fresh geometry in the
    * same atomic epoch; a per-commit-only check would lose an early
    * batch's advisory behind later quiet ones at commitEvery > 1).
    * Default predicate: the state's own
    * [[graft.candidates.DriftMonitor]] reading advises it. Off unless
    * passed (`rebootstrapOnDrift`); requires a durable `stateDir`
    * (without commit points the policy would be silently inert — the
    * writers refuse that combination loudly). Exactness is free —
    * rebootstrap is gated bit-equal to a fresh indexed initial over
    * everything ingested, and deltas compose on top (IncrementalSpec). */
  val OnDriftAdvised: AlignState => Boolean =
    _.drift.exists(_.rebootstrapAdvised)

  /** Wire a doc stream to the state: returns the foreachBatch writer
    * (caller starts it, possibly adding trigger options) and the live
    * state handle. Pass `checkpointLocation` HERE (not as a raw option
    * on the returned writer) to bind the committed stream position to
    * this checkpoint lineage — resume then auto-disables replay
    * skipping if the stateDir is ever re-pointed at a different stream
    * (see [[StreamProgress]]). */
  def writer(docs: Dataset[Doc],
             entsFor: Dataset[Doc] => Dataset[Entity],
             state0: AlignState,
             cfg: IncrementalConfig,
             stateDir: Option[String] = None,
             commitEvery: Int = 1,
             retainEpochs: Option[Int] = None,
             skipReplayed: Boolean = true,
             checkpointLocation: Option[String] = None,
             rebootstrapOnDrift: Option[AlignState => Boolean] = None): (DataStreamWriter[Doc], Handle) = {
    require(commitEvery >= 1, "commitEvery must be >= 1")
    require(rebootstrapOnDrift.isEmpty || stateDir.nonEmpty,
      "rebootstrapOnDrift requires a durable stateDir — the re-fit lands at commit points (see OnDriftAdvised)")
    // refuse-loudly (ADVICE r5): rebootstrap is an indexed-mode
    // operation — with cfg.useIndex off the commit hook would silently
    // drop every firing advisory, leaving the policy inert
    require(rebootstrapOnDrift.isEmpty || cfg.useIndex,
      "rebootstrapOnDrift requires the indexed mode (cfg.useIndex) — the exact mode has no geometry to re-fit")
    val handle = new Handle(new AtomicReference[AlignState](state0))
    var driftPending = false
    val sid = checkpointLocation.map(StreamProgress.streamId)
    // committed stream position: batchIds at or below this were already
    // folded AND durably saved by a previous run — skip their replays
    // (identity-checked against this checkpoint lineage, StreamProgress)
    val resumeAfter =
      if (skipReplayed)
        stateDir.map(StreamProgress.resumePosition(docs.sparkSession, _, sid)).getOrElse(-1L)
      else -1L
    val stage = new BatchStage(stateDir, checkpointLocation)
    var batches = 0L
    val w = docs.writeStream.foreachBatch { (batch: Dataset[Doc], batchId: Long) =>
      if (batchId > resumeAfter && !batch.isEmpty) {
        val spark: SparkSession = batch.sparkSession
        // the micro-batch Dataset is only valid inside this call — pin
        // it DISTRIBUTED (one staging parquet write + read-back, no
        // driver materialization) so delta's many actions replay a
        // stable copy, not the consumed source epoch
        val docsNow = stage.pinDs(batch, batchId)
        val next = IncrementalAlign.delta(spark, handle.state, docsNow,
          entsFor(docsNow), cfg)
        batches += 1
        // sticky advisory: ANY batch in the commit window advising
        // triggers the re-fit at the commit (OnDriftAdvised doc)
        rebootstrapOnDrift.foreach(p => driftPending ||= p(next))
        handle.set(commitMaybe(spark, next, stateDir, batches, batchId, commitEvery,
          retainEpochs, sid, stage, cfg, driftPending))
        if (stateDir.isDefined && batches % commitEvery == 0) driftPending = false
      }
    }
    (checkpointLocation.fold(w)(loc => w.option("checkpointLocation", loc)), handle)
  }

  /** Wire a CDC-shaped event stream (adds + retraction tombstones) to
    * the state. Each micro-batch is ONE [[IncrementalAlign.apply]]:
    * one maintenance pass whose result equals retracting the tombstoned
    * docs first and then adding the batch's docs as one delta — so a
    * batch that retracts doc X and re-adds it lands the new version.
    * Tombstones for never-committed docs are no-ops by construction
    * (the docId filter matches nothing). Before maintenance a batch runs
    * three jobs: the emptiness check, the staging write and one collect
    * of its (op, doc_id) pairs. */
  def writerCdc(events: Dataset[DocEvent],
                entsFor: Dataset[Doc] => Dataset[Entity],
                state0: AlignState,
                cfg: IncrementalConfig,
                stateDir: Option[String] = None,
                commitEvery: Int = 1,
                retainEpochs: Option[Int] = None,
                skipReplayed: Boolean = true,
                checkpointLocation: Option[String] = None,
                rebootstrapOnDrift: Option[AlignState => Boolean] = None): (DataStreamWriter[DocEvent], Handle) = {
    require(commitEvery >= 1, "commitEvery must be >= 1")
    require(rebootstrapOnDrift.isEmpty || stateDir.nonEmpty,
      "rebootstrapOnDrift requires a durable stateDir — the re-fit lands at commit points (see OnDriftAdvised)")
    // refuse-loudly (ADVICE r5): rebootstrap is an indexed-mode
    // operation — with cfg.useIndex off the commit hook would silently
    // drop every firing advisory, leaving the policy inert
    require(rebootstrapOnDrift.isEmpty || cfg.useIndex,
      "rebootstrapOnDrift requires the indexed mode (cfg.useIndex) — the exact mode has no geometry to re-fit")
    val handle = new Handle(new AtomicReference[AlignState](state0))
    var driftPending = false
    val sid = checkpointLocation.map(StreamProgress.streamId)
    val resumeAfter =
      if (skipReplayed)
        stateDir.map(StreamProgress.resumePosition(events.sparkSession, _, sid)).getOrElse(-1L)
      else -1L
    val stage = new BatchStage(stateDir, checkpointLocation)
    var batches = 0L
    val w = events.writeStream.foreachBatch { (batch: Dataset[DocEvent], batchId: Long) =>
      if (batchId > resumeAfter && !batch.isEmpty) {
        val spark: SparkSession = batch.sparkSession
        import spark.implicits._
        val evs = stage.pinDs(batch, batchId)
        // ONE collect of (op, doc_id) yields the tombstone set — the ONE
        // driver-side set here, the retract contract's own (a takedown
        // batch is delta-sized) — and whether the batch adds anything;
        // the add rows stay distributed
        val ops = evs.map(e => (e.op, e.doc_id)).collect()
        val tombstones = ops.collect { case ("retract", id) => id }.toSet
        val (adds, ents2) =
          if (ops.exists(_._1 == "add")) {
            val a = evs.filter(_.op == "add").map(_.doc)
            (a, entsFor(a))
          } else (spark.emptyDataset[Doc], spark.emptyDataset[Entity])
        val st = IncrementalAlign.apply(spark, handle.state, adds, ents2, tombstones, cfg)
        batches += 1
        rebootstrapOnDrift.foreach(p => driftPending ||= p(st))
        handle.set(commitMaybe(spark, st, stateDir, batches, batchId, commitEvery,
          retainEpochs, sid, stage, cfg, driftPending))
        if (stateDir.isDefined && batches % commitEvery == 0) driftPending = false
      }
    }
    (checkpointLocation.fold(w)(loc => w.option("checkpointLocation", loc)), handle)
  }

  /** Commit + compact (see class doc) when due; identity otherwise.
    * With `retainEpochs` set, older state epochs are expired after the
    * commit — on an unbounded stream this bounds state storage at
    * O(retainEpochs × state size) instead of growing per commit. The
    * snapshot reload also releases the staged micro-batch files (the
    * reloaded state references only its own parquet tables). */
  private def commitMaybe(spark: SparkSession, st0: AlignState,
                          stateDir: Option[String], batches: Long, batchId: Long,
                          commitEvery: Int,
                          retainEpochs: Option[Int],
                          sid: Option[Long],
                          stage: BatchStage,
                          cfg: IncrementalConfig,
                          refitPending: Boolean): AlignState =
    stateDir match {
      case Some(dir) if batches % commitEvery == 0 =>
        // drift policy fires at the commit boundary so the re-fit
        // geometry + rebuilt candidate state persist in ONE atomic epoch
        // with the progress marker (see [[OnDriftAdvised]]; the flag is
        // the writers' sticky any-batch-in-window advisory)
        val st =
          if (refitPending && cfg.useIndex) IncrementalAlign.rebootstrap(spark, st0, cfg)
          else st0
        IncrementalAlign.save(spark, st, dir,
          extras = Seq(StreamProgress.Component -> StreamProgress.of(spark, batchId, sid)))
        val loaded = IncrementalAlign.load(spark, dir)
        retainEpochs.foreach(IncrementalAlign.expire(dir, _))
        stage.release()
        loaded
      case _ => st0
    }
}
