package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.{AlignState, IncrementalAlign, IncrementalConfig}
import graft.kg.{Doc, DocEvent, Entity}

/** Continuous KG construction as a STRUCTURED STREAM: a stream of
  * interleaved documents drives [[IncrementalAlign]] once per
  * micro-batch through the durable fold loop ([[StateFold]]: staging,
  * resume, commit, compaction), maintaining the committed alignment
  * state EXACTLY — after any prefix of batches the state is bit-equal
  * to a from-scratch batch run over everything ingested so far (the
  * IncrementalAlign contract, re-gated through the stream in
  * IncrementalSpec).
  *
  * `entsFor` supplies the dictionary entries arriving with a batch (the
  * ingest contract: a document's mentions resolve against entities known
  * by the end of its own batch — new names apply prospectively). */
object StreamingKg {

  /** Geometry-drift policy for the INDEXED continuous mode, closing the
    * monitor → trigger → recovery loop in-stream: a sticky
    * [[StateFold.Refit]] hook runs [[IncrementalAlign.rebootstrap]] at
    * the next commit point after any batch whose post-fold state the
    * predicate advises (the re-fit rebuilds candidate state, and the
    * commit persists the fresh geometry in the same atomic epoch).
    * Default predicate: the state's own
    * [[graft.candidates.DriftMonitor]] reading advises it. Off unless
    * passed (`rebootstrapOnDrift`); requires a durable `stateDir` and
    * the indexed mode — the writers refuse either combination loudly
    * rather than leave the policy silently inert. Exactness is free —
    * rebootstrap is gated bit-equal to a fresh indexed initial over
    * everything ingested, and deltas compose on top (IncrementalSpec). */
  val OnDriftAdvised: AlignState => Boolean =
    _.drift.exists(_.rebootstrapAdvised)

  private def driftRefit(cfg: IncrementalConfig, stateDir: Option[String],
                         rebootstrapOnDrift: Option[AlignState => Boolean]) = {
    require(rebootstrapOnDrift.isEmpty || stateDir.nonEmpty,
      "rebootstrapOnDrift requires a durable stateDir — the re-fit lands at commit points (see OnDriftAdvised)")
    require(rebootstrapOnDrift.isEmpty || cfg.useIndex,
      "rebootstrapOnDrift requires the indexed mode (cfg.useIndex) — the exact mode has no geometry to re-fit")
    rebootstrapOnDrift.map(StateFold.Refit[AlignState](_, IncrementalAlign.rebootstrap(_, _, cfg)))
  }

  /** Wire a doc stream to the state: each micro-batch is one
    * [[IncrementalAlign.delta]]. Returns the foreachBatch writer (caller
    * starts it, possibly adding trigger options) and the live handle. */
  def writer(docs: Dataset[Doc],
             entsFor: Dataset[Doc] => Dataset[Entity],
             state0: AlignState,
             cfg: IncrementalConfig,
             stateDir: Option[String] = None,
             commitEvery: Int = 1,
             retainEpochs: Option[Int] = None,
             checkpointLocation: Option[String] = None,
             rebootstrapOnDrift: Option[AlignState => Boolean] = None): (DataStreamWriter[Doc], Handle[AlignState]) =
    StateFold.writer(docs, state0)(IncrementalAlign.save(_, _, _, _), IncrementalAlign.load(_, _),
        stateDir, commitEvery, retainEpochs, checkpointLocation,
        driftRefit(cfg, stateDir, rebootstrapOnDrift)) { (spark, st, batch) =>
      IncrementalAlign.delta(spark, st, batch, entsFor(batch), cfg)
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
                checkpointLocation: Option[String] = None,
                rebootstrapOnDrift: Option[AlignState => Boolean] = None): (DataStreamWriter[DocEvent], Handle[AlignState]) =
    StateFold.writer(events, state0)(IncrementalAlign.save(_, _, _, _), IncrementalAlign.load(_, _),
        stateDir, commitEvery, retainEpochs, checkpointLocation,
        driftRefit(cfg, stateDir, rebootstrapOnDrift)) { (spark, st, evs) =>
      import spark.implicits._
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
      IncrementalAlign.apply(spark, st, adds, ents2, tombstones, cfg)
    }
}
