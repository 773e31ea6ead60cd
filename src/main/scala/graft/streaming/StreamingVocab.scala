package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.text.IncrementalVocab

/** Structured-stream driver for the continuous vocabulary maintainer:
  * each micro-batch of (doc_id, text) documents folds into the live
  * (tok, df, tf) state through the durable fold loop ([[StateFold]]),
  * so a stream prefix leaves exactly the state the batch operator
  * computes over the same docs (gated in VocabSpec). */
object StreamingVocab {

  /** Fold a streaming (doc_id, text) frame into a live vocab state via
    * [[IncrementalVocab.delta]]; start with
    * [[IncrementalVocab.emptyState]] for a fresh build — a delta over
    * the empty state IS the bootstrap. */
  def vocabWriter(docs: DataFrame, state0: IncrementalVocab.VocabState,
                  stateDir: Option[String] = None,
                  commitEvery: Int = 1,
                  retainEpochs: Option[Int] = None,
                  checkpointLocation: Option[String] = None)
      : (DataStreamWriter[Row], Handle[IncrementalVocab.VocabState]) =
    StateFold.writer(docs, state0)(IncrementalVocab.save(_, _, _, _), IncrementalVocab.load(_, _),
        stateDir, commitEvery, retainEpochs, checkpointLocation) { (_, st, rows) =>
      IncrementalVocab.delta(st, rows)
    }

  /** CDC composition: one stream carries adds AND retraction tombstones
    * — rows (op, doc_id, text) where a "retract" row re-supplies the
    * doc's text (the [[IncrementalVocab.retract]] contract: subtraction
    * needs the contribution, keeping the state O(vocabulary) instead of
    * carrying a per-doc contribution table). Per micro-batch
    * retractions apply FIRST then additions fold as one delta (a batch
    * may retract and re-add a doc).
    *
    * TOMBSTONE CONTRACT — DIVERGES from the dedup CDC writers (ADVICE
    * r3): in lshWriterCdc a tombstone for a never-added doc matches no
    * index rows and is a no-op, but here a tombstone's text is
    * SUBTRACTED as supplied — a tombstone for a doc that was never
    * added, or whose text differs from the added version, corrupts
    * df/tf for every token it shares with the live corpus. The state
    * plan carries a loud guard (any token count driven NEGATIVE raises
    * at the next action instead of skewing silently —
    * [[IncrementalVocab.retract]]), which catches tombstone-only
    * tokens; over-counts on shared tokens are undetectable without a
    * per-doc contribution table, so upstream must guarantee tombstones
    * replay the added text verbatim. */
  def vocabWriterCdc(events: DataFrame, state0: IncrementalVocab.VocabState,
                     stateDir: Option[String] = None,
                     commitEvery: Int = 1,
                     retainEpochs: Option[Int] = None,
                     checkpointLocation: Option[String] = None)
      : (DataStreamWriter[Row], Handle[IncrementalVocab.VocabState]) =
    StateFold.writer(events, state0)(IncrementalVocab.save(_, _, _, _), IncrementalVocab.load(_, _),
        stateDir, commitEvery, retainEpochs, checkpointLocation) { (_, st0, rows) =>
      val retracts = rows.filter(rows("op") === "retract").select("doc_id", "text")
      val adds = rows.filter(rows("op") === "add").select("doc_id", "text")
      var st = st0
      if (!retracts.isEmpty) st = IncrementalVocab.retract(st, retracts)
      if (!adds.isEmpty) st = IncrementalVocab.delta(st, adds)
      st
    }
}
