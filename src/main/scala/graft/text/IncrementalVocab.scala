package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous vocabulary maintenance: keep the corpus-wide token
  * document-frequency/term-frequency table current under delta doc
  * batches and takedowns — the continuous-ingest twin of the batch
  * `q_vocab_topk` operator, the statistic a tokenizer/vocab build
  * reads (reference has no incremental path; this is engine-side
  * surface for the continuous mode, same contract family as
  * [[graft.dedup.IncrementalDedup]]).
  *
  * State = one (tok, df, tf) table. The whole family works because the
  * statistic is a MERGEABLE SUM: a doc contributes (+1 df, +n tf) to
  * each of its distinct tokens, so a delta batch folds in as
  * union + groupBy-sum (one shuffle on the token key, delta-sized map
  * side), and retraction is the same fold with negated contributions —
  * no corpus rescan in either direction. Exactness is algebraic
  * (integer sums commute and associate) and gated in VocabSpec:
  * folding any batch split reproduces the single-batch table row for
  * row, and retract inverts delta. Contract: doc_ids are unique across
  * live batches (retract a doc before re-adding it).
  *
  * At 10^12 docs the state is O(vocabulary) — orders of magnitude
  * smaller than the corpus — and the fold's shuffle moves only the
  * delta's token partials plus the state rows they touch after AQE
  * coalescing; `topK` reads as TakeOrderedAndProject (bounded heaps)
  * under the same total order as the batch query.
  *
  * State frames are lineage-cut per generation (the IncrementalAlign
  * discipline): reliable checkpoint under a checkpoint dir, lazy local
  * checkpoint otherwise — an unbounded batch chain keeps O(1) plan
  * depth instead of unioning B generations deep.
  */
object IncrementalVocab {

  final case class VocabState(counts: DataFrame)

  private def cut(df: DataFrame): DataFrame = graft.util.Lineage.cut(df)

  /** One batch's contribution: (tok, df, tf) over a (doc_id, text)
    * frame — whitespace tokens, same tokenization as `q_vocab_topk`. */
  def ofBatch(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf_d"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"), sum(col("tf_d")).as("tf"))

  def emptyState(spark: SparkSession): VocabState = {
    import spark.implicits._
    VocabState(Seq.empty[(String, Long, Long)].toDF("tok", "df", "tf"))
  }

  def initial(docs: DataFrame): VocabState = VocabState(cut(ofBatch(docs)))

  /** A retraction that does not replay a prior addition verbatim would
    * drive some token's count NEGATIVE (tokens present in the tombstone
    * text but not the added text). Before round 4 the `df > 0` filter
    * silently DROPPED such rows — corrupting the vocabulary with no
    * signal (ADVICE r3). The guard is ONE filter predicate (a single
    * CaseWhen, not a splittable conjunction): it raises on `df < 0 OR
    * tf < 0` and only otherwise evaluates the `df > 0` keep-condition —
    * so the drop can never be pushed below the guard and a row with
    * df = 0 but tf < 0 (a tombstone over-subtracting tf while df
    * cancels) raises instead of vanishing (ADVICE r4; the earlier
    * column-riding form only fired when a consumer actually read the
    * guarded column). Costs one codegen'd conditional on the
    * O(vocabulary) state. Tokens the tombstone under-counts (present in
    * the addition but not the tombstone) remain undetectable without a
    * per-doc contribution table — that residual contract is documented
    * at the CDC writer (StreamingVocab.vocabWriterCdc). */
  private def guardedKeep =
    when(col("df") < 0 || col("tf") < 0, raise_error(concat(
      lit("IncrementalVocab: negative count for token '"), col("tok"),
      lit("' — a retraction tombstone did not match a prior addition")))
      .cast("boolean"))
      .otherwise(col("df") > 0)

  private def fold(state: VocabState, contrib: DataFrame): VocabState =
    VocabState(cut(
      state.counts.unionByName(contrib)
        .groupBy(col("tok"))
        .agg(sum(col("df")).as("df"), sum(col("tf")).as("tf"))
        .filter(guardedKeep)))

  /** Merge a delta doc batch into the state (one token-key shuffle). */
  def delta(state: VocabState, docs: DataFrame): VocabState =
    fold(state, ofBatch(docs))

  /** Retract previously-added docs (takedown): the same fold with
    * negated contributions; tokens whose df reaches 0 drop out, so
    * `retract(delta(s, b), b) == s` row for row. */
  def retract(state: VocabState, docs: DataFrame): VocabState =
    fold(state, ofBatch(docs).select(col("tok"), (-col("df")).as("df"), (-col("tf")).as("tf")))

  /** Top-k under the batch query's total order (df DESC, tf DESC, tok)
    * — plans as TakeOrderedAndProject over the state. */
  def topK(state: VocabState, k: Int): DataFrame =
    state.counts.orderBy(col("df").desc, col("tf").desc, col("tok")).limit(k)

  /** Durable state via [[graft.tableio.StateStore]] — atomic epochs,
    * time travel, retention; resume with [[load]] and keep folding
    * (gated in VocabSpec). `extras` commit in the same epoch, as in
    * [[graft.dedup.IncrementalDedup.save]]. */
  def save(spark: SparkSession, state: VocabState, dir: String,
           extras: Seq[(String, DataFrame)] = Nil): Long =
    graft.tableio.StateStore.save(spark, dir, extras ++ Seq("counts" -> state.counts))

  def load(spark: SparkSession, dir: String, epoch: Option[Long] = None): VocabState =
    VocabState(cut(graft.tableio.StateStore.load(spark, dir, epoch)("counts")))
}
