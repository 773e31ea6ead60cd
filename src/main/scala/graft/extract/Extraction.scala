package graft.extract

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._

/** Mention detection + triple extraction over interleaved documents.
  *
  * Input: Dataset[Doc] per BASELINE.json input_hint. The plan is fully
  * declarative up to the per-span parse: `posexplode(spans)` keeps the
  * span index (span order is semantic — per-row span-sequence equality),
  * Catalyst prunes media spans' text payloads via the kind filter, and
  * the token-level parse is a typed flatMap (a Generator-equivalent,
  * SURVEY.md §2.8).
  *
  * Grammar: text spans contain sentences `<subjTok> rel_<r> <objTok> .`
  * where mentions are single whitespace tokens and predicates match
  * rel_\d+. The parse emits one RawTriple per (prev, rel_k, next) token
  * window — robust to sentence concatenation and stray tokens.
  */
object Extraction {
  private val PredPat = "rel_(\\d+)".r

  /** kg tag derived from doc_id prefix ("kg1_"/"kg2_"); 0 if untagged. */
  def kgOf(docId: String): Int =
    if (docId.startsWith("kg1")) 1 else if (docId.startsWith("kg2")) 2 else 0

  /** Explode spans keeping (doc_id, spanIdx, kind, text, media_ref, offset). */
  def explodeSpans(docs: Dataset[Doc]): DataFrame =
    docs.select(col("doc_id"), posexplode(col("spans")).as(Seq("span_idx", "span")))
      .select(col("doc_id"), col("span_idx"),
        col("span.kind").as("kind"), col("span.text").as("text"),
        col("span.media_ref").as("media_ref"), col("span.offset").as("offset"))

  /** Text spans only, with media payloads pruned AT THE SCAN.
    * Catalyst's generator pruning cannot see through posexplode here
    * (the generator guard references the whole array), and lambda field
    * accesses inside transform() don't qualify for SchemaPruning either
    * — both leave ReadSchema at the full span struct, dragging media
    * payloads through the scan (at 100 TB that is most of the bytes).
    * `spans.kind` / `spans.text` compile to GetArrayStructFields, which
    * SchemaPruning DOES push into the parquet ReadSchema (asserted by
    * PlanSpec). */
  def textSpans(docs: Dataset[Doc]): DataFrame =
    docs.select(col("doc_id"),
        col("spans.kind").as("kinds"), col("spans.text").as("texts"))
      .select(col("doc_id"), posexplode(arrays_zip(col("kinds"), col("texts"))).as(Seq("span_idx", "z")))
      .select(col("doc_id"), col("span_idx"),
        col("z.kinds").as("kind"), col("z.texts").as("text"))
      .filter(col("kind") === "text")

  /** Parse one text-span into triples. Pure, order-preserving.
    *
    * Semantics: ALL matching (prev, rel_k, next) token windows emit —
    * including overlapping ones when rel_ tokens are adjacent. Per-window
    * independence makes the parse embarrassingly parallel and gives
    * batch/stream parity BY CONSTRUCTION (the streaming path evaluates
    * windows independently; an earlier consume-after-match rule here
    * diverged on inputs like "a rel_1 rel_2 b"). */
  def parseSpan(text: String): Seq[(String, String, String)] = {
    val toks = text.split(' ')
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    var i = 1
    while (i < toks.length - 1) {
      toks(i) match {
        case PredPat(_) if toks(i - 1) != "." && toks(i + 1) != "." =>
          out += ((toks(i - 1), toks(i), toks(i + 1)))
        case _ =>
      }
      i += 1
    }
    out.toSeq
  }

  /** docs → RawTriple with a content-derived global sequence number
    * (doc hash × span idx × position): first-seen order must be stable
    * under any partitioning (reference file-line-order semantics,
    * loader/DBP15KRawNeighbors.py:25-45; SURVEY.md §7.5). */
  def rawTriples(spark: SparkSession, docs: Dataset[Doc]): Dataset[RawTriple] = {
    import spark.implicits._
    textSpans(docs)
      .select("doc_id", "span_idx", "text")
      .as[(String, Int, String)]
      .flatMap { case (docId, spanIdx, text) =>
        val kg = kgOf(docId)
        parseSpan(text).zipWithIndex.map { case ((s, p, o), k) =>
          val seq = graft.util.DetHash.strHash(docId) & 0xffffffffL
          RawTriple(docId, kg, s, p, o, (seq << 20) | (spanIdx.toLong << 8) | k.toLong)
        }
      }
  }

  /** All entity mentions (subjects + objects) in first-seen order. */
  def mentions(spark: SparkSession, docs: Dataset[Doc]): Dataset[Mention] = {
    import spark.implicits._
    rawTriples(spark, docs).flatMap { t =>
      Seq(Mention(t.docId, t.kg, t.subj, 0, t.seq * 2),
          Mention(t.docId, t.kg, t.obj, 0, t.seq * 2 + 1))
    }
  }

  /** Resolve surface triples to id space via the entity dictionary
    * (broadcast equi-join J1 — dicts are small vs triples, but still
    * corpus-scaled in absolute terms: `boundedDims=false` drops the
    * forced hint and lets Catalyst/AQE shuffle-join, the correct plan
    * at billions of dictionary rows). */
  def idTriples(spark: SparkSession, raw: Dataset[RawTriple], ents: Dataset[Entity],
                boundedDims: Boolean = true): Dataset[Triple] = {
    import spark.implicits._
    idTriplesP(spark, raw, ents, boundedDims)
      .select(col("head"), col("rel"), col("tail")).as[Triple]
  }

  /** Id-resolved triples WITH document provenance — the committed form
    * for continuous construction: the per-row docId is what lets
    * [[graft.IncrementalAlign.retract]] remove a document's triples with
    * a broadcast filter (and is per-row lineage for the canonical table).
    * Catalyst prunes docId away on the plain [[idTriples]] path. */
  def idTriplesP(spark: SparkSession, raw: Dataset[RawTriple], ents: Dataset[Entity],
                 boundedDims: Boolean = true): Dataset[DocTriple] = {
    import spark.implicits._
    // Both dictionary joins consume the SAME un-projected plan via
    // aliases (renames go AFTER the join): the two broadcast-exchange
    // children then canonicalize identically and AQE's stage cache
    // builds ONE broadcast instead of two — each duplicate exchange
    // costs a scheduled job plus ~0.5-0.9 s of driver planning gap on
    // the bench VM (BENCH.md), pure serial floor at small rungs.
    val e = graft.util.BoundedProbe.dimHint(ents.toDF(), boundedDims)
    raw.toDF().as("r")
      .join(e.as("es"), col("r.subj") === col("es.name") && col("r.kg") === col("es.kg"))
      .join(e.as("eo"), col("r.obj") === col("eo.name") && col("r.kg") === col("eo.kg"))
      .select(col("r.docId").as("docId"), col("es.id").as("head"),
        regexp_extract(col("r.pred"), "rel_(\\d+)", 1).cast("long").as("rel"),
        col("eo.id").as("tail"))
      .as[DocTriple]
  }

  /** Span-sequence round-trip: explode + re-collect by span_idx must equal
    * the input spans exactly (kind, text, media_ref, order) — the binding
    * per-row invariant from BASELINE.json input_hint. */
  def roundTripSpans(docs: Dataset[Doc]): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    explodeSpans(docs)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(
        col("span_idx"),
        struct(col("kind"), col("text"), col("media_ref"), col("offset")).as("span")
      ))).as("tmp"))
      .select(col("doc_id"), col("tmp.span").as("spans"))
      .as[Doc]
  }
}
