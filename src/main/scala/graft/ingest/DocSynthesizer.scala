package graft.ingest

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.kg._
import graft.util.DetHash._

/** Deterministic synthetic fixture generator (FIXTURES.md F1–F5).
  *
  * Produces two DBP15K-shaped KGs ("kg1"/"kg2") with planted alignment
  * pairs, mirrored-with-noise graph structure, and one interleaved
  * text+media document per (entity, kg) — the BASELINE.json input table
  * `(doc_id string, spans array<struct<kind,text,media_ref,offset>>)`.
  *
  * Everything is a pure function of (seed, entity index): generation is
  * embarrassingly parallel and identical at any partitioning — the
  * analogue of the reference's fixed seed 37 (settings.py:13-18).
  *
  * Shape mirrors the real data (SURVEY.md §1.1): KG id spaces are
  * disjoint-by-construction (KG1: [0,E), KG2: [KG2_BASE, KG2_BASE+E)),
  * a fraction of entities is aligned (DBP15K aligns 15k of ~19.4k),
  * hub entities have degree >> NeighborSize to exercise truncation
  * (loader/DBP15KRawNeighbors.py:74-82) and LSH salting.
  */
final case class SynthConfig(
    entitiesPerKg: Int = 200,
    seed: Long = Dims.Seed,
    alignedFraction: Double = 0.7,
    /** 0.0 = fr_en-like (near-identical surfaces), 0.5 = zh_en-like. */
    surfaceNoise: Double = 0.15,
    edgeNoise: Double = 0.1,
    numRelations: Int = 20,
    hubFraction: Double = 0.01,
    hubDegree: Int = 60,
    baseDegree: Int = 3)

object DocSynthesizer {
  val Kg2Base = 1000000L

  /** 48 syllables ≈ the surface entropy of real DBP15K URL names; a
    * smaller alphabet collapses the char-gram feature space and makes
    * every entity near every other (which also degenerates LSH). */
  private val syllables = Array(
    "ka", "mi", "to", "ra", "ne", "su", "lo", "vi", "da", "pe",
    "ru", "sha", "ben", "tor", "gal", "wen", "zu", "fa", "hi", "om",
    "qua", "jin", "xel", "bro", "tam", "ves", "nok", "lyr", "pim", "gos",
    "dri", "fex", "hul", "cam", "sib", "rot", "wul", "yan", "kez", "pol",
    "mur", "tis", "vob", "nag", "lef", "dus", "rik", "jom")

  /** Base (KG1) surface form of entity i: 2–3 pseudo-word tokens joined by
    * '_' so mentions are single whitespace tokens (unambiguous grammar). */
  def baseName(cfg: SynthConfig, i: Long): String = {
    val nWords = 2 + (nonNeg(h2(cfg.seed, i, 101)) % 2).toInt
    val sb = new StringBuilder
    var w = 0
    while (w < nWords) {
      if (w > 0) sb.append('_')
      var s = 0
      val nSyl = 2 + (nonNeg(h3(cfg.seed, i, w, 7)) % 2).toInt
      while (s < nSyl) {
        sb.append(syllables((nonNeg(h3(cfg.seed, i, w * 13 + s, 11)) % syllables.length).toInt))
        s += 1
      }
      w += 1
    }
    sb.append('x').append(i) // guarantee global uniqueness of surfaces
    sb.toString
  }

  /** KG2 surface: deterministic "language transform" of the base name —
    * vowel substitutions at rate `surfaceNoise` plus a language suffix
    * token. Mimics cross-lingual transliteration drift in DBP15K
    * (data/relation/DBP15K/zh_en/ent_ids_*): aligned entities share most
    * character n-grams; unrelated entities share almost none. */
  def kg2Name(cfg: SynthConfig, i: Long): String = {
    val base = baseName(cfg, i)
    val sb = new StringBuilder
    var c = 0
    while (c < base.length) {
      val ch = base.charAt(c)
      val flip = toUnit(h3(cfg.seed, i, c + 5000, 23)) < cfg.surfaceNoise
      sb.append(if (flip) ch match {
        case 'a' => 'e'; case 'e' => 'i'; case 'i' => 'o'
        case 'o' => 'u'; case 'u' => 'a'; case other => other
      } else ch)
      c += 1
    }
    sb.append("_l2").toString
  }

  def isAligned(cfg: SynthConfig, i: Long): Boolean =
    toUnit(h2(cfg.seed, i, 331)) < cfg.alignedFraction

  def entityName(cfg: SynthConfig, kg: Int, i: Long): String =
    if (kg == 1) baseName(cfg, i)
    else if (isAligned(cfg, i)) kg2Name(cfg, i)
    else baseName(cfg, i + 7777777L) + "_l2" // unaligned KG2 entity: unrelated surface

  def entityId(kg: Int, i: Long): Long = if (kg == 1) i else Kg2Base + i

  /** Deterministic out-edges of KG1 entity i: (relId, targetIdx) list.
    * First hubFraction of entities are hubs with degree >> NeighborSize. */
  def edgesOf(cfg: SynthConfig, i: Long): Seq[(Int, Long)] = {
    val e = cfg.entitiesPerKg
    val isHub = i < math.max(1, (e * cfg.hubFraction).toInt)
    val deg = if (isHub) cfg.hubDegree
              else cfg.baseDegree + (nonNeg(h2(cfg.seed, i, 13)) % 5).toInt
    (0 until deg).flatMap { k =>
      val tgt = nonNeg(h3(cfg.seed, i, k, 17)) % e
      if (tgt == i) None
      else Some(((nonNeg(h3(cfg.seed, i, k, 19)) % cfg.numRelations).toInt, tgt))
    }
  }

  /** KG2 edges mirror KG1 edges (through the identity index mapping) with
    * per-edge dropout at rate edgeNoise plus a few extra noise edges. */
  def edgesOfKg2(cfg: SynthConfig, i: Long): Seq[(Int, Long)] = {
    val kept = edgesOf(cfg, i).zipWithIndex.collect {
      case (ed, k) if toUnit(h3(cfg.seed, i, k + 900, 29)) >= cfg.edgeNoise => ed
    }
    val extra = (0 until (nonNeg(h2(cfg.seed, i, 41)) % 2).toInt).map { k =>
      ((nonNeg(h3(cfg.seed, i, k + 950, 43)) % cfg.numRelations).toInt,
       nonNeg(h3(cfg.seed, i, k + 960, 47)) % cfg.entitiesPerKg)
    }
    kept ++ extra
  }

  def predLabel(r: Int): String = s"rel_$r"

  /** The interleaved document for (kg, i): text spans carrying 1–3
    * "<subj> rel_<r> <obj> ." sentences each, with media spans interleaved
    * (BASELINE.json: media spans contribute no triples but must survive
    * span-sequence equality). Offsets strictly increase. */
  def docOf(cfg: SynthConfig, kg: Int, i: Long): Doc = {
    val subj = entityName(cfg, kg, i)
    val edges = if (kg == 1) edgesOf(cfg, i) else edgesOfKg2(cfg, i)
    val sentences = edges.map { case (r, t) =>
      s"$subj ${predLabel(r)} ${entityName(cfg, kg, t)} ."
    }
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    var offset = 0
    var si = 0
    val groups = sentences.grouped(3).toSeq
    groups.zipWithIndex.foreach { case (grp, gi) =>
      // deterministic media interleave: ~every other group gets a media span
      if (nonNeg(h3(cfg.seed, i, gi + kg * 3000, 53)) % 2 == 0) {
        val ref = f"img://${nonNeg(h3(cfg.seed, i, gi, 59))}%016x"
        spans += Span("media", "", ref, offset)
        offset += 1
        si += 1
      }
      val text = grp.mkString(" ")
      spans += Span("text", text, "", offset)
      offset += text.length + 1
      si += 1
    }
    Doc(s"kg${kg}_doc_$i", spans.toSeq)
  }

  // ---------- Dataset builders ----------

  /** Scale-adaptive partition count for synthesized frames: derived
    * from the ROW COUNT (≥2048 rows per partition), capped at the
    * session parallelism — not a machine constant. At bench-ladder
    * sizes (E=50k → 100k rows) this saturates the cap, so the N-vs-4N
    * plan is exactly what it was (both levels pin the same
    * defaultParallelism, Bench.session); at fixture sizes (≤160 rows)
    * it is 1 — the battery's tiny pipelines otherwise carry
    * defaultParallelism near-empty partitions through every downstream
    * map/cut, and each cut()/persist block costs a buffer-chunk
    * allocation on this host's slow page-alloc path (measured: the
    * 32-partition fixtures burned ~50 CPU-s in
    * ChunkedByteBufferOutputStream/HeapByteBuffer allocation alone).
    * Row CONTENT is a pure function of the row
    * index, so partitioning never changes any produced row. */
  private def partsFor(spark: SparkSession, rows: Long): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (rows / 2048L + 1L).toInt))

  def docs(spark: SparkSession, cfg: SynthConfig): Dataset[Doc] = {
    import spark.implicits._
    val e = cfg.entitiesPerKg
    spark.range(0, 2L * e, 1L, partsFor(spark, 2L * e))
      .map { n => val kg = if (n < e) 1 else 2; docOf(cfg, kg, n % e) }
  }

  def entities(spark: SparkSession, cfg: SynthConfig): Dataset[Entity] = {
    import spark.implicits._
    val e = cfg.entitiesPerKg
    spark.range(0, 2L * e, 1L, partsFor(spark, 2L * e)).map { n =>
      val kg = if (n < e) 1 else 2; val i = n % e
      Entity(entityId(kg, i), entityName(cfg, kg, i), kg)
    }
  }

  /** Gold alignment links (FIXTURES.md F5). */
  def goldLinks(spark: SparkSession, cfg: SynthConfig): Dataset[Link] = {
    import spark.implicits._
    spark.range(0, cfg.entitiesPerKg.toLong)
      .filter(i => isAligned(cfg, i))
      .map(i => Link(entityId(1, i), entityId(2, i)))
  }

  /** Gold triples per KG in id space — the oracle for extraction P/R. */
  def goldTriples(spark: SparkSession, cfg: SynthConfig, kg: Int): Dataset[Triple] = {
    import spark.implicits._
    spark.range(0, cfg.entitiesPerKg.toLong).flatMap { i =>
      val edges = if (kg == 1) edgesOf(cfg, i) else edgesOfKg2(cfg, i)
      edges.map { case (r, t) => Triple(entityId(kg, i), r.toLong, entityId(kg, t)) }
    }
  }
}
