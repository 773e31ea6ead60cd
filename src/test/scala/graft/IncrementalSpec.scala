package graft

import org.apache.spark.sql.Dataset
import graft.candidates.{CellJoin, ScoredTopK}
import graft.embed.{Embedder, EmbedderConfig}
import graft.ingest.{DocSynthesizer, SynthConfig}
import graft.kg._
import graft.util.DetHash

/** Continuous-construction gates: the ScoredTopK merge/calibration laws
  * and the IncrementalAlign exactness contract
  * `delta(initial(b1), b2) == initial(b1 ∪ b2)`. */
class IncrementalSpec extends SparkTestBase {
  import spark.implicits._

  private def randEmb(i: Long, dim: Int): Array[Float] = {
    val v = Array.tabulate(dim)(j => (DetHash.toUnit(DetHash.h2(7L, i, j)) - 0.5).toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  // ---------- ScoredTopK kernel laws ----------

  test("ScoredTopK: disjoint-slice merge equals direct top-k of the union (property)") {
    val dim = 16; val k = 5
    val q = randEmb(999L, dim)
    val slice1 = Array.tabulate(40)(i => Emb(i.toLong, randEmb(i.toLong, dim)))
    val slice2 = Array.tabulate(35)(i => Emb(1000L + i, randEmb(1000L + i, dim)))
    val (i1, c1) = ScoredTopK.scoreAll(q, slice1, k)
    val (i2, c2) = ScoredTopK.scoreAll(q, slice2, k)
    val (im, cm) = ScoredTopK.merge(i1, c1, i2, c2, k)
    val (iu, cu) = ScoredTopK.scoreAll(q, slice1 ++ slice2, k)
    assert(im.toSeq == iu.toSeq)
    assert(cm.toSeq == cu.toSeq) // bit-exact: same dots either way
  }

  test("ScoredTopK: merge breaks cosine ties by ascending id") {
    val ids1 = Array(10L); val cs1 = Array(0.5)
    val ids2 = Array(3L); val cs2 = Array(0.5)
    val (im, _) = ScoredTopK.merge(ids1, cs1, ids2, cs2, 2)
    assert(im.toSeq == Seq(3L, 10L))
  }

  test("ScoredTopK: sample order statistics merge exactly") {
    val all = (0L until 500L).toArray
    val (committed, delta) = all.partition(_ % 3 != 0)
    val s = 64
    val m = ScoredTopK.mergeSampleIds(ScoredTopK.sampleIdsOf(committed, s), delta, s)
    assert(m.toSeq == ScoredTopK.sampleIdsOf(all, s).toSeq)
  }

  test("ScoredTopK: calibration is a pure function of the ascending-id sample set") {
    val dim = 16
    val q = randEmb(5L, dim)
    val sample = Array.tabulate(50)(i => Emb(i.toLong, randEmb(100L + i, dim)))
    val (mu1, s1) = CellJoin.calib(q, sample)
    val (mu2, s2) = CellJoin.calib(q, sample.clone())
    assert(mu1 == mu2 && s1 == s2)
    // and matches a direct Welford loop
    var mu = 0.0; var m2 = 0.0; var n = 0L
    sample.foreach { e =>
      val s = Embedder.dot(q, e.emb); n += 1; val d = s - mu; mu += d / n; m2 += d * (s - mu)
    }
    assert(mu1 == mu && s1 == math.sqrt(m2 / (n - 1)))
  }

  test("ScoredTopK: drop + slack merge reproduces a direct re-score (property)") {
    // simulate a corpus-side re-encode: slice loses `gone` rows (their
    // encodings changed), the delta brings their NEW encodings + new rows
    val dim = 16; val k = 4; val kPrime = 8
    val slice = Array.tabulate(60)(i => Emb(i.toLong, randEmb(i.toLong, dim)))
    val gone = Set(3L, 17L, 40L)
    val reenc = gone.toArray.sorted.map(i => Emb(i, randEmb(5000L + i, dim)))
    val newRows = Array.tabulate(10)(i => Emb(2000L + i, randEmb(2000L + i, dim)))
    val deltaCorpus = (reenc ++ newRows).sortBy(_.id)
    for (qi <- 0 until 20) {
      val q = randEmb(9000L + qi, dim)
      val (sIds, sCos) = ScoredTopK.scoreAll(q, slice, kPrime)
      val (kIds, kCos) = ScoredTopK.dropIds(sIds, sCos, gone.contains)
      val (dIds, dCos) = ScoredTopK.scoreAll(q, deltaCorpus, kPrime)
      val (mIds, mCos, _) = ScoredTopK.mergeMaint(kIds, kCos, completeA = false,
        dIds, dCos, deltaCorpus.length <= kPrime, kPrime)
      val union = slice.filterNot(e => gone.contains(e.id)) ++ deltaCorpus
      val (uIds, uCos) = ScoredTopK.scoreAll(q, union, kPrime)
      if (mIds.length >= k) { // the exact-prefix guarantee
        assert(mIds.take(k).toSeq == uIds.take(k).toSeq, s"query $qi")
        assert(mCos.take(k).toSeq == uCos.take(k).toSeq, s"query $qi")
        // and the whole surviving prefix is exact
        assert(mIds.toSeq == uIds.take(mIds.length).toSeq, s"query $qi")
      }
    }
  }

  test("ScoredTopK: truncated list exhausting mid-merge ends the exact prefix") {
    // A holds top-2 of a truncated slice; B is complete. Once A runs out,
    // nothing below its floor may be claimed exact.
    val (ids, cs, comp) = ScoredTopK.mergeMaint(
      Array(1L, 2L), Array(0.9, 0.8), completeA = false,
      Array(10L, 11L), Array(0.85, 0.1), completeB = true, kPrime = 8)
    assert(ids.toSeq == Seq(1L, 10L, 2L)) // stops when truncated A exhausts
    assert(!comp)
    assert(cs.toSeq == Seq(0.9, 0.85, 0.8))
  }

  // ---------- IncrementalAlign end-to-end exactness ----------

  /** batch-closed fixture: batch 1 = docs/entities of indices [0, e1)
    * generated with entitiesPerKg = e1 (edge targets stay inside the
    * batch — committed docs mention only committed names), batch 2 =
    * indices [e1, e) generated with entitiesPerKg = e (delta docs may
    * mention committed entities — the natural ingest shape). Names are a
    * pure function of (seed, index), so the two generators agree on
    * shared indices. */
  private def splitFixture(e1: Int, e: Int, noise: Double = 0.15):
      ((Dataset[Doc], Dataset[Entity]), (Dataset[Doc], Dataset[Entity])) = {
    val cfg1 = SynthConfig(entitiesPerKg = e1, surfaceNoise = noise)
    val cfgU = SynthConfig(entitiesPerKg = e, surfaceNoise = noise)
    val docs1 = DocSynthesizer.docs(spark, cfg1)
    val ents1 = DocSynthesizer.entities(spark, cfg1)
    def idx(docId: String): Long = docId.substring(docId.lastIndexOf('_') + 1).toLong
    val docs2 = DocSynthesizer.docs(spark, cfgU).filter(d => idx(d.doc_id) >= e1)
    val ents2 = DocSynthesizer.entities(spark, cfgU)
      .filter(en => (en.id % DocSynthesizer.Kg2Base) >= e1)
    ((docs1, ents1), (docs2, ents2))
  }

  private val icfg = IncrementalConfig(embed = EmbedderConfig(dim = 32), topK = 5)

  /** the exact output surface: top-k prefix + moments + acceptance (the
    * stored tail beyond k is maintenance slack and may legitimately be
    * shorter on the incremental path; `complete` is bookkeeping) */
  private def topkMap(s: AlignState): Map[Long, (Seq[Long], Seq[Double], Double, Double, Long)] =
    s.topk.collect().map(q =>
      q.srcId -> ((q.dstIds.take(icfg.topK).toSeq, q.cos.take(icfg.topK).toSeq,
        q.mu, q.sigma, q.acceptedDst))).toMap

  private def acceptedSet(s: AlignState): Set[(Long, Long)] =
    s.accepted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** assignment as a function: identity rows are equivalent to absence */
  private def effectiveAssign(s: AlignState): Map[Long, Long] =
    s.assignment.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(x => x._1 != x._2).toMap

  private def canonBag(s: AlignState): Map[Seq[Any], Int] =
    s.canonical.collect().map(_.toSeq).groupBy(identity).map { case (k, v) => (k, v.length) }

  test("incremental delta equals the from-scratch batch run, bit-exact") {
    val ((d1, e1), (d2, e2)) = splitFixture(40, 60)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfg)
    val inc = IncrementalAlign.delta(spark, s1, d2, e2, icfg)
    val full = IncrementalAlign.initial(spark, d1.unionByName(d2),
      e1.unionByName(e2), icfg)

    assert(inc.sampleIds.toSeq == full.sampleIds.toSeq)
    val ti = topkMap(inc); val tf = topkMap(full)
    assert(ti.keySet == tf.keySet)
    // bit-exact per query: ids, cosines, RSM moments, acceptance
    ti.keySet.foreach { id => assert(ti(id) == tf(id), s"query $id") }
    assert(acceptedSet(inc) == acceptedSet(full))
    assert(effectiveAssign(inc) == effectiveAssign(full))
    assert(canonBag(inc) == canonBag(full))
    // the delta genuinely exercised the interesting paths
    assert(acceptedSet(s1).nonEmpty, "committed batch accepted no edges")
    assert(inc.topk.count() > s1.topk.count(), "no new queries arrived")
  }

  test("rescore completeness matches the bootstrap at |corpus| == kPrime (boundary)") {
    // kPrime = 2*topK = 10; entitiesPerKg = 10 puts the KG2 corpus
    // exactly at the boundary where the exact rescore's old
    // ids.length < kPrime convention diverged from the bootstrap's
    // corpus <= kPrime (regression gate for that off-by-one)
    val ((d1, e1), (d2, e2)) = splitFixture(6, 10)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfg)
    val inc = IncrementalAlign.delta(spark, s1, d2, e2, icfg)
    val full = IncrementalAlign.initial(spark, d1.unionByName(d2),
      e1.unionByName(e2), icfg)
    val ci = inc.topk.collect().map(q => q.srcId -> q.complete).toMap
    val cf = full.topk.collect().map(q => q.srcId -> q.complete).toMap
    assert(ci == cf)
    // a 10-row corpus fits a kPrime=10 list: every query's list IS the corpus
    assert(cf.values.forall(identity))
    assert(topkMap(inc) == topkMap(full))
  }

  test("committed state survives save/load and keeps ingesting deltas bit-exactly") {
    val ((d1, e1), (d2, e2)) = splitFixture(35, 50)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfg)
    val dir = java.nio.file.Files.createTempDirectory("align-state").toString
    IncrementalAlign.save(spark, s1, dir)
    val resumed = IncrementalAlign.load(spark, dir)
    // round-trip is bit-exact (parquet preserves float/double bits)
    assert(topkMap(resumed) == topkMap(s1))
    assert(resumed.sampleIds.toSeq == s1.sampleIds.toSeq)
    assert(canonBag(resumed) == canonBag(s1))
    assert(resumed.weights == s1.weights.copy(
      attnSrc = resumed.weights.attnSrc, attnDst = resumed.weights.attnDst,
      combine = resumed.weights.combine))
    assert(resumed.weights.attnSrc.toSeq == s1.weights.attnSrc.toSeq)
    // a delta over the RESUMED state equals the delta over the live one
    val viaResume = IncrementalAlign.delta(spark, resumed, d2, e2, icfg)
    val viaLive = IncrementalAlign.delta(spark, s1, d2, e2, icfg)
    assert(topkMap(viaResume) == topkMap(viaLive))
    assert(acceptedSet(viaResume) == acceptedSet(viaLive))
    assert(canonBag(viaResume) == canonBag(viaLive))
  }

  test("multi-table state commit is atomic: torn save invisible, epochs time-travel, expire bounds storage") {
    val ((d1, e1), (d2, e2)) = splitFixture(35, 50)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfg)
    val dir = java.nio.file.Files.createTempDirectory("align-epoch").toString
    IncrementalAlign.save(spark, s1, dir)                       // epoch 0
    val s2 = IncrementalAlign.delta(spark, s1, d2, e2, icfg)
    IncrementalAlign.save(spark, s2, dir)                       // epoch 1
    assert(IncrementalAlign.stateEpochs(dir) == Seq(0L, 1L))
    // simulate a save killed after SOME component commits but before the
    // epoch marker: a newer orphaned snapshot of one table must not leak
    // into load() (latest-of-each would tear the state here)
    import spark.implicits._
    graft.tableio.TableIO.commit(spark,
      Seq((-1L, -1L)).toDF("a", "b"), s"$dir/accepted", "state")
    val resumed = IncrementalAlign.load(spark, dir)
    assert(acceptedSet(resumed) == acceptedSet(s2))             // not the torn row
    assert(topkMap(resumed) == topkMap(s2))
    // epoch time travel: epoch 0 is still exactly s1
    val old = IncrementalAlign.load(spark, dir, epoch = Some(0L))
    assert(topkMap(old) == topkMap(s1))
    assert(canonBag(old) == canonBag(s1))
    // retention: keep only the newest epoch — component snapshots below
    // the retained floor are reclaimed (the torn orphan sits ABOVE the
    // floor and stays until a later epoch supersedes it; it is never
    // load-visible either way)
    graft.tableio.StateStore.expire(dir, keepEpochs = 1)
    assert(IncrementalAlign.stateEpochs(dir) == Seq(1L))
    // only the newest epoch's marker and meta file remain
    assert(java.nio.file.Paths.get(dir, "_state").toFile.list()
      .filterNot(_.startsWith(".")).sorted.toSeq == Seq("align-1.txt", "epoch-1.txt"))
    intercept[Exception](IncrementalAlign.load(spark, dir, epoch = Some(0L)))
    // epoch 1 still loads bit-exact after expiry and keeps ingesting
    val afterExpire = IncrementalAlign.load(spark, dir)
    assert(topkMap(afterExpire) == topkMap(s2))
    assert(canonBag(afterExpire) == canonBag(s2))
    // ents table: epoch-0 snapshot (id 0) reclaimed, epoch-1 (id 1) kept
    assert(graft.tableio.TableIO.snapshotIds(s"$dir/ents") == Seq(1L))
  }

  test("state commit runs one Spark job per component; load runs two") {
    val ((d1, e1), _) = splitFixture(35, 50)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfgIdx)
    val dir = java.nio.file.Files.createTempDirectory("align-jobs").toString
    val extras = Seq(graft.streaming.StreamProgress.Component ->
      graft.streaming.StreamProgress.of(spark, 0L))
    val (_, saveJobs) = countJobs(IncrementalAlign.save(spark, s1, dir, extras))
    val n = graft.tableio.StateStore.readEpoch(dir, 0L).size
    assert(n == 10, s"expected 10 components (8 + index + progress), saw $n")
    // no metrics-row job, no schema-inference job, no job for the
    // driver-written meta file: exactly the data writes
    assert(saveJobs == n, s"save of $n components ran $saveJobs jobs")
    val (loaded, loadJobs) = countJobs(IncrementalAlign.load(spark, dir))
    assert(loadJobs == 0, s"load ran $loadJobs jobs") // meta and sample come from the file
    assert(metaBits(loaded) == metaBits(s1))
    assert(topkMap(loaded) == topkMap(s1))
  }

  /** weights, geometry and calibration sample as raw bits */
  private def metaBits(s: AlignState): (Seq[(String, Long, Long)], Seq[Long]) =
    (IncrementalAlign.metaRows(s).map { case (k, i, v) =>
      (k, i, java.lang.Double.doubleToRawLongBits(v)) }, s.sampleIds.toSeq)

  test("a failing component aborts the save: siblings cancelled, no marker, previous epoch intact") {
    val ((d1, e1), (d2, e2)) = splitFixture(35, 50)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfg)
    val dir = java.nio.file.Files.createTempDirectory("align-fail").toString
    IncrementalAlign.save(spark, s1, dir)                       // epoch 0
    val s2 = IncrementalAlign.delta(spark, s1, d2, e2, icfg)
    val boom = spark.range(0, 8, 1, 4).map { i =>
      if (i == 5) throw new IllegalStateException("injected component failure")
      i
    }.toDF("x")
    // a sibling slow enough to be running when the failure lands
    val slow = spark.range(0, 4, 1, 4).map { i => Thread.sleep(3000); i }.toDF("x")
    val err = intercept[Throwable](
      IncrementalAlign.save(spark, s2, dir, extras = Seq("boom" -> boom, "slow" -> slow)))
    assert(Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected component failure")), err)
    assert(IncrementalAlign.stateEpochs(dir) == Seq(0L))         // no new marker
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a component job outlived the failed save")
    val resumed = IncrementalAlign.load(spark, dir)
    assert(topkMap(resumed) == topkMap(s1))
    assert(resumed.sampleIds.toSeq == s1.sampleIds.toSeq)
    assert(acceptedSet(resumed) == acceptedSet(s1))
    assert(effectiveAssign(resumed) == effectiveAssign(s1))
    assert(canonBag(resumed) == canonBag(s1))
  }

  test("streaming micro-batch ingestion equals the from-scratch batch run") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ((d1, e1), (d2, e2)) = splitFixture(25, 40)
    val ((_, _), (d3, e3)) = splitFixture(40, 55)
    val s0 = IncrementalAlign.initial(spark, d1, e1, icfg)
    val cfg55 = SynthConfig(entitiesPerKg = 55)
    // dictionary entries arriving with a batch: derived from its doc ids
    // (names are a pure function of the index — generator-config-free)
    def entsFor(docs: Dataset[Doc]): Dataset[Entity] = {
      val idxs = docs.collect().map(d =>
        d.doc_id.substring(d.doc_id.lastIndexOf('_') + 1).toLong).toSet
      DocSynthesizer.entities(spark, cfg55)
        .filter(en => idxs.contains(en.id % DocSynthesizer.Kg2Base))
    }
    val stateDir = java.nio.file.Files.createTempDirectory("stream-kg").toString
    val source = MemoryStream[Doc]
    val (writer, handle) = graft.streaming.StreamingKg.writer(
      source.toDS(), entsFor, s0, icfg, stateDir = Some(stateDir), commitEvery = 2)
    val q = writer.start()
    try {
      source.addData(d2.collect().toSeq: _*); q.processAllAvailable()
      source.addData(d3.collect().toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val full = IncrementalAlign.initial(spark,
      d1.unionByName(d2).unionByName(d3),
      e1.unionByName(e2).unionByName(e3), icfg)
    assert(topkMap(handle.state) == topkMap(full))
    assert(acceptedSet(handle.state) == acceptedSet(full))
    assert(canonBag(handle.state) == canonBag(full))
    // commitEvery=2 → the 2nd batch committed the state durably
    val resumed = IncrementalAlign.load(spark, stateDir)
    assert(topkMap(resumed) == topkMap(full))
    assert(canonBag(resumed) == canonBag(full))
    // crash+restart replay: a fresh source numbers batches 0,1 again —
    // the writer reads the committed position (batchId 1, saved in the
    // same epoch as the state) and SKIPS both replays instead of
    // double-folding them into the resumed state
    val source2 = MemoryStream[Doc]
    val (writer2, handle2) = graft.streaming.StreamingKg.writer(
      source2.toDS(), entsFor, resumed, icfg, stateDir = Some(stateDir), commitEvery = 2)
    val q2 = writer2.start()
    try {
      source2.addData(d2.collect().toSeq: _*); q2.processAllAvailable()
      source2.addData(d3.collect().toSeq: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(topkMap(handle2.state) == topkMap(full))
    assert(canonBag(handle2.state) == canonBag(full))
  }

  test("streaming ingestion composes with the INDEXED mode (frozen geometry through commits)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ((d1, e1), (d2, e2)) = splitFixture(25, 40)
    val ((_, _), (d3, e3)) = splitFixture(40, 55)
    val idxCfg = icfg.copy(useIndex = true)
    val s0 = IncrementalAlign.initial(spark, d1, e1, idxCfg)
    val cfg55 = SynthConfig(entitiesPerKg = 55)
    def entsFor(docs: Dataset[Doc]): Dataset[Entity] = {
      val idxs = docs.collect().map(d =>
        d.doc_id.substring(d.doc_id.lastIndexOf('_') + 1).toLong).toSet
      DocSynthesizer.entities(spark, cfg55)
        .filter(en => idxs.contains(en.id % DocSynthesizer.Kg2Base))
    }
    val stateDir = java.nio.file.Files.createTempDirectory("stream-kg-idx").toString
    val source = MemoryStream[Doc]
    // commitEvery=1: every batch commits AND compacts (reload swap) — the
    // frozen geometry and the maintained index must survive each swap
    val (writer, handle) = graft.streaming.StreamingKg.writer(
      source.toDS(), entsFor, s0, idxCfg, stateDir = Some(stateDir), commitEvery = 1)
    val q = writer.start()
    try {
      source.addData(d2.collect().toSeq: _*); q.processAllAvailable()
      source.addData(d3.collect().toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val st = handle.state
    assert(st.geometry.isDefined && st.index.isDefined)
    val full = IncrementalAlign.initial(spark,
      d1.unionByName(d2).unionByName(d3),
      e1.unionByName(e2).unionByName(e3), idxCfg, geometry = s0.geometry)
    assert(topkMap(st) == topkMap(full))
    assert(acceptedSet(st) == acceptedSet(full))
    assert(canonBag(st) == canonBag(full))
    assert(st.index.get.count() == full.index.get.count())
  }

  test("streaming drift policy: rebootstrapOnDrift re-fits at the commit point; quiet predicate leaves the state alone") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ((d1, e1), (d2, e2)) = splitFixture(25, 40)
    val idxCfg = icfg.copy(useIndex = true)
    val s0 = IncrementalAlign.initial(spark, d1, e1, idxCfg)
    val cfg40 = SynthConfig(entitiesPerKg = 40)
    def entsFor(docs: Dataset[Doc]): Dataset[Entity] = {
      val idxs = docs.collect().map(d =>
        d.doc_id.substring(d.doc_id.lastIndexOf('_') + 1).toLong).toSet
      DocSynthesizer.entities(spark, cfg40)
        .filter(en => idxs.contains(en.id % DocSynthesizer.Kg2Base))
    }
    def stream(policy: Option[AlignState => Boolean]): AlignState = {
      val stateDir = java.nio.file.Files.createTempDirectory("drift-policy").toString
      val source = MemoryStream[Doc]
      val (writer, handle) = graft.streaming.StreamingKg.writer(
        source.toDS(), entsFor, s0, idxCfg, stateDir = Some(stateDir),
        commitEvery = 1, rebootstrapOnDrift = policy)
      val q = writer.start()
      try { source.addData(d2.collect().toSeq: _*); q.processAllAvailable() }
      finally q.stop()
      handle.state
    }
    // firing policy (injected always-true — the default predicate's own
    // firing/quiet behavior is gated by the DriftMonitor tests): the
    // committed state is the REBOOTSTRAPPED one, i.e. bit-equal to a
    // fresh indexed initial over everything ingested, fresh geometry
    val fired = stream(Some(_ => true))
    val fresh = IncrementalAlign.initial(spark, d1.unionByName(d2),
      e1.unionByName(e2), idxCfg)
    assert(java.lang.Double.doubleToRawLongBits(fired.geometry.get.width) ==
      java.lang.Double.doubleToRawLongBits(fresh.geometry.get.width))
    assert(fired.geometry.get.center.toSeq == fresh.geometry.get.center.toSeq)
    assert(topkMap(fired) == topkMap(fresh))
    assert(acceptedSet(fired) == acceptedSet(fresh))
    assert(canonBag(fired) == canonBag(fresh))
    // the default predicate on a same-distribution delta stays QUIET:
    // the committed state keeps the bootstrap-frozen geometry and equals
    // the plain maintained state
    val quiet = stream(Some(graft.streaming.StreamingKg.OnDriftAdvised))
    val plain = IncrementalAlign.initial(spark, d1.unionByName(d2),
      e1.unionByName(e2), idxCfg, geometry = s0.geometry)
    assert(java.lang.Double.doubleToRawLongBits(quiet.geometry.get.width) ==
      java.lang.Double.doubleToRawLongBits(s0.geometry.get.width))
    assert(topkMap(quiet) == topkMap(plain))
    assert(canonBag(quiet) == canonBag(plain))
  }

  test("streaming drift policy is sticky: an advisory after batch 1 re-fits at the commit after batch 2") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ((d1, e1), (d2, e2)) = splitFixture(25, 40)
    val ((_, _), (d3, e3)) = splitFixture(40, 55)
    val idxCfg = icfg.copy(useIndex = true)
    val s0 = IncrementalAlign.initial(spark, d1, e1, idxCfg)
    val cfg55 = SynthConfig(entitiesPerKg = 55)
    def entsFor(docs: Dataset[Doc]): Dataset[Entity] = {
      val idxs = docs.collect().map(d =>
        d.doc_id.substring(d.doc_id.lastIndexOf('_') + 1).toLong).toSet
      DocSynthesizer.entities(spark, cfg55)
        .filter(en => idxs.contains(en.id % DocSynthesizer.Kg2Base))
    }
    // the predicate advises on the first post-fold state only (batch
    // 1's); batch 2, the one the commit follows, is quiet
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val stateDir = java.nio.file.Files.createTempDirectory("drift-sticky").toString
    val source = MemoryStream[Doc]
    val (writer, handle) = graft.streaming.StreamingKg.writer(
      source.toDS(), entsFor, s0, idxCfg, stateDir = Some(stateDir),
      commitEvery = 2, rebootstrapOnDrift = Some(_ => seen.incrementAndGet() == 1))
    val q = writer.start()
    try {
      source.addData(d2.collect().toSeq: _*); q.processAllAvailable()
      assert(IncrementalAlign.stateEpochs(stateDir).isEmpty)
      source.addData(d3.collect().toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val fresh = IncrementalAlign.initial(spark,
      d1.unionByName(d2).unionByName(d3),
      e1.unionByName(e2).unionByName(e3), idxCfg)
    // the re-fit geometry differs from the frozen bootstrap one
    assert(fresh.geometry.get.center.toSeq != s0.geometry.get.center.toSeq)
    for (st <- Seq(handle.state, IncrementalAlign.load(spark, stateDir))) {
      assert(java.lang.Double.doubleToRawLongBits(st.geometry.get.width) ==
        java.lang.Double.doubleToRawLongBits(fresh.geometry.get.width))
      assert(st.geometry.get.center.toSeq == fresh.geometry.get.center.toSeq)
      assert(topkMap(st) == topkMap(fresh))
      assert(acceptedSet(st) == acceptedSet(fresh))
      assert(canonBag(st) == canonBag(fresh))
    }
  }

  test("retract undoes a committed batch bit-exactly (takedown path)") {
    val ((d1, e1), (d2, e2)) = splitFixture(40, 60)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfg)
    val s2 = IncrementalAlign.delta(spark, s1, d2, e2, icfg)
    val docIds2 = d2.collect().map(_.doc_id).toSet
    val back = IncrementalAlign.retract(spark, s2, docIds2, icfg)
    // the dictionary is NOT retracted (entries apply prospectively), so
    // the ground truth is a from-scratch run over batch-1 docs with the
    // UNION dictionary
    val base = IncrementalAlign.initial(spark, d1, e1.unionByName(e2), icfg)
    assert(back.sampleIds.toSeq == base.sampleIds.toSeq)
    val tb = topkMap(back); val t0 = topkMap(base)
    assert(tb.keySet == t0.keySet)
    tb.keySet.foreach { id => assert(tb(id) == t0(id), s"query $id") }
    assert(acceptedSet(back) == acceptedSet(base))
    assert(effectiveAssign(back) == effectiveAssign(base))
    assert(canonBag(back) == canonBag(base))
    // the retraction genuinely undid something: the delta had added
    // triples and the retract removed them
    assert(s2.idTriples.count() > back.idTriples.count())
    assert(back.idTriples.filter(t => docIds2.contains(t.docId)).count() == 0L)
  }

  test("CDC event stream: tombstones retract committed docs; commits compact the state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ((d1, e1), (d2, e2)) = splitFixture(25, 40)
    val ((_, _), (d3, e3)) = splitFixture(40, 55)
    val s0 = IncrementalAlign.initial(spark, d1, e1, icfg)
    val cfg55 = SynthConfig(entitiesPerKg = 55)
    def entsFor(docs: Dataset[Doc]): Dataset[Entity] = {
      val idxs = docs.collect().map(d =>
        d.doc_id.substring(d.doc_id.lastIndexOf('_') + 1).toLong).toSet
      DocSynthesizer.entities(spark, cfg55)
        .filter(en => idxs.contains(en.id % DocSynthesizer.Kg2Base))
    }
    val stateDir = java.nio.file.Files.createTempDirectory("cdc-kg").toString
    val source = MemoryStream[DocEvent]
    // commitEvery=1: every batch commits AND compacts (handle swaps to
    // the loaded snapshot) — the retraction in batch 2 therefore runs
    // over a compacted state, exercising takedown-after-resume
    val (writer, handle) = graft.streaming.StreamingKg.writerCdc(
      source.toDS(), entsFor, s0, icfg, stateDir = Some(stateDir), commitEvery = 1)
    val q = writer.start()
    try {
      source.addData(d2.collect().toSeq.map(DocEvent.add): _*)
      q.processAllAvailable()
      // batch 2: tombstone every batch-1-delta doc AND add batch 3 —
      // retractions apply first, then the additions run as one delta
      val evs = d2.collect().toSeq.map(d => DocEvent.retract(d.doc_id)) ++
        d3.collect().toSeq.map(DocEvent.add)
      source.addData(evs: _*)
      q.processAllAvailable()
    } finally q.stop()
    // truth: d2's docs gone, its dictionary entries remain (prospective)
    val full = IncrementalAlign.initial(spark, d1.unionByName(d3),
      e1.unionByName(e2).unionByName(e3), icfg)
    assert(topkMap(handle.state) == topkMap(full))
    assert(acceptedSet(handle.state) == acceptedSet(full))
    assert(effectiveAssign(handle.state) == effectiveAssign(full))
    assert(canonBag(handle.state) == canonBag(full))
    // and the final committed snapshot resumes to the same state
    val resumed = IncrementalAlign.load(spark, stateDir)
    assert(topkMap(resumed) == topkMap(full))
    assert(canonBag(resumed) == canonBag(full))
  }

  // ---------- indexed candidate mode (frozen bucket geometry) ----------

  private val icfgIdx = icfg.copy(useIndex = true)

  test("indexed mode: delta equals from-scratch under the frozen geometry; buckets prune") {
    val ((d1, e1), (d2, e2)) = splitFixture(40, 60)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfgIdx)
    assert(s1.geometry.isDefined && s1.index.isDefined)
    val inc = IncrementalAlign.delta(spark, s1, d2, e2, icfgIdx)
    // the from-scratch twin must score under the SAME frozen geometry —
    // candidate membership is part of the maintained contract
    val full = IncrementalAlign.initial(spark, d1.unionByName(d2),
      e1.unionByName(e2), icfgIdx, geometry = s1.geometry)
    assert(inc.sampleIds.toSeq == full.sampleIds.toSeq)
    val ti = topkMap(inc); val tf = topkMap(full)
    assert(ti.keySet == tf.keySet)
    ti.keySet.foreach { id => assert(ti(id) == tf(id), s"query $id") }
    assert(acceptedSet(inc) == acceptedSet(full))
    assert(effectiveAssign(inc) == effectiveAssign(full))
    assert(canonBag(inc) == canonBag(full))
    // the index table tracks the corpus: bands rows per KG2 entity
    val g = s1.geometry.get
    val kg2 = inc.encoded.filter("kg = 2").count()
    assert(inc.index.get.count() == g.bands * kg2)
    // the geometry genuinely PRUNES: total candidate mass across queries
    // is strictly below the all-pairs brute force
    val corpus = inc.encoded.filter("kg = 2").select("id", "emb")
      .as[(Long, Array[Float])].collect()
    val cKeys = corpus.map(c => g.keysOf(c._2))
    val queries = inc.encoded.filter("kg = 1").select("id", "emb")
      .as[(Long, Array[Float])].collect()
    val candMass = queries.map { q =>
      val qk = g.keysOf(q._2)
      cKeys.count(CellJoin.sharesBand(qk, _)).toLong
    }.sum
    assert(candMass < queries.length.toLong * corpus.length,
      s"no pruning: candMass=$candMass of ${queries.length * corpus.length}")
    // recall vs the EXACT mode: bucketing keeps nearly all accepted edges
    val exact = IncrementalAlign.initial(spark, d1.unionByName(d2),
      e1.unionByName(e2), icfg)
    val accEx = acceptedSet(exact); val accIx = acceptedSet(full)
    assert(accEx.nonEmpty)
    val recall = accIx.intersect(accEx).size.toDouble / accEx.size
    assert(recall >= 0.9, s"indexed accepted-edge recall $recall (${accIx.size} vs ${accEx.size})")
  }

  /** The fused-pass law `apply(st, a, e, t) == delta(retract(st, t), a,
    * e)` over fixed CDC batches against ONE bootstrap; returns the jobs
    * of the first batch's fused pass, run on the fresh state. */
  private def applyLaw(cfg: IncrementalConfig): Int = {
    val ((d1, e1), (d2, e2)) = splitFixture(25, 40)
    val st = IncrementalAlign.initial(spark, d1, e1, cfg)
    val Array(x, y, w) = d1.collect().filter(_.doc_id.startsWith("kg1")).sortBy(_.doc_id).take(3)
    val never = "kg1_doc_9999"
    // doc x is tombstoned and re-added with new content (w's spans)
    val xNew = Doc(x.doc_id, w.spans)
    val cases = Seq(
      ("overlapping tombstone and add ids", d2.unionByName(Seq(xNew).toDS()), e2,
        Set(x.doc_id, y.doc_id, never)),
      ("tombstone for a never-committed doc", d2, e2, Set(never)),
      ("empty adds", spark.emptyDataset[Doc], spark.emptyDataset[Entity], Set(x.doc_id, y.doc_id)),
      ("empty tombstones", d2, e2, Set.empty[String]))
    val jobs = cases.map { case (label, a, e, t) =>
      val (fused, n) = countJobs(IncrementalAlign.apply(spark, st, a, e, t, cfg))
      val twoPass = IncrementalAlign.delta(spark,
        IncrementalAlign.retract(spark, st, t, cfg), a, e, cfg)
      assert(fused.sampleIds.toSeq == twoPass.sampleIds.toSeq, label)
      assert(topkMap(fused) == topkMap(twoPass), label)
      assert(acceptedSet(fused) == acceptedSet(twoPass), label)
      assert(effectiveAssign(fused) == effectiveAssign(twoPass), label)
      assert(canonBag(fused) == canonBag(twoPass), label)
      if (label == cases.head._1) {
        // the re-added doc landed as its new version
        def content(s: AlignState, doc: String) =
          s.idTriples.filter(_.docId == doc).map(t => (t.head, t.rel, t.tail)).collect().sorted.toSeq
        assert(content(fused, x.doc_id) == content(st, w.doc_id))
      }
      n
    }
    jobs.head
  }

  test("apply equals retract then delta in one pass (exact mode)") {
    applyLaw(icfg)
  }

  test("apply equals retract then delta in one pass (indexed mode) within half the jobs") {
    val jobs = applyLaw(icfgIdx)
    // retract then delta ran 28 + 31 = 59 jobs on this batch before the
    // two passes were fused
    assert(jobs <= 29, s"the fused pass ran $jobs jobs")
  }

  test("one durable writerCdc micro-batch stays within its job budget") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ((d1, e1), (d2, e2)) = splitFixture(25, 40)
    val ((_, _), (d3, e3)) = splitFixture(40, 55)
    val s0 = IncrementalAlign.initial(spark, d1, e1, icfgIdx)
    // the batch's dictionary is set before each batch, so entsFor itself
    // runs no job
    @volatile var ents = e2
    val tmp = java.nio.file.Files.createTempDirectory("cdc-jobs").toString
    val source = MemoryStream[DocEvent]
    val (writer, _) = graft.streaming.StreamingKg.writerCdc(
      source.toDS(), _ => ents, s0, icfgIdx, stateDir = Some(s"$tmp/state"),
      commitEvery = 1, checkpointLocation = Some(s"$tmp/checkpoint"))
    val q = writer.start()
    try {
      source.addData(d2.collect().toSeq.map(DocEvent.add): _*)
      q.processAllAvailable()
      ents = e3
      // the batch runs on the stream thread, outside any job group of
      // this one: count every job submitted while it runs
      val evs = d2.collect().toSeq.sortBy(_.doc_id).take(3).map(d => DocEvent.retract(d.doc_id)) ++
        d3.collect().toSeq.map(DocEvent.add)
      val (_, jobs) = countAllJobs { source.addData(evs: _*); q.processAllAvailable() }
      // measured before the writers shared one fold loop: 41 jobs, the
      // same count in each of three runs
      assert(jobs <= 41, s"the micro-batch ran $jobs jobs")
    } finally q.stop()
  }

  test("a durable writerCdc commits each component as one file once it has a snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ((d1, e1), (d2, e2)) = splitFixture(25, 40)
    val ((_, _), (d3, e3)) = splitFixture(40, 55)
    val s0 = IncrementalAlign.initial(spark, d1, e1, icfgIdx)
    @volatile var ents = e2
    val stateDir = java.nio.file.Files.createTempDirectory("cdc-layout").toString
    val source = MemoryStream[DocEvent]
    val (writer, handle) = graft.streaming.StreamingKg.writerCdc(
      source.toDS(), _ => ents, s0, icfgIdx, stateDir = Some(stateDir), commitEvery = 1)
    val q = writer.start()
    try {
      source.addData(d2.collect().toSeq.map(DocEvent.add): _*)
      q.processAllAvailable()
      ents = e3
      source.addData(d2.collect().toSeq.sortBy(_.doc_id).take(3).map(d => DocEvent.retract(d.doc_id)) ++
        d3.collect().toSeq.map(DocEvent.add): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.tableio.StateStore.epochs(stateDir) == Seq(0L, 1L))
    val second = graft.tableio.StateStore.readEpoch(stateDir, 1L)
    assert(second.size == 10, s"components: ${second.keys}")
    second.foreach { case (name, id) =>
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(stateDir, name, "data", s"snap-$id"))
      val files = try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
        finally st.close()
      if (name == "canonical") {
        assert(files.nonEmpty)
        assert(files.groupBy(_.getParent).values.forall(_.size == 1), s"canonical: $files")
      } else assert(files.size == 1, s"$name: ${files.size} files")
    }
    val reloaded = IncrementalAlign.load(spark, stateDir)
    val live = handle.state
    assert(reloaded.sampleIds.toSeq == live.sampleIds.toSeq)
    assert(topkMap(reloaded) == topkMap(live))
    assert(acceptedSet(reloaded) == acceptedSet(live))
    assert(effectiveAssign(reloaded) == effectiveAssign(live))
    assert(canonBag(reloaded) == canonBag(live))
    assert(reloaded.idTriples.collect().toSet == live.idTriples.collect().toSet)
    def indexRows(s: AlignState) = s.index.get.collect().map(r => (r.band, r.key, r.id,
      r.emb.map(java.lang.Float.floatToRawIntBits).toSeq, r.prefix.toSeq)).toSet
    assert(indexRows(reloaded) == indexRows(live))
  }

  test("indexed bootstrap scores each cell tile once") {
    val ((d1, e1), _) = splitFixture(40, 60)
    val (st, bootTiles) = sumAccumulator(graft.candidates.BucketIndex.ScoredTiles)(
      IncrementalAlign.initial(spark, d1, e1, icfgIdx))
    val queries = st.encoded.filter("kg = 1").select("id", "emb").as[(Long, Array[Float])]
    val (_, oneEval) = sumAccumulator(graft.candidates.BucketIndex.ScoredTiles)(
      graft.candidates.BucketIndex.cogroupTopK(queries, st.index.get, st.geometry.get,
        2 * icfgIdx.topK, IncrementalAlign.IndexCellCap).count())
    assert(oneEval > 0)
    assert(bootTiles == oneEval, s"bootstrap scored $bootTiles tiles, one evaluation $oneEval")
  }

  test("indexed mode: retract equals from-scratch under the frozen geometry") {
    val ((d1, e1), (d2, e2)) = splitFixture(40, 60)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfgIdx)
    val s2 = IncrementalAlign.delta(spark, s1, d2, e2, icfgIdx)
    val docIds2 = d2.collect().map(_.doc_id).toSet
    val back = IncrementalAlign.retract(spark, s2, docIds2, icfgIdx)
    val base = IncrementalAlign.initial(spark, d1, e1.unionByName(e2), icfgIdx,
      geometry = s1.geometry)
    assert(topkMap(back) == topkMap(base))
    assert(acceptedSet(back) == acceptedSet(base))
    assert(effectiveAssign(back) == effectiveAssign(base))
    assert(canonBag(back) == canonBag(base))
  }

  test("indexed state survives save/load (geometry + index) and keeps ingesting") {
    val ((d1, e1), (d2, e2)) = splitFixture(35, 50)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfgIdx)
    val dir = java.nio.file.Files.createTempDirectory("align-idx").toString
    IncrementalAlign.save(spark, s1, dir)
    val resumed = IncrementalAlign.load(spark, dir)
    val g0 = s1.geometry.get; val g1 = resumed.geometry.get
    assert(g1.bands == g0.bands && g1.rows == g0.rows && g1.seed == g0.seed)
    assert(java.lang.Double.doubleToRawLongBits(g1.width) ==
      java.lang.Double.doubleToRawLongBits(g0.width))
    assert(g1.center.toSeq == g0.center.toSeq)
    assert(resumed.index.get.count() == s1.index.get.count())
    assert(topkMap(resumed) == topkMap(s1))
    val viaResume = IncrementalAlign.delta(spark, resumed, d2, e2, icfgIdx)
    val viaLive = IncrementalAlign.delta(spark, s1, d2, e2, icfgIdx)
    assert(topkMap(viaResume) == topkMap(viaLive))
    assert(acceptedSet(viaResume) == acceptedSet(viaLive))
    assert(canonBag(viaResume) == canonBag(viaLive))
  }

  test("indexed bootstrap is partitioning-independent (cogroup merge laws)") {
    // the distributed bootstrap's per-cell partial top-k lists merge in
    // reduceGroups order, which varies with partitioning — the ScoredTopK
    // total order (cos desc, id asc over disjoint ids) must make the
    // result identical anyway, as must the treeAggregate sample
    val ((d1, e1), _) = splitFixture(40, 60)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def runAt(parts: Int): AlignState =
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        IncrementalAlign.initial(spark, d1.repartition(parts), e1.repartition(parts), icfgIdx)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val a = runAt(3)
    val b = runAt(11)
    assert(a.sampleIds.toSeq == b.sampleIds.toSeq)
    val ga = a.geometry.get; val gb = b.geometry.get
    assert(java.lang.Double.doubleToRawLongBits(ga.width) ==
      java.lang.Double.doubleToRawLongBits(gb.width))
    val ta = topkMap(a); val tb = topkMap(b)
    assert(ta.keySet == tb.keySet)
    ta.keySet.foreach { id => assert(ta(id) == tb(id), s"query $id") }
    assert(acceptedSet(a) == acceptedSet(b))
    assert(effectiveAssign(a) == effectiveAssign(b))
  }

  test("indexed mode: rebootstrap re-fits geometry, equals a fresh initial, and deltas compose") {
    val ((d1, e1), (d2, e2)) = splitFixture(40, 60)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfgIdx)
    val s2 = IncrementalAlign.delta(spark, s1, d2, e2, icfgIdx) // frozen bootstrap geometry
    val reb = IncrementalAlign.rebootstrap(spark, s2, icfgIdx)
    val fresh = IncrementalAlign.initial(spark, d1.unionByName(d2),
      e1.unionByName(e2), icfgIdx)
    // the re-fit geometry equals a fresh fit over the grown corpus
    // (sample + fit are deterministic functions of bit-equal rows)...
    val gr = reb.geometry.get; val gf = fresh.geometry.get
    assert(gr.bands == gf.bands && gr.rows == gf.rows && gr.seed == gf.seed)
    assert(java.lang.Double.doubleToRawLongBits(gr.width) ==
      java.lang.Double.doubleToRawLongBits(gf.width))
    assert(gr.center.toSeq == gf.center.toSeq)
    // ...and genuinely differs from the one frozen at the 40-entity
    // bootstrap (the drift this operation exists to recover from)
    val g0 = s1.geometry.get
    assert(java.lang.Double.doubleToRawLongBits(gr.width) !=
      java.lang.Double.doubleToRawLongBits(g0.width) || gr.center.toSeq != g0.center.toSeq)
    // full state equality vs the fresh initial, component for component
    assert(reb.sampleIds.toSeq == fresh.sampleIds.toSeq)
    assert(topkMap(reb) == topkMap(fresh))
    assert(acceptedSet(reb) == acceptedSet(fresh))
    assert(effectiveAssign(reb) == effectiveAssign(fresh))
    assert(canonBag(reb) == canonBag(fresh))
    assert(reb.index.get.count() == fresh.index.get.count())
    // a further delta over the re-bootstrapped state equals one over the
    // fresh initial — the maintained contract holds under the new geometry
    val ((_, _), (d3, e3)) = splitFixture(60, 75)
    val viaReb = IncrementalAlign.delta(spark, reb, d3, e3, icfgIdx)
    val viaFresh = IncrementalAlign.delta(spark, fresh, d3, e3, icfgIdx)
    assert(topkMap(viaReb) == topkMap(viaFresh))
    assert(acceptedSet(viaReb) == acceptedSet(viaFresh))
    assert(canonBag(viaReb) == canonBag(viaFresh))
  }

  test("drift monitor: fires on the two-pole drift fixture, quiet pre-drift, surfaced from delta") {
    import graft.candidates.{DriftMonitor, IndexGeometry}
    import graft.kg.Emb
    import graft.ReferenceFixtures.{around, normalize, sampleOf, unitNoise}
    // ---- unit gate on the two-pole drift construction (the
    // measured silent-decay fixture: recall 0.93 → 0.60 under the
    // frozen geometry while candidate mass stays low, BENCH.md) ----
    val dim = 32; val n = 2000; val seed = 37L
    val uA = normalize(unitNoise(dim, seed, 1L, 900))
    val uB = normalize(unitNoise(dim, seed, 2L, 901))
    val corpusA = Array.tabulate(n)(i => Emb(i.toLong, around(uA, 0.35, seed, i, 1)))
    val driftedB = Array.tabulate(n)(i => Emb((n + i).toLong, around(uB, 1.2, seed, i, 2)))
    val sameA = Array.tabulate(n)(i => Emb((2 * n + i).toLong, around(uA, 0.35, seed, i, 4)))
    val gFrozen = IndexGeometry.fit(sampleOf(corpusA, 512), bands = 16, rows = 2)
    // a same-population batch stays quiet under the frozen fit
    val quiet = DriftMonitor.assess(sameA, sampleOf(corpusA, 512), gFrozen).get
    assert(!quiet.rebootstrapAdvised, quiet.toString)
    assert(math.abs(quiet.widthRatio - 1.0) < 0.2, quiet.toString)
    // the drifted ingest fires — this is the silent-recall-decay state
    val fired = DriftMonitor.assess(driftedB, sampleOf(corpusA, 512), gFrozen).get
    assert(fired.rebootstrapAdvised, fired.toString)
    // after the advised re-fit (the rebootstrap sampling law over the
    // grown corpus) the same batch is quiet again
    val gRefit = IndexGeometry.fit(sampleOf(corpusA ++ driftedB, 512), bands = 16, rows = 2)
    val recovered = DriftMonitor.assess(driftedB, sampleOf(corpusA ++ driftedB, 512), gRefit).get
    assert(!recovered.rebootstrapAdvised, recovered.toString)
    // degenerate inputs answer quietly with None, never a false alarm
    assert(DriftMonitor.assess(Array.empty[Emb], sampleOf(corpusA, 512), gFrozen).isEmpty)
    assert(DriftMonitor.assess(sameA, corpusA.take(1), gFrozen).isEmpty)

    // ---- integration: the score is surfaced from delta() on the
    // indexed path; exact mode and rebootstrap carry None ----
    val ((d1, e1), (d2, e2)) = splitFixture(40, 60)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfgIdx)
    assert(s1.drift.isEmpty)
    val s2 = IncrementalAlign.delta(spark, s1, d2, e2, icfgIdx)
    assert(s2.drift.isDefined, "indexed delta must surface a drift reading")
    assert(s2.drift.get.deltaRows > 0)
    // the synthetic delta is same-distribution: the monitor stays quiet
    assert(!s2.drift.get.rebootstrapAdvised, s2.drift.get.toString)
    assert(IncrementalAlign.rebootstrap(spark, s2, icfgIdx).drift.isEmpty)
    val sx1 = IncrementalAlign.initial(spark, d1, e1, icfg)
    assert(IncrementalAlign.delta(spark, sx1, d2, e2, icfg).drift.isEmpty)
  }

  test("DriftMonitor: stats are permutation-tolerant and duplication-invariant (property)") {
    import graft.candidates.{DriftMonitor, IndexGeometry}
    import graft.kg.Emb
    import graft.ReferenceFixtures.{around, normalize, sampleOf, unitNoise}
    // n chosen so even the duplicated delta (2n = 400) stays under
    // DriftMonitor.MaxSide — above it the stride subsample would make
    // duplication only approximately invariant
    val dim = 16; val n = 200; val seed = 11L
    val u = normalize(unitNoise(dim, seed, 1L, 700))
    val corpus = Array.tabulate(n)(i => Emb(i.toLong, around(u, 0.4, seed, i, 1)))
    val batch = Array.tabulate(n)(i => Emb((n + i).toLong, around(u, 0.4, seed, i, 2)))
    val g = IndexGeometry.fit(sampleOf(corpus, 128), bands = 8, rows = 2)
    val ref = sampleOf(corpus, 128)
    val base = DriftMonitor.assess(batch, ref, g).get
    // permuting the (sub-cap) inputs changes only fp summation order:
    // ratios agree to tolerance, the advisory bit exactly
    val perm = DriftMonitor.assess(batch.reverse, ref.reverse, g).get
    assert(math.abs(perm.widthRatio - base.widthRatio) < 1e-9, s"$perm vs $base")
    assert(math.abs(perm.collisionRatio - base.collisionRatio) < 1e-9)
    assert(perm.rebootstrapAdvised == base.rebootstrapAdvised)
    // duplicating the delta adds no information: identical ratios
    // (every pair relation repeats uniformly; sizes stay sub-cap)
    val dup = DriftMonitor.assess(batch ++ batch.map(e => e.copy(id = e.id + 10000)), ref, g).get
    assert(math.abs(dup.widthRatio - base.widthRatio) < 1e-9)
    assert(math.abs(dup.collisionRatio - base.collisionRatio) < 1e-9)
    // a same-distribution batch over a fit of its own population is quiet
    assert(!base.rebootstrapAdvised, base.toString)
  }

  test("exact-mode bootstrap collect is size-gated: at the cap unchanged, above it refuses naming useIndex") {
    val ((d1, e1), _) = splitFixture(10, 20)
    val nKg2 = e1.filter(_.kg == 2).count()
    assert(nKg2 > 1)
    // AT the cap: gate passes and the state is bit-identical to the
    // ungated exact path (the probe is read-only)
    val ok = IncrementalAlign.initial(spark, d1, e1,
      icfg.copy(exactBootstrapMaxRows = nKg2))
    val base = IncrementalAlign.initial(spark, d1, e1, icfg)
    assert(topkMap(ok) == topkMap(base))
    assert(acceptedSet(ok) == acceptedSet(base))
    // ABOVE the cap: refuse loudly, naming the designed alternative
    val ex = intercept[IllegalArgumentException] {
      IncrementalAlign.initial(spark, d1, e1,
        icfg.copy(exactBootstrapMaxRows = nKg2 - 1))
    }
    assert(ex.getMessage.contains("useIndex"), ex.getMessage)
    // the indexed mode never hits the gate (no corpus collect to guard)
    val idx = IncrementalAlign.initial(spark, d1, e1,
      icfgIdx.copy(exactBootstrapMaxRows = 1))
    assert(idx.geometry.isDefined)
  }

  test("incremental deltas compose: two batches equal one from-scratch run") {
    val ((d1, e1), (d2mid, e2mid)) = splitFixture(25, 40)
    val ((_, _), (d3, e3)) = splitFixture(40, 55)
    // regenerate the middle batch against the FINAL config so indices
    // [25,40) close over [0,40) and [40,55) over [0,55)
    val s1 = IncrementalAlign.initial(spark, d1, e1, icfg)
    val s2 = IncrementalAlign.delta(spark, s1, d2mid, e2mid, icfg)
    val s3 = IncrementalAlign.delta(spark, s2, d3, e3, icfg)
    val full = IncrementalAlign.initial(spark,
      d1.unionByName(d2mid).unionByName(d3),
      e1.unionByName(e2mid).unionByName(e3), icfg)
    assert(topkMap(s3) == topkMap(full))
    assert(acceptedSet(s3) == acceptedSet(full))
    assert(effectiveAssign(s3) == effectiveAssign(full))
    assert(canonBag(s3) == canonBag(full))
  }

  test("battery fixture ordering independence: retract-first equals incremental-first") {
    // q_kg_incremental / q_kg_retract / q_kg_indexed share a session
    // fixture (KgQueries.incFixture); retract consumes the cached state
    // WITHOUT mutating it, so the rows of every query must be identical
    // under any battery iteration order (VERDICT r5 next #6). Two
    // isolated sessions run the two orders; row multisets must match.
    def rows(s: org.apache.spark.sql.SparkSession, name: String): Seq[String] = {
      val dir = "/root/testdata/sf0.001"
      graft.SparkEntry.queries(name)(s, dir).collect().map(_.toString).sorted.toSeq
    }
    val sA = spark.newSession()
    val incA = rows(sA, "q_kg_incremental")
    val retA = rows(sA, "q_kg_retract")
    val sB = spark.newSession()
    val retB = rows(sB, "q_kg_retract")
    val incB = rows(sB, "q_kg_incremental")
    assert(incA == incB, "q_kg_incremental rows depend on battery order")
    assert(retA == retB, "q_kg_retract rows depend on battery order")
  }
}
