package graft

import org.apache.spark.sql.functions._

/** PairBlocking exactness: the tiled skew-safe enumeration must produce
  * the same pair SET as the naive bucket self-join, while splitting hot
  * buckets into bounded tile tasks. */
class PairBlockingSpec extends SparkTestBase {
  import spark.implicits._

  private def naivePairs(bands: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    bands.toDF("d1", "band", "key")
      .join(bands.toDF("d2", "band", "key"), Seq("band", "key"))
      .filter($"d1" < $"d2").select("d1", "d2").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("tiled enumeration equals the naive self-join on a skewed fixture") {
    // one 400-doc hot bucket (cap 16 → 25 tiles), a 40-doc warm bucket
    // (3 tiles), and scattered cold buckets incl. singletons
    // disjoint id ranges per band so the expected-size arithmetic is exact
    val rows = (0L until 400L).map(d => (d, 0, 7L)) ++
      (0L until 40L).map(d => (d + 1000, 2, 5L)) ++
      (0L until 200L).map(d => (d + 2000, 1, d % 37))
    val bands = rows.toDF("doc_id", "band", "key")
    val got = graft.candidates.PairBlocking.pairs(bands, cap = 16).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = naivePairs(bands)
    assert(got.nonEmpty && naive.size == 400 * 399 / 2 + 40 * 39 / 2 + naivePairs(
      (0L until 200L).map(d => (d + 2000, 1, d % 37)).toDF("doc_id", "band", "key")).size)
    assert(got == naive,
      s"missing=${(naive -- got).take(5)} extra=${(got -- naive).take(5)}")
  }

  test("hot-bucket tiles are balanced enough to bound per-task pair work") {
    // mirror the operator's tile assignment for the 400-doc bucket at
    // cap=16 (T=25) and check no tile-pair task sees >> cap² pairs
    val cap = 16
    val t = (400 + cap - 1) / cap
    val tileSizes = (0L until 400L).toDF("doc_id")
      .select(pmod(xxhash64($"doc_id"), lit(t)).as("tile"))
      .groupBy("tile").count().collect().map(_.getLong(1))
    assert(tileSizes.length == t)
    val maxTile = tileSizes.max
    assert(maxTile * maxTile <= 4L * cap * cap,
      s"worst tile-pair task ${maxTile * maxTile} pairs vs cap²=${cap * cap}")
  }

  test("cap larger than every bucket degenerates to the naive plan's result") {
    val rows = (0L until 60L).map(d => (d, 0, (d % 5).toLong))
    val bands = rows.toDF("doc_id", "band", "key")
    val got = graft.candidates.PairBlocking.pairs(bands, cap = 4096).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naivePairs(bands))
  }

  test("signature-value-level SimHash pairs equal the naive all-pairs Hamming scan") {
    // near-dup clusters (identical + one-token-edited texts) so distinct
    // signatures << docs — the regime the value-level plan exploits —
    // plus unique-text docs for the no-pair case
    val dir = java.nio.file.Files.createTempDirectory("simhash-docs").toString
    val texts =
      (0 until 12).map(i => (i.toLong, "alpha beta gamma delta epsilon")) ++
      (0 until 9).map(i => (100L + i, "alpha beta gamma delta zeta")) ++
      (0 until 7).map(i => (200L + i, s"unique${i} words entirely different text $i")) ++
      Seq((300L, "zz qq"), (301L, "zz qq rr"))
    texts.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")

    val got = TextQueries.qSimhashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // naive oracle: all-pairs bit_count over the oracle-checked signatures
    val sig = TextQueries.qSimhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = (for {
      (d1, s1) <- sig; (d2, s2) <- sig
      if d1 < d2
      h = java.lang.Long.bitCount(s1 ^ s2).toLong
      if h <= 2
    } yield (d1, d2, h)).toSet

    assert(got.size == naive.size, s"got ${got.size} vs naive ${naive.size}")
    assert(got == naive,
      s"missing=${(naive -- got).take(5)} extra=${(got -- naive).take(5)}")
    // the dedup premise holds on this fixture: far fewer values than docs
    assert(sig.map(_._2).distinct.length < sig.length / 2)
  }

  // ---------- IncrementalDedup: continuous MinHash-LSH dedup ----------

  private def skewedBands(ids: Range): Seq[(Long, Int, Long)] =
    // every doc shares band-0 key 7 in blocks of 30 (hot-ish buckets) and
    // band-1 keys scatter — both within- and cross-batch pairs exist
    ids.map(d => (d.toLong, 0, (d / 30).toLong)) ++
      ids.map(d => (d.toLong, 1, (d % 11).toLong))

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("d1", "d2").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("IncrementalDedup: folding delta over any batch split equals the batch operator") {
    import graft.dedup.IncrementalDedup
    val all = skewedBands(0 until 120)
    val batchPairs = pairSet(
      graft.candidates.PairBlocking.pairs(all.toDF("doc_id", "band", "key"), cap = 8).distinct())
    // 3-batch fold (uneven splits on purpose)
    val b = Seq(0 until 50, 50 until 55, 55 until 120).map(r => skewedBands(r).toDF("doc_id", "band", "key"))
    val s1 = IncrementalDedup.initial(spark, b(0), cap = 8)
    val (s2, new2) = IncrementalDedup.delta(spark, s1, b(1), cap = 8)
    val (s3, new3) = IncrementalDedup.delta(spark, s2, b(2), cap = 8)
    assert(pairSet(s3.pairs) == batchPairs)
    // each batch's new pairs touch at least one of its docs and are
    // disjoint from the committed set
    val ids2 = (50L until 55L).toSet
    assert(pairSet(new2).forall(p => ids2.contains(p._1) || ids2.contains(p._2)))
    assert((pairSet(new2) ++ pairSet(new3)) ++ pairSet(s1.pairs) == batchPairs)
    assert(pairSet(new2).intersect(pairSet(s1.pairs)).isEmpty)
  }

  test("IncrementalDedup: retract inverts delta") {
    import graft.dedup.IncrementalDedup
    val b1 = skewedBands(0 until 60).toDF("doc_id", "band", "key")
    val b2 = skewedBands(60 until 90).toDF("doc_id", "band", "key")
    val s1 = IncrementalDedup.initial(spark, b1, cap = 8)
    val (s2, _) = IncrementalDedup.delta(spark, s1, b2, cap = 8)
    val back = IncrementalDedup.retract(spark, s2, (60L until 90L).toSet)
    assert(pairSet(back.pairs) == pairSet(s1.pairs))
    assert(back.bands.count() == s1.bands.count())
  }

  test("IncrementalDedup: pair set invariant under input partitioning") {
    import graft.dedup.IncrementalDedup
    def fold(parts: Int): Set[(Long, Long)] = {
      val b1 = skewedBands(0 until 70).toDF("doc_id", "band", "key").repartition(parts)
      val b2 = skewedBands(70 until 100).toDF("doc_id", "band", "key").repartition(parts)
      val (s2, _) = IncrementalDedup.delta(spark, IncrementalDedup.initial(spark, b1, cap = 8), b2, cap = 8)
      pairSet(s2.pairs)
    }
    assert(fold(1) == fold(7))
  }

  // ---------- IncrementalSimhash: continuous SimHash near-dup ----------

  private def simhashDocsDir(): String = {
    // near-dup clusters (identical + one-token edits) + unique docs:
    // within- and cross-batch pairs exist under any mod-3 doc_id split
    val dir = java.nio.file.Files.createTempDirectory("simhash-inc").toString
    val texts =
      (0 until 12).map(i => (i.toLong, "alpha beta gamma delta epsilon")) ++
      (0 until 9).map(i => (100L + i, "alpha beta gamma delta zeta")) ++
      (0 until 7).map(i => (200L + i, s"unique${i} words entirely different text $i")) ++
      Seq((300L, "zz qq"), (301L, "zz qq rr"))
    texts.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def hamSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("d1", "d2", "hamming").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("IncrementalSimhash: folding delta over a 3-batch split equals the batch operator") {
    import graft.dedup.IncrementalSimhash
    val dir = simhashDocsDir()
    val batchPairs = hamSet(TextQueries.qSimhashPairs(spark, dir))
    val sig = TextQueries.qSimhash(spark, dir)
    def b(i: Int) = sig.filter(pmod($"doc_id", lit(3)) === i)
    val s1 = IncrementalSimhash.initial(spark, b(0), cap = 8)
    val (s2, new2) = IncrementalSimhash.delta(spark, s1, b(1), cap = 8)
    val (s3, new3) = IncrementalSimhash.delta(spark, s2, b(2), cap = 8)
    assert(hamSet(s3.pairs) == batchPairs)
    assert(batchPairs.nonEmpty)
    // per-batch new pairs are disjoint classes that tile the batch set
    assert(hamSet(s1.pairs) ++ hamSet(new2) ++ hamSet(new3) == batchPairs)
    assert(hamSet(new2).intersect(hamSet(s1.pairs)).isEmpty)
    // each new2 pair touches at least one batch-1 doc
    val ids1 = b(1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hamSet(new2).forall(p => ids1.contains(p._1) || ids1.contains(p._2)))
  }

  test("IncrementalSimhash: retract inverts delta") {
    import graft.dedup.IncrementalSimhash
    val dir = simhashDocsDir()
    val sig = TextQueries.qSimhash(spark, dir)
    val b1 = sig.filter($"doc_id" < 150)
    val b2 = sig.filter($"doc_id" >= 150)
    val ids2 = b2.select("doc_id").collect().map(_.getLong(0)).toSet
    val s1 = IncrementalSimhash.initial(spark, b1, cap = 8)
    val (s2, _) = IncrementalSimhash.delta(spark, s1, b2, cap = 8)
    val back = IncrementalSimhash.retract(spark, s2, ids2)
    assert(hamSet(back.pairs) == hamSet(s1.pairs))
    assert(back.bands.count() == s1.bands.count())
  }

  test("IncrementalSimhash: streamed micro-batches equal the batch operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = simhashDocsDir()
    val batchPairs = hamSet(TextQueries.qSimhashPairs(spark, dir))
    val sig = TextQueries.qSimhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val source = MemoryStream[(Long, Long)]
    val (writer, handle) = graft.streaming.StreamingDedup.simhashWriter(
      source.toDF().toDF("doc_id", "simhash"),
      graft.dedup.IncrementalSimhash.emptyState(spark), cap = 8)
    val q = writer.start()
    try {
      val sorted = sig.sortBy(_._1)
      source.addData(sorted.take(10): _*); q.processAllAvailable()
      source.addData(sorted.slice(10, 21): _*); q.processAllAvailable()
      source.addData(sorted.drop(21): _*); q.processAllAvailable()
    } finally q.stop()
    assert(hamSet(handle.state.pairs) == batchPairs)
    assert(handle.state.bands.count() == sig.length * 4L)
  }

  test("IncrementalDedup: a delta over the resumed state equals the live one; torn save invisible") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-state").toString
    val b1 = skewedBands(0 until 40).toDF("doc_id", "band", "key")
    val b2 = skewedBands(40 until 90).toDF("doc_id", "band", "key")
    val s1 = graft.dedup.IncrementalDedup.initial(spark, b1, cap = 8)
    graft.dedup.IncrementalDedup.save(spark, s1, dir)
    val loaded = graft.dedup.IncrementalDedup.load(spark, dir)
    val (live, _) = graft.dedup.IncrementalDedup.delta(spark, s1, b2, cap = 8)
    val (resumed, _) = graft.dedup.IncrementalDedup.delta(spark, loaded, b2, cap = 8)
    assert(pairSet(resumed.pairs) == pairSet(live.pairs))
    assert(resumed.bands.count() == live.bands.count())
    // torn save: a component commit with no epoch marker after it must
    // be invisible — load keeps resolving the last completed epoch
    graft.tableio.TableIO.commit(spark, b2.limit(3), s"$dir/bands", "state")
    val again = graft.dedup.IncrementalDedup.load(spark, dir)
    assert(again.bands.count() == s1.bands.count())
    assert(pairSet(again.pairs) == pairSet(s1.pairs))
  }

  test("IncrementalSimhash: save/load round-trips the banded index and pairs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("simhash-state").toString
    val sig = TextQueries.qSimhash(spark, simhashDocsDir())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val s1 = graft.dedup.IncrementalSimhash.initial(spark,
      sig.toDF("doc_id", "simhash"), cap = 8)
    graft.dedup.IncrementalDedup.save(spark, s1, dir)
    val loaded = graft.dedup.IncrementalDedup.load(spark, dir)
    assert(hamSet(loaded.pairs) == hamSet(s1.pairs))
    assert(loaded.bands.count() == s1.bands.count())
  }

  test("IncrementalDedup: CDC stream with mid-stream takedown equals the surviving-docs batch run") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // survivors = docs 0..59 minus the retracted 10..19
    val retracted = (10 until 20).map(_.toLong).toSet
    val surviving = skewedBands(0 until 60).filterNot(b => retracted(b._1))
    val batchPairs = pairSet(
      graft.candidates.PairBlocking.pairs(surviving.toDF("doc_id", "band", "key"), cap = 8).distinct())
    def adds(r: Range) = skewedBands(r).map { case (d, b, k) => ("add", d, b, k) }
    val source = MemoryStream[(String, Long, Int, Long)]
    val (writer, handle) = graft.streaming.StreamingDedup.lshWriterCdc(
      source.toDF().toDF("op", "doc_id", "band", "key"),
      graft.dedup.IncrementalDedup.emptyState(spark), cap = 8)
    val q = writer.start()
    try {
      source.addData(adds(0 until 40): _*); q.processAllAvailable()
      // one batch retracts docs 10..19 AND adds 40..59 — retractions
      // must apply first (the re-add-in-same-batch discipline)
      source.addData(
        retracted.toSeq.map(d => ("retract", d, 0, 0L)) ++ adds(40 until 60): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(pairSet(handle.state.pairs) == batchPairs)
    assert(handle.state.bands.count() == surviving.size)
  }

  test("IncrementalDedup: streamed micro-batches equal the batch operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = skewedBands(0 until 90)
    val batchPairs = pairSet(
      graft.candidates.PairBlocking.pairs(all.toDF("doc_id", "band", "key"), cap = 8).distinct())
    val dir = java.nio.file.Files.createTempDirectory("lsh-stream").toString
    val source = MemoryStream[(Long, Int, Long)]
    val (writer, handle) = graft.streaming.StreamingDedup.lshWriter(
      source.toDF().toDF("doc_id", "band", "key"),
      graft.dedup.IncrementalDedup.emptyState(spark), cap = 8,
      stateDir = Some(dir), commitEvery = 1, retainEpochs = Some(2))
    val q = writer.start()
    try {
      source.addData(skewedBands(0 until 40): _*); q.processAllAvailable()
      source.addData(skewedBands(40 until 60): _*); q.processAllAvailable()
      source.addData(skewedBands(60 until 90): _*); q.processAllAvailable()
    } finally q.stop()
    assert(pairSet(handle.state.pairs) == batchPairs)
    assert(handle.state.bands.count() == all.size)
    // durable: the committed snapshot equals the fold, retention expired
    // down to 2 of the 3 per-batch epochs
    val resumed = graft.dedup.IncrementalDedup.load(spark, dir)
    assert(pairSet(resumed.pairs) == batchPairs)
    assert(graft.tableio.StateStore.epochs(dir).size == 2)
    // crash+restart replay: a fresh source renumbers batches 0,1,2 —
    // all at or below the committed position, so every replay is
    // skipped and the state cannot double-fold
    val source2 = MemoryStream[(Long, Int, Long)]
    val (writer2, handle2) = graft.streaming.StreamingDedup.lshWriter(
      source2.toDF().toDF("doc_id", "band", "key"), resumed, cap = 8,
      stateDir = Some(dir), commitEvery = 1)
    val q2 = writer2.start()
    try {
      source2.addData(skewedBands(0 until 40): _*); q2.processAllAvailable()
      source2.addData(skewedBands(40 until 60): _*); q2.processAllAvailable()
      source2.addData(skewedBands(60 until 90): _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(pairSet(handle2.state.pairs) == batchPairs)
    assert(handle2.state.bands.count() == all.size)
  }

  // A durable dedup writer's pairs must not gain a commit file per
  // batch. Each case streams four micro-batches at commitEvery = 1 into
  // `dir` and returns (folded pairs, reloaded pairs, batch operator's
  // pairs).
  private def lshLayoutCase(dir: String): (Set[_], Set[_], Set[_]) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, Int, Long)]
    val (writer, handle) = graft.streaming.StreamingDedup.lshWriter(
      source.toDF().toDF("doc_id", "band", "key"),
      graft.dedup.IncrementalDedup.emptyState(spark), cap = 8,
      stateDir = Some(dir), commitEvery = 1)
    val q = writer.start()
    try Seq(0 until 30, 30 until 50, 50 until 70, 70 until 90).foreach { r =>
      source.addData(skewedBands(r): _*); q.processAllAvailable()
    } finally q.stop()
    val all = skewedBands(0 until 90).toDF("doc_id", "band", "key")
    (pairSet(handle.state.pairs), pairSet(graft.dedup.IncrementalDedup.load(spark, dir).pairs),
      pairSet(graft.candidates.PairBlocking.pairs(all, cap = 8).distinct()))
  }

  private def simhashLayoutCase(dir: String): (Set[_], Set[_], Set[_]) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = simhashDocsDir()
    val sig = TextQueries.qSimhash(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val source = MemoryStream[(Long, Long)]
    val (writer, handle) = graft.streaming.StreamingDedup.simhashWriter(
      source.toDF().toDF("doc_id", "simhash"),
      graft.dedup.IncrementalSimhash.emptyState(spark), cap = 8,
      stateDir = Some(dir), commitEvery = 1)
    val q = writer.start()
    try Seq(sig.take(8), sig.slice(8, 15), sig.slice(15, 22), sig.drop(22)).foreach { b =>
      source.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    (hamSet(handle.state.pairs), hamSet(graft.dedup.IncrementalDedup.load(spark, dir).pairs),
      hamSet(TextQueries.qSimhashPairs(spark, docs)))
  }

  Seq("lshWriter" -> lshLayoutCase _, "simhashWriter" -> simhashLayoutCase _).foreach {
    case (name, run) =>
      test(s"a durable $name commits its pairs as one file once it has a snapshot") {
        import scala.jdk.CollectionConverters._
        val dir = java.nio.file.Files.createTempDirectory(s"$name-layout").toString
        val (folded, reloaded, batchPairs) = run(dir)
        val pairFiles = graft.tableio.StateStore.epochs(dir).map { k =>
          val id = graft.tableio.StateStore.readEpoch(dir, k)("pairs")
          val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "pairs", "data", s"snap-$id"))
          try st.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
          finally st.close()
        }
        assert(pairFiles.size == 4)
        // the first commit has no snapshot to size from; every later one
        // writes a single file instead of one more per batch
        assert(pairFiles.tail.forall(_ == 1), s"pairs files per epoch: $pairFiles")
        assert(batchPairs.nonEmpty)
        assert(folded == batchPairs)
        assert(reloaded == batchPairs)
      }
  }

  test("one dedup delta runs a fixed number of jobs: MinHash as before, SimHash plus the shared count") {
    import graft.dedup.{IncrementalDedup, IncrementalSimhash}
    val s1 = IncrementalDedup.initial(spark, skewedBands(0 until 60).toDF("doc_id", "band", "key"), cap = 8)
    s1.bands.count(); s1.pairs.count()
    val b2 = skewedBands(60 until 90).toDF("doc_id", "band", "key")
    val (_, lshJobs) = countJobs(IncrementalDedup.delta(spark, s1, b2, cap = 8))
    val sig = TextQueries.qSimhash(spark, simhashDocsDir())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("doc_id", "simhash")
    val h1 = IncrementalSimhash.initial(spark, sig.filter($"doc_id" < 150), cap = 8)
    h1.bands.count(); h1.pairs.count()
    val (_, simJobs) = countJobs(
      IncrementalSimhash.delta(spark, h1, sig.filter($"doc_id" >= 150), cap = 8))
    // before the two maintainers shared one delta body: 10 MinHash jobs,
    // 6 SimHash jobs. SimHash now also runs the count() of newPairs that
    // lets a durable writer commit its pairs as one file; under AQE that
    // count is two jobs (the partial-count shuffle stage and the result)
    assert(lshJobs == 10, s"MinHash delta ran $lshJobs jobs")
    assert(simJobs == 8, s"SimHash delta ran $simJobs jobs")
  }
}
