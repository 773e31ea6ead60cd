package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.kg._
import graft.candidates.{IndexGeometry, LshTopK}

/** Bucket/cell work-distribution + timing diagnostics for LshTopK. */
object LshProfile {
  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 8
    val e = if (args.length > 1) args(1).toInt else 20000
    val dim = if (args.length > 2) args(2).toInt else 256
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (cores * 8).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // "encoded" (arg 4): run on the GAT-ENCODED vectors the pipeline's
    // candidate stage actually sees — raw embeddings have a different
    // bucket distribution than the neighbor-mixed encodings
    val encoded = args.length > 3 && args(3) == "encoded"
    val synth = graft.ingest.SynthConfig(entitiesPerKg = e)
    val ents = graft.ingest.DocSynthesizer.entities(spark, synth)
    val cfgE = graft.embed.EmbedderConfig(dim = dim)
    val embsRaw = graft.embed.Embedder.embedEntities(spark, ents, cfgE)
    val embs = (if (!encoded) embsRaw else {
      val docs = graft.ingest.DocSynthesizer.docs(spark, synth)
      val raw = graft.extract.Extraction.rawTriples(spark, docs)
      val idT = graft.extract.Extraction.idTriples(spark, raw, ents)
      val withSeq = idT.map(t => (t, (t.head << 20) ^ t.tail ^ (t.rel << 40)))
      val edges = graft.graph.NeighborAgg.undirectedEdges(spark, withSeq, ents)
      val ordered = graft.graph.NeighborAgg.orderedNeighbors(spark, edges, ents)
      val blocks = graft.graph.NeighborAgg.blocks(spark, ordered, embsRaw, ents, dim)
      val w0 = graft.align.GatKernel.initWeights(dim)
      val enc = graft.align.MoCoTrainer.encode(spark, blocks, w0).toDF("id", "emb")
      val all = enc.unionByName(embsRaw.toDF("id", "emb")
        .join(enc.select("id"), Seq("id"), "left_anti"))
      all.as[Emb]
    }).cache()
    embs.count()
    val q = embs.filter(_.id < 1000000L).cache(); q.count()
    val c = embs.filter(_.id >= 1000000L).cache(); c.count()

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[lsh] $name%-20s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); r
    }

    // LshTopK's geometry, fitted on the whole corpus instead of a sample
    val g0 = IndexGeometry.fit(c.collect().sortBy(_.id), LshTopK.Bands, LshTopK.RowsPerBand)
    println(f"[lsh] auto_w=${g0.width}%.5f")
    def keysOf(ds: org.apache.spark.sql.Dataset[Emb], g: IndexGeometry) = ds.flatMap { e =>
      val ks = g.keysOf(e.emb)
      Iterator.tabulate(g.bands)(j => (j, ks(j), e.id))
    }.toDF("band", "key", "id")
    // gold aligned pairs: blocking recall = share meeting in >=1 band
    val gold = graft.ingest.DocSynthesizer.goldLinks(spark, synth).cache()
    val nGold = gold.count()
    for (h <- 0 to 5) {
      val g = g0.copy(width = g0.width / (1 << h))
      val qk0 = keysOf(q, g).cache()
      val ck0 = keysOf(c, g).cache()
      val qk = qk0.groupBy("band", "key").count().withColumnRenamed("count", "qn")
      val ck = ck0.groupBy("band", "key").count().withColumnRenamed("count", "cn")
      val stats = qk.join(ck, Seq("band", "key")).agg(
        count(lit(1)).as("n_buckets"),
        sum(col("qn") * col("cn")).as("pair_work"),
        max(col("cn")).as("max_c"), max(col("qn")).as("max_q")).head()
      val hits = gold.toDF("e1", "e2")
        .join(qk0.toDF("band", "key", "e1"), Seq("e1"))
        .join(ck0.toDF("band", "key", "e2"), Seq("band", "key", "e2"))
        .select("e1").distinct().count()
      println(s"[lsh] h=$h w=${g.width} buckets=${stats.getLong(0)} pair_work=${stats.getLong(1)} " +
        s"max_c=${stats.getLong(2)} max_q=${stats.getLong(3)} block_recall=${hits.toDouble / nGold}")
      qk0.unpersist(); ck0.unpersist()
    }

    val taskTimes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        taskTimes.add((te.stageId, te.taskInfo.duration))
    })
    val cands = time("topk total")(LshTopK.topK(spark, q, c, 10))
    time("count")(cands.count())
    import scala.jdk.CollectionConverters._
    taskTimes.asScala.toSeq.groupBy(_._1).toSeq.sortBy(-_._2.map(_._2).sum).take(4).foreach { case (st, ts) =>
      val d = ts.map(_._2)
      println(s"[lsh] stage=$st tasks=${d.length} sum=${d.sum}ms max=${d.max}ms")
    }
    spark.stop()
  }
}
