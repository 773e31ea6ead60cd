package graft.candidates

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._
import graft.embed.Embedder

/** Top-k similarity join — the flagship operator (SURVEY.md §2.3 J4).
  *
  * The reference uses an exact FAISS IndexFlatL2 over all KG2 vectors
  * (model/layers_LaBSE_neighbor.py:313-315). Vectors are L2-normalized,
  * so L2 rank ≡ cosine rank (SURVEY.md §7.5 item 6); we rank by cosine.
  *
  * Physical paths:
  *  - [[ExactTopK]]: broadcast corpus + per-partition heap. The parity
  *    oracle, and the right plan whenever the corpus fits an executor
  *    (≲10^6 × dim floats). No shuffle at all on the query side.
  *  - [[LshTopK]] and [[IvfTopK]]: blocked top-k for the 10^12-scale
  *    path. Both assign rows to cells (LSH band buckets, IVF inverted
  *    lists) and score within cells through the shared salted cell join
  *    ([[CellJoin]]), which splits hot cells so skew stays bounded while
  *    the candidates stay identical.
  */
object ExactTopK {

  /** For each query vector, the top-k corpus vectors by cosine, plus the
    * RSM calibration moments (mean/std of cosine over a deterministic
    * 1/16 corpus sample — the negative-distribution estimate). */
  def topK(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb], k: Int): Dataset[Candidate] =
    graft.util.JobDesc.withJobDesc(spark, "graft: exact top-k (broadcast corpus)") {
      topKImpl(spark, queries, corpus, k)
    }

  private def topKImpl(spark: SparkSession, queries: Dataset[Emb], corpus: Dataset[Emb], k: Int): Dataset[Candidate] = {
    import spark.implicits._
    val corpusArr = corpus.collect()
    val bc = spark.sparkContext.broadcast(corpusArr)
    queries.mapPartitions { it =>
      val cs = bc.value
      it.flatMap { q =>
        // bounded min-heap of size k on score
        val heap = new scala.collection.mutable.PriorityQueue[(Double, Long)]()(Ordering.by(x => (-x._1, -x._2)))
        var mu = 0.0; var m2 = 0.0; var nSamp = 0L
        var i = 0
        while (i < cs.length) {
          val s = Embedder.dot(q.emb, cs(i).emb)
          if (heap.size < k) heap.enqueue((s, cs(i).id))
          else if (s > heap.head._1 || (s == heap.head._1 && cs(i).id < heap.head._2)) {
            heap.dequeue(); heap.enqueue((s, cs(i).id))
          }
          if ((i & 15) == 0) { // deterministic negative sample for RSM
            nSamp += 1; val d = s - mu; mu += d / nSamp; m2 += d * (s - mu)
          }
          i += 1
        }
        val sigma = if (nSamp > 1) math.sqrt(m2 / (nSamp - 1)) else 1.0
        val ranked: Seq[(Double, Long)] = heap.dequeueAll.reverse.toSeq
        ranked.zipWithIndex.map { case ((s, id), r) =>
          Candidate(q.id, id, graft.align.MoCoTrainer.rsmScore(s, mu, sigma), r + 1)
        }
      }
    }
  }
}
