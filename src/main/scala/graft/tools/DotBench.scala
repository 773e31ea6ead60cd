package graft.tools

import graft.candidates.LshTopK

/** Micro-benchmark + exactness check for the quantized dot kernel —
  * the hottest frame of the LSH scoring stage (StackProfile: ~70% of
  * stage-107 samples at E=50k). Compares the shipped [[LshTopK.dotQ]]
  * against a reference long-accumulated form over random L2-normalized
  * quantized vectors. args: [dim] [nVecs] [reps] */
object DotBench {
  def dotQRefLong(a: Array[Short], b: Array[Short]): Double = {
    val n = a.length
    var s0 = 0L; var s1 = 0L; var s2 = 0L; var s3 = 0L
    var i = 0
    while (i < n - 3) {
      s0 += a(i) * b(i).toLong
      s1 += a(i + 1) * b(i + 1).toLong
      s2 += a(i + 2) * b(i + 2).toLong
      s3 += a(i + 3) * b(i + 3).toLong
      i += 4
    }
    while (i < n) { s0 += a(i) * b(i).toLong; i += 1 }
    ((s0 + s1) + (s2 + s3)).toDouble / (LshTopK.QScale.toDouble * LshTopK.QScale)
  }

  def main(args: Array[String]): Unit = {
    val dim = args.lift(0).map(_.toInt).getOrElse(256)
    val nVecs = args.lift(1).map(_.toInt).getOrElse(4096)
    val reps = args.lift(2).map(_.toInt).getOrElse(2000)
    val rnd = new scala.util.Random(37)
    val vecs = Array.fill(nVecs) {
      val v = Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
      LshTopK.quantize(graft.embed.Embedder.l2normalize(v))
    }
    // extreme vectors: all mass on one coordinate (max |dot|)
    val spike = { val v = new Array[Float](dim); v(0) = 1f; LshTopK.quantize(v) }
    val negSpike = { val v = new Array[Float](dim); v(0) = -1f; LshTopK.quantize(v) }
    // exactness: shipped == reference on every pair of a sample + spikes
    val sample = vecs.take(256) ++ Array(spike, negSpike)
    for (a <- sample; b <- sample) {
      val x = LshTopK.dotQ(a, b); val y = dotQRefLong(a, b)
      require(x == y, s"dotQ mismatch: $x vs $y")
    }
    println(s"[dotbench] exactness OK over ${sample.length * sample.length} pairs (incl. +-spikes)")
    // monomorphic direct-call loops — the production call site
    // (LshTopK.scoreCell) is a static call, and a shared lambda-typed bench loop
    // goes megamorphic and blocks the inlining the SIMD match needs
    def benchShipped(): Unit = {
      var sink = 0.0
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) {
        var i = 0
        while (i < nVecs - 1) { sink += LshTopK.dotQ(vecs(i), vecs(i + 1)); i += 1 }
        r += 1
      }
      val ns = (System.nanoTime() - t0).toDouble / (reps.toLong * (nVecs - 1))
      println(f"[dotbench] shipped  $ns%7.2f ns/dot (dim=$dim, sink=$sink%.3f)")
    }
    def benchRef(): Unit = {
      var sink = 0.0
      val t0 = System.nanoTime()
      var r = 0
      while (r < reps) {
        var i = 0
        while (i < nVecs - 1) { sink += dotQRefLong(vecs(i), vecs(i + 1)); i += 1 }
        r += 1
      }
      val ns = (System.nanoTime() - t0).toDouble / (reps.toLong * (nVecs - 1))
      println(f"[dotbench] refLong  $ns%7.2f ns/dot (dim=$dim, sink=$sink%.3f)")
    }
    benchShipped(); benchRef()
    benchShipped(); benchRef()
    benchShipped(); benchRef()
  }
}
