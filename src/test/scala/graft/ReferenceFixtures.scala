package graft

import graft.candidates.{LshTopK, ScoredTopK}
import graft.kg.Emb
import graft.util.DetHash

/** Reference kernels and fixture builders shared by the specs.
  *
  * `dotQRefLong` is the long-accumulated quantized dot that OperatorSpec
  * holds the shipped [[LshTopK.dotQ]] (SIMD or scalar) equal to.
  *
  * `unitNoise`/`normalize`/`around`/`sampleOf` build IncrementalSpec's
  * two-pole drift fixture: unit vectors clustered around a pole, and the
  * bootstrap's deterministic calibration-sample law. */
object ReferenceFixtures {
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

  def unitNoise(dim: Int, seed: Long, i: Long, tag: Long): Array[Float] =
    Array.tabulate(dim)(j =>
      (DetHash.toUnit(DetHash.h3(seed, i, j, tag)) - 0.5).toFloat)

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  /** unit vector near `pole`: normalize(pole + spread · noise). */
  def around(pole: Array[Float], spread: Double, seed: Long,
             i: Long, tag: Long): Array[Float] = {
    val nz = unitNoise(pole.length, seed, i, tag)
    normalize(pole.indices.map(j => (pole(j) + spread * nz(j)).toFloat).toArray)
  }

  /** deterministic calibration sample — the bootstrap's sampling law
    * (order statistics over ascending ids). */
  def sampleOf(corpus: Array[Emb], n: Int): Array[Emb] = {
    val ids = ScoredTopK.sampleIdsOf(corpus.map(_.id), n).toSet
    corpus.filter(e => ids.contains(e.id))
  }
}
