package graft.candidates

import graft.kg.Emb

/** Per-delta geometry-drift monitor for the INDEXED continuous mode
  * (round 5, VERDICT r4 next #2).
  *
  * The bucket geometry is frozen at bootstrap (candidate membership
  * must not drift batch to batch — the delta/retract exactness laws),
  * and [[graft.IncrementalAlign.rebootstrap]] is the recovery
  * operation — but the decay it recovers from is SILENT by the cheap
  * metrics: a drift probe measured candidate recall sagging 0.93 → 0.60
  * while candidate mass stayed LOW (BENCH.md drift table), so nothing
  * an operator watches for cost tells them the index has gone stale.
  * This monitor turns state the refresh pass already holds on the
  * driver — the delta corpus's fresh encodings and the calibration
  * sample — into a per-delta drift score with a documented threshold
  * that says "run rebootstrap now".
  *
  * Two statistics, each against a self-calibrating baseline (no stored
  * history beyond what the state already carries):
  *
  *  - '''widthRatio''' — rms per-coordinate residual of the fresh rows
  *    around the FROZEN center, divided by the fitted residual width
  *    (`geometry.width` — exactly `sqrt(residVar/dim)` of the
  *    bootstrap sample, [[IndexGeometry.fit]]). The measured decay
  *    mechanism is precisely this statistic blowing past 1: a drifted
  *    population's residuals span multiple frozen buckets, so true
  *    neighbors stop sharing bands.
  *  - '''collisionRatio''' — bucket-collision rate of fresh rows vs
  *    the committed calibration sample (how often a fresh row would
  *    even be a candidate of historical data under the frozen keys),
  *    divided by the sample's own within-sample collision rate (what
  *    that rate looks like for data the geometry fits). Same
  *    distribution ⇒ ≈ 1; a drifted pole shares (almost) no buckets
  *    with history ⇒ ≪ 1 — the "recall sags while candidate mass stays
  *    low" signature measured directly.
  *
  * Thresholds (validated on the two-pole drift fixture, numbers
  * in BENCH.md): advise `rebootstrap` when `widthRatio >` 1.5 or
  * `collisionRatio <` 0.5; `score` normalizes both so score ≥ 1 ⟺
  * advised. Cost: O(min(Δ,512) × (dim + 512·bands)) driver arithmetic
  * per delta over arrays the refresh ALREADY collected/broadcast —
  * no extra Spark job, no extra state. At any corpus scale the inputs
  * stay O(sample + delta-subsample). */
object DriftMonitor {

  /** widthRatio above this advises a re-fit (fresh residuals half
    * again the fitted width — bucket quantization visibly off). */
  val WidthThreshold = 1.5

  /** collisionRatio below this advises a re-fit (fresh rows collide
    * with history at under half the rate history collides with
    * itself — the candidate rule is starving new data). */
  val CollisionThreshold = 0.5

  /** per-side cap on the driver pair loops (deterministic stride
    * subsample above it). */
  val MaxSide = 512

  final case class DriftStats(deltaRows: Int, referenceRows: Int,
                              widthRatio: Double, collisionRatio: Double) {
    /** ≥ 1 ⟺ at least one statistic crossed its threshold. */
    def score: Double = math.max(widthRatio / WidthThreshold,
      CollisionThreshold / math.max(collisionRatio, 1e-12))
    def rebootstrapAdvised: Boolean = score >= 1.0
    override def toString: String =
      f"DriftStats(delta=$deltaRows, ref=$referenceRows, widthRatio=$widthRatio%.3f, " +
        f"collisionRatio=$collisionRatio%.3f, score=$score%.3f, advised=$rebootstrapAdvised)"
  }

  private def subsample(xs: Array[Emb], n: Int): Array[Emb] =
    if (xs.length <= n) xs
    else {
      val step = xs.length.toDouble / n
      Array.tabulate(n)(i => xs((i * step).toInt))
    }

  /** Assess one delta batch's fresh encodings against the committed
    * calibration rows (`reference` must EXCLUDE rows (re-)encoded by
    * this very batch — the caller filters by its changed-id set so the
    * reference stays historical). Returns None when either side is too
    * small to say anything (empty delta, reference < 2 rows) — the quiet
    * answer, never a false alarm. */
  def assess(delta: Array[Emb], reference: Array[Emb],
             geom: IndexGeometry): Option[DriftStats] = {
    if (delta.isEmpty || reference.length < 2) None
    else {
      val dim = geom.center.length
      val d = subsample(delta, MaxSide)
      val r = subsample(reference, MaxSide)
      var sq = 0.0
      d.foreach { e =>
        var i = 0
        while (i < dim) {
          val x = e.emb(i) - geom.center(i); sq += x.toDouble * x; i += 1
        }
      }
      val fitted = math.max(geom.width, 1e-12)
      val widthRatio = math.sqrt(sq / (d.length.toDouble * dim)) / fitted
      val dKeys = d.map(e => geom.keysOf(e.emb))
      val rKeys = r.map(e => geom.keysOf(e.emb))
      var dHits = 0L
      var i = 0
      while (i < dKeys.length) {
        var j = 0
        while (j < rKeys.length) {
          if (CellJoin.sharesBand(dKeys(i), rKeys(j))) dHits += 1
          j += 1
        }
        i += 1
      }
      var rHits = 0L; var rPairs = 0L
      i = 0
      while (i < rKeys.length) {
        var j = i + 1
        while (j < rKeys.length) {
          if (CellJoin.sharesBand(rKeys(i), rKeys(j))) rHits += 1
          rPairs += 1
          j += 1
        }
        i += 1
      }
      val dRate = dHits.toDouble / (dKeys.length.toDouble * rKeys.length)
      val rRate = rHits.toDouble / rPairs
      // a sample that never collides with itself carries no signal —
      // report the uninformative 1.0 rather than divide by zero
      val collisionRatio = if (rRate <= 0.0) 1.0 else dRate / rRate
      Some(DriftStats(delta.length, reference.length, widthRatio, collisionRatio))
    }
  }
}
