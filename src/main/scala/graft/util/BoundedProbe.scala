package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size gate for forced `broadcast()` hints on entity-dimension frames.
  *
  * A forced broadcast of a corpus-scaled dimension (entity names, id→kg)
  * is a driver/executor OOM at the 10^12-row design point — but dropping
  * the hint unconditionally would swap every dimension join at TEST and
  * BENCH scale to a shuffle join (extra query-stage jobs on the serial
  * floor this VM pays dearly for, and AQE-dependent plans). The policy:
  * probe the frame once per run with a BOUNDED job and force-broadcast
  * only below the cap; above it the hint drops and Catalyst/AQE picks
  * the strategy (shuffle join at true scale — the correct plan there).
  */
object BoundedProbe {

  /** True iff `df` has ≤ `maxRows` rows. ONE narrow job with bounded
    * per-task cost: each task stops iterating its partition after
    * maxRows+1 rows and the driver sums the per-partition counts — no
    * shuffle and no full count of an unbounded input (any truncated
    * task alone already pushes the sum over `maxRows`). */
  def atMost(df: DataFrame, maxRows: Long): Boolean = {
    val counts = df.select().queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      while (n <= maxRows && it.hasNext) { it.next(); n += 1 }
      Iterator.single(n)
    }.collect()
    counts.sum <= maxRows
  }

  /** The forced dim-broadcast decision of a run or a maintenance pass:
    * [[atMost]] under `maxRows`, and false without a job when
    * `maxRows` ≤ 0 (forcing disabled). */
  def dimsBounded(df: DataFrame, maxRows: Long): Boolean =
    maxRows > 0 && atMost(df, maxRows)

  /** Force-broadcast only when the caller proved the frame bounded;
    * otherwise leave the join strategy to Catalyst/AQE. */
  def dimHint(df: DataFrame, bounded: Boolean): DataFrame =
    if (bounded) broadcast(df) else df
}
