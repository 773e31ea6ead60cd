package graft.util

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.encoders.encoderFor

/** `limit(n).collect()` in ONE scheduled job.
  *
  * CollectLimit executes incrementally: round 1 scans 1 partition, then
  * 4, 16, 64 (`spark.sql.limit.scaleUpFactor`) until `n` rows are found.
  * When the frame has FEWER rows than the limit — the normal case for a
  * driver-cap probe, where the limit exists only to bound a pathological
  * input — every round comes up short and the scan costs up to 4
  * scheduled jobs instead of 1. Each job pays driver scheduling latency
  * (0.1 s warm, whole seconds in this VM's degraded windows), which is
  * exactly the serial floor the driver fast paths exist to avoid.
  *
  * Instead every partition takes at most `n` rows in the same job (the
  * per-task early exit of [[BoundedProbe.atMost]]) and ships them as
  * binary rows; the driver decodes only the first `n` in partition
  * order — the rows CollectLimit returns, in the same order, with no
  * session conf touched. As in CollectLimit's own first round, an
  * over-limit frame holds up to `n` binary rows per partition on the
  * driver, but only `n` decoded objects.
  */
object BoundedCollect {

  def limitCollect[T](ds: Dataset[T], n: Int): Array[T] = {
    val qe = ds.queryExecution
    val rows = qe.toRdd.mapPartitions(_.take(n).map(_.copy())).collect()
    val decode = encoderFor(ds.encoder).resolveAndBind(qe.analyzed.output).createDeserializer()
    rows.iterator.take(n).map(decode).toArray(ds.encoder.clsTag)
  }
}
