package graft.canon

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.kg.Entity

/** Canonical (subj, pred, obj) materialization, shared by the batch
  * pipeline's last stage and the continuous mode's bootstrap and
  * relabel passes. */
object CanonicalTriples {

  /** Partition buckets of a committed canonical triple table. */
  private val Buckets = 16

  /** The partition column of a committed canonical triple table. */
  def bucket(subjId: Column): Column = pmod(subjId, lit(Buckets))

  /** `triples` (a frame with head, rel and tail columns) under the
    * (node, component) `assignment`: every column of `triples`, then
    * subj, pred = "rel_<rel>", obj, and the canonical subjId and objId
    * (a node without an assignment row is its own component). Each
    * caller selects the columns it keeps.
    *
    * Each dimension joins twice through aliases over the SAME
    * un-projected plan, with the renames in the join condition, so the
    * pair of broadcast exchanges canonicalizes identically and AQE
    * builds each broadcast once (a duplicate exchange costs a job and
    * ~0.5 s of driver planning gap on the bench VM, BENCH.md). */
  def of(triples: DataFrame, assignment: DataFrame, ents: Dataset[Entity],
         boundedDims: Boolean): DataFrame = {
    val canonMap = assignment.select(col("node"), col("component"))
    val names = graft.util.BoundedProbe.dimHint(
      ents.toDF().select(col("id"), col("name")), boundedDims)
    triples.as("t")
      .join(canonMap.as("ch"), col("t.head") === col("ch.node"), "left")
      .join(canonMap.as("ct"), col("t.tail") === col("ct.node"), "left")
      .withColumn("subjId", coalesce(col("ch.component"), col("t.head")))
      .withColumn("objId", coalesce(col("ct.component"), col("t.tail")))
      .join(names.as("ns"), col("subjId") === col("ns.id"))
      .join(names.as("no"), col("objId") === col("no.id"))
      .select(col("t.*"), col("ns.name").as("subj"),
        concat(lit("rel_"), col("t.rel")).as("pred"), col("no.name").as("obj"),
        col("subjId"), col("objId"))
  }
}
