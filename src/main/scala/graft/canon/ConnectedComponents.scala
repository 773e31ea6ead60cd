package graft.canon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Iterative connected components over accepted alignment edges —
  * large-star / small-star alternation (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14), expressed as pure
  * DataFrame window-min propagation so Catalyst + AQE handle
  * partitioning (north star: canonicalization via iterative
  * connected-components large-star/small-star joins; no GraphX,
  * Dataset/Catalyst only).
  *
  * Each star is MIN-PROPAGATION over a partition-only window — never a
  * collect_set: a hub node of degree 10^8 streams through the window
  * operator's spillable sort instead of materializing one multi-GB
  * array row (the canonicalization primitive must survive hubs at the
  * 10^12-doc design point). One shuffle per star, narrow (long, long)
  * rows throughout.
  *
  * Converges in O(log^2 n) rounds; alignment components are near-pairs
  * (diameter ≤ 3) so 2–4 rounds in practice. Convergence is detected by
  * an order-independent checksum aggregate (xor/sum of edge hashes) —
  * no driver-side edge materialization.
  *
  * Per-round lineage cut: each round's edge set is checkpointed so the
  * DAG doesn't grow by two window stages per round. When the session has
  * a RELIABLE checkpoint dir (`sc.setCheckpointDir`, e.g. HDFS/object
  * store on a real cluster), rounds use `checkpoint()` — a lost executor
  * mid-iteration recovers from the checkpoint files. Without one (this
  * sandbox's local[N], where executor loss ≡ JVM loss anyway) rounds
  * fall back to `localCheckpoint()`, whose executor-local blocks have no
  * lineage to recover from — the documented single-box trade-off. At the
  * 10^12-doc design point, set a checkpoint dir.
  */
object ConnectedComponents {

  /** Star-round cap of the distributed loop: alignment components
    * converge in 2–4 rounds (class doc), O(log^2 n) in general. */
  private val MaxIter = 20

  /** Round lineage cut: reliable checkpoint when the session has a
    * checkpoint dir, executor-local otherwise (see class doc). The local
    * form is LAZY — the checksum that immediately follows every cut
    * materializes the blocks inside its own job, so each round costs ONE
    * job instead of two (driver job-scheduling latency is the serial
    * floor that Amdahl-caps small-corpus scaling; measured ~0.2-5 s per
    * job gap on this VM). The reliable form stays eager: a lazy reliable
    * checkpoint recomputes its lineage once more when writing the
    * checkpoint files, which costs more than the job it saves. */
  private def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(eager = false)

  private def largeStar(edges: DataFrame): DataFrame = {
    // symmetrize; per node u: m = min(N(u) ∪ {u}); emit (v, m) for v > u.
    // NO distinct here: the output feeds smallStar's window-min, which
    // streams duplicates harmlessly, and each input edge emits at most
    // one row so the round's row count stays ≤ 2|E| — dropping the
    // dedup saves one full shuffle per round (smallStar's closing
    // distinct re-bounds the edge set before the next round).
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
    val m = least(min(col("b")).over(Window.partitionBy(col("a"))), col("a"))
    sym.withColumn("m", m)
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
  }

  private def smallStar(edges: DataFrame): DataFrame = {
    // orient u > v; per u: m = min(N(u) ∪ {u}) = min(v); emit (v, m) ∀ v ≠ m
    // plus (u, m) — u > v ≥ m so u ≠ m always holds
    val oriented = edges.select(
      greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
    val withM = oriented.withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
    withM.filter(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .unionByName(withM.select(col("u").as("a"), col("m").as("b")))
      .distinct()
  }

  private def checksum(edges: DataFrame): (Long, Long) = {
    val r = edges.select(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** edges: DataFrame(a LONG, b LONG) undirected.
    * Returns DataFrame(node LONG, component LONG) where component is the
    * minimum node id reachable — for every node appearing in any edge. */
  def run(spark: SparkSession, edges0: DataFrame): DataFrame =
    graft.util.JobDesc.withJobDesc(spark, "graft: connected components") {
      runImpl(spark, edges0)
    }

  private def runImpl(spark: SparkSession, edges0: DataFrame): DataFrame = {
    var edges = cut(edges0.select(col("a").cast("long"), col("b").cast("long"))
      .filter(col("a") =!= col("b")).distinct())
    var prev = checksum(edges)
    var converged = false
    var it = 0
    while (!converged && it < MaxIter) {
      val next = cut(smallStar(largeStar(edges)))
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      edges = next
      it += 1
    }
    // at convergence every edge is (node > root, root = component min)
    val nodes = edges.select(col("a").as("node"), col("b").as("component"))
    val roots = edges.select(col("b").as("node")).distinct()
      .withColumn("component", col("node"))
    nodes.unionByName(roots).groupBy("node").agg(min("component").as("component"))
  }

  /** Incremental merge — the continuous-construction operating mode: a
    * COMMITTED assignment (node, component) plus a DELTA batch of new
    * edges, recomputing only the components the delta touches.
    *
    * At the 10^12-doc design point a full [[run]] re-shuffles the whole
    * edge set for every arriving batch; here the prior assignment is
    * scanned narrowly instead — `touchedComps` (≤ 2·|delta| rows) rides
    * BROADCAST joins, so untouched components stream through a
    * broadcast anti-join with no shuffle and no star rounds. Only the
    * touched components' members re-enter the large/small-star loop,
    * folded in as star edges (node → component), which preserve exactly
    * their connectivity.
    *
    * EXACT equivalence, labels included:
    * `incremental(run(E1), E2) == run(E1 ∪ E2)` — star edges keep each
    * prior component's node set intact, so the merged component's
    * min-id label is the min over the identical node set either way
    * (gated by OperatorSpec equality tests). Brand-new nodes appear in
    * the delta and are labeled by the same merge. The delta is assumed
    * small relative to the corpus (the continuous-ingest shape); a
    * delta comparable to the corpus should just re-[[run]].
    */
  def incremental(spark: SparkSession, priorAssign: DataFrame,
                  newEdges0: DataFrame, driverCap: Int = 2000000): DataFrame = {
    import spark.implicits._
    // [[maintain]] with the prior's star edges as its edge table and no
    // removals; above the driver cap its rebuild pays a distinct over
    // the star edges
    val starEdges = priorAssign.filter(col("node") =!= col("component"))
      .select(col("node").as("a"), col("component").as("b"))
    maintain(spark, priorAssign, starEdges, newEdges0,
      spark.emptyDataset[(Long, Long)].toDF("a", "b"), driverCap)
  }

  /** Min-label connected components of a small edge array — the driver
    * fast path of [[runAuto]]/[[maintain]]. Union-find with
    * union-by-min-id (the root IS the component label) + path
    * compression. Exact twin of [[run]]'s output on the same edges. */
  private[canon] def localCC(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    val nodes = scala.collection.mutable.LongMap.empty[Long]
    edges.foreach { case (a, b) => if (a != b) { nodes(a) = 0L; nodes(b) = 0L } }
    nodes.keys.iterator.map(n => (n, find(n))).toArray
  }

  /** Size-gated CC — [[run]]'s auto form: collect up to `driverCap`
    * edges (`limit` stops the scan early, so probing a 10^12-row edge
    * set costs one bounded job) and solve with a driver union-find —
    * ZERO distributed jobs per star round, which is the measured cost
    * of small inputs (the star loop's per-round shuffles are pure
    * driver scheduling latency on delta-sized data; ~13 jobs/run at
    * bench scale, the serial floor that Amdahl-caps small-rung N-vs-4N
    * scaling). Sets above `driverCap` fall back to the distributed
    * star loop — the 100-TB shape. Exact twin of [[run]] on the same
    * edges (equality-gated in OperatorSpec). */
  def runAuto(spark: SparkSession, edges: DataFrame, driverCap: Int = 2000000): DataFrame =
    graft.util.JobDesc.withJobDesc(spark, "graft: connected components") {
      runSmall(spark, edges, driverCap)
    }

  private def runSmall(spark: SparkSession, edges: DataFrame, driverCap: Int): DataFrame = {
    import spark.implicits._
    val normed = edges.select(col("a").cast("long"), col("b").cast("long"))
      .filter(col("a") =!= col("b"))
    val local = graft.util.BoundedCollect.limitCollect(
      normed.as[(Long, Long)], driverCap + 1)
    if (local.length > driverCap) run(spark, edges)
    else if (local.isEmpty) spark.emptyDataset[(Long, Long)].toDF("node", "component")
    else spark.createDataFrame(localCC(local).toSeq).toDF("node", "component")
  }

  private def norm(edges: DataFrame): DataFrame =
    edges.select(col("a").cast("long"), col("b").cast("long"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()

  /** Full maintenance — additions AND removals. A removed alignment edge
    * (a committed query whose rank-1 target changed under a grown corpus)
    * can SPLIT a component, which [[incremental]]'s addition-only merge
    * cannot express — so touched components are REBUILT from their
    * original edges: `edgesTable` is the committed accepted-edge set the
    * prior assignment was computed from (the continuous pipeline keeps it
    * as an append/tombstone table next to the assignment).
    *
    * Cost shape at the 10^12 design point: touched components and their
    * members are delta-sized (alignment components are near-pairs,
    * diameter ≤ 3); the committed edge table is scanned ONCE, filtered by
    * a semi-join against the touched-member set — no star rounds run over
    * untouched components, which stream through the same broadcast
    * anti-join as [[incremental]].
    *
    * Contract (gated by OperatorSpec): nodes never disappear —
    * `maintain(run(E), E, add, rem)` equals
    * `run((E ∖ rem) ∪ add)` plus `(n, n)` for every prior node left
    * edgeless by the removals. Edge identity is undirected: (a,b) and
    * (b,a) are the same edge on every input. */
  def maintain(spark: SparkSession, priorAssign: DataFrame, edgesTable: DataFrame,
               added0: DataFrame, removed0: DataFrame,
               driverCap: Int = 2000000): DataFrame =
    maintainDetailed(spark, priorAssign, edgesTable, added0, removed0, driverCap)._1

  /** [[maintain]] plus the CHANGE SET: (new assignment, the (node,
    * component) rows whose label differs from the prior assignment —
    * including brand-new nodes). The change set is what downstream
    * maintenance needs (relabel only the canonical triples touching a
    * changed node) and is bounded by the touched components' member
    * count, so the caller never diffs two corpus-sized assignments. */
  def maintainDetailed(spark: SparkSession, priorAssign: DataFrame, edgesTable: DataFrame,
                       added0: DataFrame, removed0: DataFrame,
                       driverCap: Int = 2000000): (DataFrame, DataFrame) = {
    import spark.implicits._
    val prior = priorAssign
      .select(col("node").cast("long"), col("component").cast("long"))
    // DRIVER FAST PATH — the continuous-ingest shape: added/removed and
    // the touched components' member sets are delta-sized (alignment
    // components are near-pairs), so the rebuild solves in a driver
    // union-find with THREE narrow jobs total (collect the diff, fetch
    // the touched members, fetch their committed edges) instead of the
    // distributed plan's ~8 join/broadcast subqueries — each driver job
    // costs whole seconds in this VM's degraded windows, and was the
    // measured bulk of small-delta maintenance wall. Falls back to the
    // distributed path when any collected set exceeds driverCap.
    // Exactness: both paths are gated by the same OperatorSpec maintain
    // equality laws (the spec runs the distributed path via driverCap=0).
    val rawDiff = (df: DataFrame, add: Boolean) => df
      .select(col("a").cast("long"), col("b").cast("long"), lit(add).as("add"))
      .filter(col("a") =!= col("b"))
    val diffArr = graft.util.BoundedCollect.limitCollect(
      rawDiff(added0, true).unionByName(rawDiff(removed0, false))
        .as[(Long, Long, Boolean)], driverCap + 1)
    if (diffArr.length <= driverCap && diffArr.length <= 100000) {
      // normalize + dedup driver-side (the distributed path's norm())
      val addedSet = diffArr.iterator.filter(_._3).map(t => normPair(t._1, t._2)).toSet
      val removedSet = diffArr.iterator.filterNot(_._3).map(t => normPair(t._1, t._2)).toSet
      val endpoints = (addedSet.iterator ++ removedSet.iterator)
        .flatMap(e => Iterator(e._1, e._2)).toSet
      val bcEndp = spark.sparkContext.broadcast(endpoints)
      val priorT = prior.as[(Long, Long)]
      // two narrow passes over the assignment: the touched components
      // are knowable only from the endpoints' rows, the member rows only
      // from the touched components
      val touchedComps = priorT.filter(r => bcEndp.value.contains(r._1))
        .map(_._2).collect().toSet
      val bcComps = spark.sparkContext.broadcast(touchedComps)
      val membersArr = graft.util.BoundedCollect.limitCollect(
        priorT.filter(r => bcComps.value.contains(r._2)), driverCap + 1)
      val memberNodes = membersArr.iterator.map(_._1).toSet
      val bcMembers = spark.sparkContext.broadcast(memberNodes)
      // no norm() here: its closing distinct() is an O(corpus) shuffle —
      // the member filter runs narrow and the dedup happens driver-side
      val committedArr = graft.util.BoundedCollect.limitCollect(
        edgesTable
          .select(col("a").cast("long"), col("b").cast("long"))
          .filter(col("a") =!= col("b")).as[(Long, Long)]
          .filter(e => bcMembers.value.contains(e._1) || bcMembers.value.contains(e._2)),
        driverCap + 1)
      if (membersArr.length <= driverCap && committedArr.length <= driverCap) {
        // committedArr is member-incident by construction; added edges are
        // endpoint-incident — together exactly the distributed semi-join set
        val rebuildEdges = (committedArr.iterator.map(e => normPair(e._1, e._2))
          .filterNot(removedSet) ++ addedSet.iterator)
          .toArray.distinct
        val rebuilt = localCC(rebuildEdges.filter { case (a, b) => a != b })
        val rebuiltNodes = rebuilt.iterator.map(_._1).toSet
        val isolated = membersArr.iterator.map(_._1)
          .filterNot(rebuiltNodes).distinct.map(n => (n, n)).toArray
        val priorLabel = membersArr.iterator.map(t => t._1 -> t._2).toMap
        val touchedRows = rebuilt ++ isolated
        val changed = touchedRows.filter { case (n, c) => !priorLabel.get(n).contains(c) }
        val keepPrior = priorT.filter(r => !bcComps.value.contains(r._2))
          .toDF("node", "component")
        val assignment = keepPrior.unionByName(
          spark.createDataset(touchedRows.toSeq).toDF("node", "component"))
        return (assignment, spark.createDataset(changed.toSeq).toDF("node", "component"))
      }
    }
    val committed = norm(edgesTable)
    val added = norm(added0)
    val removed = norm(removed0)
    val newEdges = committed.join(removed, Seq("a", "b"), "left_anti").unionByName(added)
    // delta endpoints — components owning any touch re-enter the rebuild
    val deltaNodes = added.unionByName(removed)
    val endpoints = deltaNodes.select(col("a").as("node"))
      .unionByName(deltaNodes.select(col("b").as("node"))).distinct()
    val touchedComps = broadcast(
      prior.join(broadcast(endpoints), "node").select("component").distinct())
    // touched members + brand-new nodes; closure ⇒ every edge with one
    // endpoint here has BOTH endpoints here, so one semi-join suffices
    val members = prior.join(touchedComps, "component").select("node")
      .unionByName(endpoints).distinct()
    val rebuildEdges = newEdges.join(broadcast(members),
      newEdges("a") === members("node"), "left_semi")
    val rebuilt = runSmall(spark, rebuildEdges, driverCap)
    // PRIOR members left edgeless by removals still exist — as singletons
    // (endpoints seen only in no-op removals never existed and stay out;
    // added endpoints always carry their added edge into the rebuild)
    val isolated = prior.join(touchedComps, "component").select("node")
      .join(rebuilt.select(col("node")), Seq("node"), "left_anti")
      .withColumn("component", col("node"))
    val assignment = prior.join(touchedComps, Seq("component"), "left_anti")
      .select(col("node"), col("component"))
      .unionByName(rebuilt).unionByName(isolated)
    // only rebuilt/isolated rows can differ from prior; new nodes have
    // no prior row (left join null) and always count as changed
    val touchedRows = rebuilt.unionByName(isolated)
    val changed = touchedRows
      .join(prior.withColumnRenamed("component", "prior_component"), Seq("node"), "left")
      .filter(col("prior_component").isNull || col("prior_component") =!= col("component"))
      .select(col("node"), col("component"))
    (assignment, changed)
  }

  @inline private def normPair(a: Long, b: Long): (Long, Long) =
    if (a <= b) (a, b) else (b, a)
}
