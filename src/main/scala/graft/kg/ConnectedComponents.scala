package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Layout.materialize

/** DataFrame connected components — the canonicalization clustering step
  * (north_rule). GraphX is RDD-based; the north rule mandates typed
  * Dataset/Catalyst, so this is a pure DataFrame loop, following the
  * label-propagation + pointer-jumping scheme of large-star/small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14): each round (a) every vertex adopts the min label in its
  * direct neighborhood (one shuffle agg + join), then (b) labels chase
  * their own label (pointer jump — halves chain depth, giving O(log d)
  * rounds on diameter-d components). Materializing each round
  * ([[graft.ops.Layout.materialize]]) cuts lineage blowup; convergence
  * is an observed changed-label count.
  *
  * Input: edges (src: Long, dst: Long), undirected.
  * Output: (id: Long, component: Long) — component = min id reachable.
  */
object ConnectedComponents {

  /** Edge budget for the driver fast path derived from the ACTUAL driver
    * heap, not a constant. Bytes/edge is MEASURED, not estimated:
    * tools/CcBudget builds the exact collect-array + boxed union-find
    * HashMap this path allocates and reports 283.7 B/edge at 2M random
    * edges (56 B tuple array + 227 B map — a random graph adds ~2 boxed
    * entries per edge, the worst case; alias graphs that reuse vertices
    * cost less). Budget = 5% of max heap / 300 B (measurement rounded
    * up). Every entry point defaults `driverSolveThreshold` to it: under
    * it the graph is collected and solved by driver-side union-find, one
    * job instead of ~3 per CC round, with the same labels. A small
    * driver degrades to the distributed loop instead of OOMing, and a
    * big driver solves bigger alias graphs in one job. Never floored at
    * a constant — that would reintroduce exactly the small-driver OOM
    * this exists to prevent.
    *
    * The one collect is also bounded by the session's
    * `spark.driver.maxResultSize` (0 = unlimited): past it the job fails
    * instead of falling back to the distributed loop. A collected
    * (Long, Long) row measured ~19.7 B of serialized task result on
    * Spark 4.1 (16 MiB cap, 2 M edges: `limit(1000001)` passed,
    * `limit(1500001)` failed), so the cap allows cap / 24 B edges, 24 B
    * being the row's uncompressed UnsafeRow size. */
  def driverEdgeBudget(): Long =
    edgeBudget(Runtime.getRuntime.maxMemory,
      SparkSession.active.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g"),
      HeapFraction)
  private val HeapFraction = 0.05

  /** [[driverEdgeBudget]] for a heap of `maxHeap` bytes and a result cap
    * of `resultCap` bytes (0 = unlimited). */
  private[kg] def edgeBudget(maxHeap: Long, resultCap: Long, heapFraction: Double): Long = {
    val byHeap = (maxHeap * heapFraction / 300).toLong
    if (resultCap <= 0) byHeap else math.min(byHeap, resultCap / 24)
  }

  def run(spark: SparkSession, edges: DataFrame, maxIterations: Int = 25,
      driverSolveThreshold: Long = driverEdgeBudget()): DataFrame =
    runWithStats(spark, edges, maxIterations, driverSolveThreshold)._1

  /** Like `run`, but also returns the number of distributed rounds
    * executed (0 = the driver fast path solved it) — the at-scale
    * evidence hook: tools/CcBench forces the distributed loop and
    * records rounds + wall for BENCH/BASELINE.md.
    *
    * The `(src, dst)` projection of `edges` is persisted for the call
    * and released before it returns: the distributed branch reads it a
    * second time (the `sym` materialization, after the path-picking
    * collect), and callers' edge plans embed whole upstream passes
    * (name blocking, LSH pairs) that would otherwise replay. On the
    * driver path the cache is one in-memory write of a graph that is
    * under the driver budget by definition. Every returned table is
    * materialized, so none reads the released cache. */
  def runWithStats(spark: SparkSession, edges: DataFrame, maxIterations: Int = 25,
      driverSolveThreshold: Long = driverEdgeBudget()): (DataFrame, Int) = {
    val es = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try solve(spark, es, maxIterations, driverSolveThreshold)
    finally es.unpersist(false)
  }

  private def solve(spark: SparkSession, edges: DataFrame, maxIterations: Int,
      driverSolveThreshold: Long): (DataFrame, Int) = {
    import spark.implicits._

    // ONE collect both picks the path and feeds the driver solve: at most
    // budget + 1 edges come back, and more than budget means the graph is
    // over it (a budget past Int range is capped there: 2^31 edges are
    // ~600 GB of driver heap at the measured 283.7 B/edge)
    val budget = math.max(-1L, math.min(driverSolveThreshold, Int.MaxValue - 1L)).toInt
    val es = edges.as[(Long, Long)].limit(budget + 1).collect()
    if (es.length <= budget) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // skip self-loops: the distributed loop filters src =!= dst before
      // seeding labels, so a vertex appearing ONLY in self-loop edges is
      // not in its output — both paths must agree on the vertex set
      for ((a, b) <- es if a != b) {
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // min-id labels (union by min keeps roots minimal, but path state may
      // lag — normalize via a final find + min over members)
      val ids = parent.keys.toArray
      val comp = ids.map(i => i -> find(i)).toMap
      val minOf = comp.groupMapReduce(_._2)(_._1)(math.min)
      return (spark.createDataset(ids.toSeq.map(i => (i, minOf(comp(i)))))
        .toDF("id", "component"), 0)
    }

    val sym = materialize(edges
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .where($"src" =!= $"dst")
      .distinct())

    var labels = materialize(sym.select($"src".as("id")).union(sym.select($"dst".as("id")))
      .distinct()
      .withColumn("component", $"id"))

    var converged = labels.isEmpty
    var iter = 0
    while (!converged && iter < maxIterations) {
      // (a) adopt min label among direct neighbors; the pre-round label
      // rides along as `prev` so convergence is decided INSIDE this
      // round's job (an observe'd changed-count) instead of a separate
      // join + isEmpty pass per round — at 10^8-edge graphs that extra
      // pass per round is a full shuffle of the label table
      val nbrMin = sym
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy($"dst".as("id")).agg(min($"component").as("nbr_min"))
      val adopted = labels.withColumnRenamed("component", "prev")
        .join(nbrMin, Seq("id"), "left")
        .select($"id", $"prev",
          least($"prev", coalesce($"nbr_min", $"prev")).as("component"))

      // (b) pointer jump: component := label(component)
      val parents = adopted.select($"id".as("component"), $"component".as("parent"))
      val obs = org.apache.spark.sql.Observation()
      val jumped = materialize(adopted.join(parents, Seq("component"), "left")
        .select($"id", $"prev",
          least($"component", coalesce($"parent", $"component")).as("component"))
        .observe(obs, sum(when($"component" =!= $"prev", 1L).otherwise(0L)).as("changed"))
        .select($"id", $"component"))

      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = jumped
      iter += 1
    }
    (labels, iter)
  }

  /** INCREMENTAL connected components: fold new edges into an existing
    * labeling without re-walking history. A delta edge can only merge
    * components that contain one of its endpoints, so the loop runs
    * over ONLY the touched components' labels (entered as star edges —
    * member ↔ representative, diameter ≤ 2) plus the delta; every other
    * label passes through UNCHANGED, never shuffled. Cost therefore
    * tracks the delta: O(|Δ| + |touched labels|) rows and O(log d(Δ))
    * rounds — a streaming canonicalizer's periodic fold over a
    * 10^12-vertex history pays for the increment, not the past, and a
    * small enough touched set drops to the driver fast path outright
    * (tools/CcBench measures both the round and the wall collapse).
    * Semantics are monotone — merges are never undone — and the result
    * equals a full rebuild whenever the upstream edge derivation is
    * itself monotone (append-only alias discovery is; an LSH bucket cap
    * newly binding is the documented exception). Component ids stay
    * min-reachable-id: representatives are themselves min ids of their
    * prior partition, so seeding adds no new minima. It pays only when
    * `newEdges` is a true delta: fed a whole re-derived graph it does
    * strictly more work than [[run]] (the streaming fold therefore runs
    * [[run]] until it derives a delta edge set). */
  def incremental(spark: SparkSession, prevLabels: DataFrame, newEdges: DataFrame,
      maxIterations: Int = 25,
      driverSolveThreshold: Long = driverEdgeBudget()): DataFrame =
    incrementalWithStats(spark, prevLabels, newEdges, maxIterations,
      driverSolveThreshold)._1

  /** `incremental` + distributed-round count (0 = driver fast path). */
  def incrementalWithStats(spark: SparkSession, prevLabels: DataFrame,
      newEdges: DataFrame, maxIterations: Int = 25,
      driverSolveThreshold: Long = driverEdgeBudget()): (DataFrame, Int) = {
    val delta = newEdges.select(col("src"), col("dst"))
    val ends = delta.select(col("src").as("id"))
      .union(delta.select(col("dst").as("id"))).distinct()
    // components holding a delta endpoint — the only ones that can merge.
    // Both derived tables are delta-sized but cost one full label-table
    // scan each to compute — eagerly materialized so the loop's passes
    // and the caller's actions replay the TINY tables, not repeated
    // scans of a 10^12-row label history.
    val touchedComps = materialize(prevLabels.join(ends, Seq("id"))
      .select(col("component")).distinct())
    val stars = materialize(prevLabels.join(touchedComps, Seq("component"))
      .select(col("id").as("src"), col("component").as("dst")))
    val (relabeled, rounds) =
      runWithStats(spark, delta.union(stars), maxIterations, driverSolveThreshold)
    val untouched = prevLabels.join(touchedComps, Seq("component"), "left_anti")
    (relabeled.unionByName(untouched.select(col("id"), col("component"))), rounds)
  }
}
