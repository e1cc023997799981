package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Layout.materialize

/** Dev tool: at-scale evidence for the DISTRIBUTED connected-components
  * loop (the path a 10^12-page vocabulary would take). Forces
  * `driverSolveThreshold = 0` so the large-star/pointer-jump loop runs:
  *  1. on the REAL sf alias graph (Pipeline.ccEdges over the pipeline's
  *     own linked_mentions + alias_edges checkpoints), and
  *  2. on synthetic chain graphs of diameter 256 and 4096 — the
  *     worst-case depth — to show rounds grow O(log d), not O(d).
  * Results go into BENCH/BASELINE.md. Run:
  * `sbt "runMain graft.tools.CcBench [sfDir]"`. */
object CcBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Bench.newSession(cpus)
    import graft.kg.{ConnectedComponents, Pipeline}

    // real alias graph from the pipeline's own checkpoints
    val work = graft.queries.KgQueries.kgRun(spark, sfDir)
    val linked = spark.read.parquet(s"$work/linked_mentions")
    val aliases = spark.read.parquet(s"$work/alias_edges")
    // materialize inputs first so the timed region is CC alone
    val edges = materialize(Pipeline.ccEdges(linked, aliases))
    val nEdges = edges.count()
    var t0 = System.nanoTime()
    val (labels, rounds) = ConnectedComponents.runWithStats(
      spark, edges, driverSolveThreshold = 0L)
    val nVerts = labels.count()
    val nComps = labels.select(countDistinct(col("component"))).head.getLong(0)
    println(f"[ccbench] alias-graph($sfDir): edges=$nEdges verts=$nVerts comps=$nComps " +
      f"rounds=$rounds wall=${(System.nanoTime() - t0) / 1e9}%.2f s (cpus=$cpus)")

    // worst-case chains: rounds must track log2(d), not d
    for (d <- Seq(256, 4096)) {
      val chain = materialize(spark.range(d - 1)
        .select(col("id").as("src"), (col("id") + 1).as("dst")))
      t0 = System.nanoTime()
      val (lab, r) = ConnectedComponents.runWithStats(spark, chain, driverSolveThreshold = 0L)
      val ok = lab.where(col("component") =!= 0L).isEmpty
      println(f"[ccbench] chain(d=$d): rounds=$r log2(d)=${(math.log(d) / math.log(2)).toInt} " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s singleComponent=$ok")
    }

    // volume case: a 4M-vertex binary tree (4M-1 edges, depth 21) — the
    // distributed loop at millions of edges, the scale where the driver
    // fast path stops being an option
    val n = 1 << 22
    val tree = materialize(spark.range(1, n)
      .select(col("id").as("src"), (col("id") / 2).cast("long").as("dst"))
      .repartition(32))
    t0 = System.nanoTime()
    val (lab, r) = ConnectedComponents.runWithStats(spark, tree, driverSolveThreshold = 0L)
    val ok = lab.where(col("component") =!= 0L).isEmpty
    println(f"[ccbench] tree(n=$n edges=${n - 1}): rounds=$r " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s singleComponent=$ok")

    // INCREMENTAL case (the streaming canonicalizer's path). The
    // realistic history shape is the ALIAS GRAPH's: millions of SMALL
    // components (entity clusters), not one giant one — a delta edge
    // can only merge components holding its endpoints, so the
    // incremental fold re-solves just those. History: 1M disjoint
    // 4-vertex stars (3M edges). Delta: 1000 edges, each merging two
    // adjacent clusters → 2000 touched components, 8000 touched labels.
    // Wall must track the DELTA, not the 4M-label history.
    val m = 1000000
    val starsHist = materialize(spark.range(m.toLong)
      .select(explode(array(lit(1), lit(2), lit(3))).as("j"), (col("id") * 4).as("base"))
      .select(col("base").as("src"), (col("base") + col("j")).as("dst"))
      .repartition(32))
    t0 = System.nanoTime()
    val (labH, rH) = ConnectedComponents.runWithStats(spark, starsHist, driverSolveThreshold = 0L)
    val prevLabels = materialize(labH)
    println(f"[ccbench] clusters(1M comps, 3M edges) full solve: rounds=$rH " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s labels=${prevLabels.count()}")
    val delta = materialize(spark.range(1000L)
      .select((col("id") * 8).as("src"), (col("id") * 8 + 4).as("dst")))
    t0 = System.nanoTime()
    val (lab2, r2) = ConnectedComponents.incrementalWithStats(
      spark, prevLabels, delta, driverSolveThreshold = 0L)
    // materialize the full labeling (the fold itself) inside the timer;
    // the countDistinct audit below is a separate verification shuffle
    val lab2Ck = materialize(lab2)
    val foldWall = (System.nanoTime() - t0) / 1e9
    val nComps2 = lab2Ck.select(countDistinct(col("component"))).head.getLong(0)
    println(f"[ccbench] clusters+delta incremental: deltaEdges=1000 rounds=$r2 " +
      f"wall=$foldWall%.2f s comps=$nComps2 " +
      f"(expect ${m - 1000}; full-history solve above: rounds=$rH)")
    spark.stop()
  }
}
