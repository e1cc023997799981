package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: measured distributed evidence for the webgraph-lane
  * integer recurrences (Graph.pageRank / Graph.hits — the wt_host_rank
  * / wt_host_hits operators) at a scale the sf0.1 oracle corpus can't
  * exercise: a generated ~10^6-host graph with hub skew. The graph is
  * deterministic (xxhash64 of (src, k)): `outDeg` links per host, 20%
  * of them concentrated on 0.1% of hosts — the in-degree skew real
  * host graphs show, so the contribution aggregation sees genuinely
  * hot keys. Inputs are materialized before timing so the timed region
  * is the recurrence alone; the session's checkpoint dir is a tmpfs
  * dir, so every materialization is a reliable checkpoint, the
  * per-iteration shape a 10^12-edge deployment uses. Results go into
  * BENCH/BASELINE.md. Run:
  * `sbt "runMain graft.tools.WebBench [nHosts] [outDeg]"`. */
object WebBench {
  def main(args: Array[String]): Unit = {
    val nHosts = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val outDeg = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Bench.newSession(cpus)
    val base = java.nio.file.Paths.get(
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp")
    val ckpt = java.nio.file.Files.createTempDirectory(base, "wb").toString
    spark.sparkContext.setCheckpointDir(ckpt)

    val hot = math.max(nHosts / 1000L, 1L)
    val edges = graft.ops.Layout.materialize(spark.range(nHosts)
      .select(col("id").as("src"),
        explode(sequence(lit(0), lit(outDeg - 1))).as("k"))
      .select(col("src"),
        when(pmod(xxhash64(col("src"), col("k"), lit(1)), lit(5)) === 0,
          pmod(xxhash64(col("src"), col("k"), lit(2)), lit(hot)))
          .otherwise(pmod(xxhash64(col("src"), col("k"), lit(3)), lit(nHosts)))
          .as("dst"),
        lit(1L).as("w"))
      .where(col("src") =!= col("dst")))
    val nEdges = edges.count()

    def timed(name: String, iters: Int)(run: => Long): Unit = {
      val t0 = System.nanoTime()
      val nVerts = run
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[webbench] $name: hosts=$nHosts edges=$nEdges verts=$nVerts " +
        f"iters=$iters wall=$sec%.2f s " +
        f"edge_sweeps_per_sec=${nEdges.toDouble * iters / sec}%.0f (cpus=$cpus)")
    }
    timed("pagerank", 5)(graft.ops.Graph.pageRank(edges, "src", "dst", "w", 5).count())
    timed("hits", 3)(graft.ops.Graph.hits(edges, "src", "dst", "w", 3).count())
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }
}
