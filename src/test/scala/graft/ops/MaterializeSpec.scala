package graft.ops

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.{ConnectedComponents, TestSpark}

/** [[Layout.materialize]]'s two branches, through the operators that
  * loop over it. */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val graph = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L), ("c", "d", 3L),
    ("d", "e", 1L), ("e", "f", 1L), ("f", "d", 1L), ("f", "g", 2L)).toDF("s", "d", "w")

  /** 160 vectors around 8 planted centers (the OpsSpec IVF workload). */
  private lazy val vectors = {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(8)(Array.fill(16)(if (rnd.nextBoolean()) 1.0f else -1.0f))
    (0L until 160L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def regularFiles(dir: Path): Long = {
    val walk = Files.walk(dir)
    try walk.filter(Files.isRegularFile(_)).count() finally walk.close()
  }

  /** `op`'s rows with no checkpoint dir, and with the shared context's
    * checkpoint dir set to a fresh temp dir (the dir is unset again in
    * a `finally`, so later suites keep the local branch), plus the
    * number of files the second run left under the dir. */
  private def bothBranches(op: => DataFrame): (Set[String], Set[String], Long) = {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "a checkpoint dir leaked in from elsewhere")
    val local = op.collect().map(_.toString).toSet
    val dir = Files.createTempDirectory("materialize_ckpt")
    sc.setCheckpointDir(dir.toString)
    try {
      val reliable = op.collect().map(_.toString).toSet
      (local, reliable, regularFiles(dir))
    } finally {
      org.apache.spark.sql.TestShim.clearCheckpointDir(sc)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("with a checkpoint dir set, every looping operator checkpoints reliably and returns the same rows") {
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "pageRank" -> (() => Graph.pageRank(graph, "s", "d", "w", 5)),
      "hits" -> (() => Graph.hits(graph, "s", "d", "w", iters = 3)),
      "kCore" -> (() => Graph.kCore(graph, "s", "d", 2, 3)),
      "labelPropagation" -> (() => Graph.labelPropagation(graph, "s", "d", 3)),
      "bfsDistances" -> (() => Graph.bfsDistances(graph, "s", "d", "a", 3)),
      "ssspDistances" -> (() => Graph.ssspDistances(graph, "s", "d", "w", "a", 3)),
      "randomWalks" -> (() => Graph.randomWalks(graph, "s", "d",
        graph.select($"s".as("v")).distinct(), "v", 3, walksPerNode = 2)),
      "ivfTopK" -> (() => Similarity.ivfTopK(vectors, vectors.where($"vec_id" < 10),
        "vec_id", "embedding", 3, 8, 2)),
      "semanticNearDups" -> (() =>
        Similarity.semanticNearDups(vectors, "vec_id", "embedding", threshold = 0.9)),
      "bpeTrain" -> (() => TextAnalysis.bpeTrain(
        Seq("low lower lowest newer wider", "new newest lowly").toDF("text"), "text", 4)),
      "ConnectedComponents.run" -> (() => ConnectedComponents.run(spark,
        Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (7L, 7L)).toDF("src", "dst"),
        driverSolveThreshold = -1L)))
    for ((name, op) <- ops) {
      val (local, reliable, files) = bothBranches(op())
      assert(local.nonEmpty, s"$name returned no rows")
      assert(reliable == local, s"$name: reliable-checkpoint rows differ from local-checkpoint rows")
      assert(files > 0, s"$name wrote no checkpoint file under the checkpoint dir")
    }
  }

  test("the IVF model releases its corpus cache: semanticNearDups and ivfTopK leave the cache manager as they found it") {
    def cached = org.apache.spark.sql.TestShim.cachedRelations(spark)
    val before = cached
    assert(Similarity.semanticNearDups(vectors, "vec_id", "embedding", threshold = 0.9)
      .collect().nonEmpty)
    assert(cached == before, "semanticNearDups left a cached relation")
    assert(Similarity.ivfTopK(vectors, vectors.where($"vec_id" < 10),
      "vec_id", "embedding", 3, 8, 2).collect().nonEmpty)
    assert(cached == before, "ivfTopK left a cached relation")
  }
}
