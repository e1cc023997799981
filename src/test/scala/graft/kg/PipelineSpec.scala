package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end KG pipeline tests: triple P/R vs a single-threaded oracle
  * (FIXTURES.md §4 — target 1.0, gate ≥0.95), determinism under
  * parallelism, checkpoint-resume idempotence, and linking behavior. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nDocs = 220L

  /** Single-threaded reference-emulator oracle: same pure functions, run
    * sequentially over the regenerated corpus. */
  private lazy val oracleTriples: Set[(String, String, String)] =
    (0L until nDocs).flatMap { id =>
      val raw =
        if (id % 50 == 49) {
          val html = "<html><body><p>" + PagesGen.docText(id) + "</p></body></html>"
          Py.strip(Py.collapseWs(html.replaceAll("<[^>]+>", " ")))
        } else PagesGen.docText(id)
      Pipeline.triplesForDoc(PagesGen.url(id), raw).map(t => (t.url, t.pred, t.obj))
    }.toSet

  private lazy val (workDir, result) = {
    val dir = Files.createTempDirectory("kgwork").toString
    (dir, Pipeline.run(spark, PagesGen.pages(spark, nDocs), Pipeline.Config(dir, nPartitions = 7)))
  }

  private def triplesAt(dir: String): Set[(String, String, String)] =
    spark.read.parquet(dir + "/triples")
      .select("url", "pred", "obj").as[(String, String, String)].collect().toSet

  test("distributed triples == oracle (P/R = 1.0)") {
    val got = triplesAt(workDir)
    val inter = got.intersect(oracleTriples).size.toDouble
    val p = inter / got.size
    val r = inter / oracleTriples.size
    assert(p >= 0.95 && r >= 0.95, s"P=$p R=$r")
    assert(p == 1.0 && r == 1.0, s"P=$p R=$r got=${got.size} oracle=${oracleTriples.size}")
  }

  test("ambiguous CNN stays TWO entities, both aliased 'cnn'") {
    val cnn = result.nodes.where(array_contains(col("aliases"), "cnn"))
      .collect().sortBy(_.getAs[String]("canonical_name"))
    assert(cnn.length == 2, s"CNN nodes: ${cnn.mkString(";")}")
    assert(cnn(0).getAs[String]("canonical_name") == "cable news network")
    assert(cnn(1).getAs[String]("canonical_name") == "convolutional neural network")
    assert(cnn(1).getAs[Long]("n_urls") >= nDocs / 5, "hot entity spans ≥20% of urls")
    assert(cnn(0).getAs[Long]("n_urls") >= nDocs / 10 - 1, "media docs present")
  }

  test("MinHash-LSH name blocking merges plural variant, never the CNN expansions") {
    val keys = Seq("convolutional neural network", "convolutional neural networks",
      "cable news network", "recurrent neural network", "graph attention network",
      "generative adversarial network", "stochastic gradient descent").toDF("entity_key")
    val edges = EntityLinking.nameSimilarityEdges(keys)
      .as[(String, String)].collect().toSet
    assert(edges == Set(("convolutional neural network", "convolutional neural networks")),
      s"unexpected name-sim edges: $edges")
  }

  test("context-similarity linking resolves CNN mentions per url") {
    val e = result.edges
    assert(e.count() > 0)
    assert(e.where(col("weight") <= 0).count() == 0)
    // media docs without any convolutional mention must link cnn → cable
    val mediaUrls = (0L until nDocs).filter(_ % 10 == 3)
      .filterNot(id => PagesGen.docText(id).contains("Convolutional"))
      .map(PagesGen.url)
    assert(mediaUrls.nonEmpty)
    val mediaEdges = e.where(col("src_url").isin(mediaUrls: _*))
      .where(col("dst_name") === "cable news network").count()
    assert(mediaEdges == mediaUrls.size, s"$mediaEdges of ${mediaUrls.size}")
    // hot ML docs without cable mentions link cnn → convolutional
    val mlUrls = (0L until nDocs).filter(_ % 5 == 0)
      .filterNot(id => PagesGen.docText(id).contains("Cable"))
      .map(PagesGen.url)
    val mlEdges = e.where(col("src_url").isin(mlUrls: _*))
      .where(col("dst_name") === "convolutional neural network").count()
    assert(mlEdges == mlUrls.size, s"$mlEdges of ${mlUrls.size}")
  }

  test("resolve leaks no cache on the ambiguous or the early-return path") {
    import Schema.{LinkedMention, Triple}
    // run both outputs (so every persist materializes), then drop resolve's
    // handles: the session must hold exactly the caches it held before
    def linkedRows(triples: org.apache.spark.sql.Dataset[Triple]): Set[LinkedMention] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val resolved = EntityLinking.resolve(spark, triples)
      resolved.aliasEdges.collect()
      val rows = resolved.linked.collect().toSet
      resolved.unpersistCached()
      assert(spark.sparkContext.getPersistentRDDs.keySet == before)
      assert(resolved.cached.forall(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
      rows
    }
    // PagesGen pages carry CNN with two expansions
    assert(linkedRows(Pipeline.triplesFromPages(spark, PagesGen.pages(spark, 60L)))
      .exists(_.entity_key == "cable news network"))
    // one expansion per acronym: the early return, every mention keeps
    // its own Py.lower key (non-ASCII included)
    val triples = Seq(
      Triple("u1", "mentionsEntity", "SGD", "acronym", "SGD", "ctx", 2),
      Triple("u1", "mentionsEntity", "Stochastic Gradient Descent", "concept",
        "Stochastic Gradient Descent", "ctx", 1),
      Triple("u2", "mentionsEntity", "İstanbul Élan", "concept", "İstanbul Élan", "ctx", 3),
      Triple("u2", "hasKeyword", "gradient", "keyword", "gradient", "", 1)).toDS()
    assert(linkedRows(triples) == triples.collect().filter(_.pred == "mentionsEntity")
      .map(t => LinkedMention(t.url, t.pred, Py.lower(t.obj), t.surface, t.kind, t.weight))
      .toSet)
  }

  test("inParallel waits for every job before it rethrows, the others' failures suppressed") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](Pipeline.inParallel(Seq(
      () => throw new IllegalStateException("first"),
      () => { Thread.sleep(300); done.set(true) })))
    assert(e.getMessage == "first")
    assert(done.get, "inParallel rethrew while a sibling job was still running")
    val both = intercept[IllegalStateException](Pipeline.inParallel(Seq(
      () => throw new IllegalStateException("a"),
      () => { Thread.sleep(100); throw new IllegalArgumentException("b") })))
    assert(both.getSuppressed.map(_.getMessage).toSeq == Seq("b"))
  }

  test("a build whose nodes write fails leaves the session's caches as it found them") {
    val before = (spark.sparkContext.getPersistentRDDs.keySet,
      org.apache.spark.sql.TestShim.cachedRelations(spark))
    val work = LedgerTestFs.root(spark, "kgnodesfail")
    intercept[Exception](LedgerTestFs.failingUnder("nodes")(
      Pipeline.run(spark, PagesGen.pages(spark, 60L), Pipeline.Config(work, nPartitions = 4))))
    assert((spark.sparkContext.getPersistentRDDs.keySet,
      org.apache.spark.sql.TestShim.cachedRelations(spark)) == before)
  }

  test("reversed-text docs flow through (detector fires in-pipeline)") {
    val u = PagesGen.url(99L)
    val got = spark.read.parquet(workDir + "/triples").where(col("url") === u).count()
    assert(got > 0)
  }

  test("html-extraction rows (null text) produce triples") {
    val u = PagesGen.url(49L)
    assert(spark.read.parquet(workDir + "/triples").where(col("url") === u).count() > 0)
  }

  test("results identical under different partitioning") {
    val dir2 = Files.createTempDirectory("kgwork2").toString
    val r2 = Pipeline.run(spark, PagesGen.pages(spark, nDocs), Pipeline.Config(dir2, nPartitions = 3))
    assert(triplesAt(dir2) == triplesAt(workDir))
    val n1 = result.nodes.select("canonical_name", "n_mentions", "n_urls")
      .as[(String, Long, Long)].collect().toSet
    val n2 = r2.nodes.select("canonical_name", "n_mentions", "n_urls")
      .as[(String, Long, Long)].collect().toSet
    assert(n1 == n2)
  }

  test("resume skips completed stages and is idempotent") {
    val dir = Files.createTempDirectory("kgresume").toString
    val cfg = Pipeline.Config(dir, nPartitions = 4)
    val nodes1 = Pipeline.run(spark, PagesGen.pages(spark, 60L), cfg)
      .nodes.orderBy("entity_id").collect().toSeq.map(_.toString)
    // drop only the final stages; rerun must reuse upstream checkpoints
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    rmrf(new java.io.File(dir + "/nodes"))
    rmrf(new java.io.File(dir + "/edges"))
    // the rerun's writes, as a listener sees them: delivery is in order,
    // so once metrics_partition (the run's last write) arrives, all have
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.optimizedPlan.collectFirst {
          case w: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
            w.outputPath.toString
        }.foreach(writes.add)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    def wrote(stage: String) = writes.toArray.exists(_.toString.endsWith(s"/$stage"))
    spark.listenerManager.register(listener)
    val nodes2 = try {
      val r = Pipeline.run(spark, PagesGen.pages(spark, 60L), cfg)
        .nodes.orderBy("entity_id").collect().toSeq.map(_.toString)
      val deadline = System.currentTimeMillis + 30000L
      while (!wrote("metrics_partition") && System.currentTimeMillis < deadline) Thread.sleep(50)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(nodes1 == nodes2)
    assert(wrote("metrics_partition") && wrote("nodes") && wrote("edges"), writes.toString)
    // the link stage reused its complete checkpoints
    assert(!wrote("linked_mentions") && !wrote("alias_edges"), writes.toString)
  }

  test("bucketed-layout build: identical results, exchange-free per-url consumption") {
    val dir = Files.createTempDirectory("kgbkt").toString
    val stages = Seq("extract_clean", "triples", "linked_mentions", "nodes", "edges")
    def drop(): Unit = stages.foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS ${Pipeline.stageTable(dir, s)}"))
    drop()
    try {
      // the REAL build path running ON the url-bucketed layout — not a
      // standalone BucketedTableIO demo
      val r2 = Pipeline.run(spark, PagesGen.pages(spark, nDocs),
        Pipeline.Config(dir, nPartitions = 7, buckets = 8))
      def proj(df: org.apache.spark.sql.DataFrame, cols: String*) =
        df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSet
      // layout must not change results: same nodes and edges as the
      // plain-parquet run over the same corpus
      assert(proj(r2.nodes, "canonical_name", "kind", "n_mentions", "n_urls")
        == proj(result.nodes, "canonical_name", "kind", "n_mentions", "n_urls"))
      assert(proj(r2.edges, "src_url", "dst_name", "weight")
        == proj(result.edges, "src_url", "dst_name", "weight"))
      // the layout the build ran on is the one consumers inherit: a
      // per-url aggregation and a url join across two BUILD tables plan
      // zero exchanges once broadcast is off (the 100-TB case)
      val oldBc = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val linked = spark.table(Pipeline.stageTable(dir, "linked_mentions"))
        val triples = spark.table(Pipeline.stageTable(dir, "triples"))
        val agg = linked.groupBy("url").agg(count(lit(1)).as("n"))
        assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
          s"per-url agg over the build's bucketed table must not shuffle:\n${agg.queryExecution.executedPlan}")
        val j = triples.select(col("url"), col("pred"))
          .join(linked.select(col("url"), col("entity_key")), "url")
        assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
          s"co-bucketed url join between build tables must not shuffle:\n${j.queryExecution.executedPlan}")
      } finally {
        oldBc match {
          case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
          case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        }
      }
    } finally drop()
  }
}
