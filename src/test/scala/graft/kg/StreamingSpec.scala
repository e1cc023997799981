package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Structured Streaming: the streaming triple path must produce exactly
  * the batch pipeline's triples; windowed aggregation with watermark
  * completes on a bounded source. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming triples == batch triples on the same pages") {
    val dir = Files.createTempDirectory("pages").toString
    PagesGen.pages(spark, 80L).write.mode("overwrite").parquet(dir)

    val stream = StreamingPipeline.streamTriples(
      spark, StreamingPipeline.readPages(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("stream_triples").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("stream_triples")
      .select("url", "pred", "obj").as[(String, String, String)].collect().toSet
    val batch = Pipeline.extractTriples(spark,
      Pipeline.extractClean(spark, PagesGen.pages(spark, 80L), 4))
      .map(t => (t.url, t.pred, t.obj)).collect().toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("watermarked windowed aggregation produces entity counts") {
    val dir = Files.createTempDirectory("pages2").toString
    PagesGen.pages(spark, 50L).write.mode("overwrite").parquet(dir)
    val agg = StreamingPipeline.entityMentionsWindowed(
      spark, StreamingPipeline.readPages(spark, dir))
    val q = agg.writeStream
      .format("memory").queryName("stream_agg").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("stream_agg").collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[String]("entity") == "cnn"), "hot entity must appear")
  }

  test("streaming dedup drops duplicate texts with bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ts = new java.sql.Timestamp(1767225600000L)
    def page(url: String, text: String) = Schema.Page(url, ts, null, text, "en")
    val in = MemoryStream[Schema.Page]
    val q = StreamingPipeline.streamDedup(spark, in.toDS(), "1 hour")
      .writeStream.format("memory").queryName("stream_dedup").outputMode("append").start()
    in.addData(page("u1", "same text"), page("u2", "same text"), page("u3", "other text"))
    q.processAllAvailable()
    // a later micro-batch duplicate within the watermark is also dropped
    in.addData(page("u4", "same text"))
    q.processAllAvailable(); q.stop()
    val urls = spark.table("stream_dedup").select("url").as[String].collect().sorted
    assert(urls.length == 2, urls.mkString(","))
    assert(urls.contains("u3"))
  }

  test("deterministic hash sampling composes with streams: stream == batch") {
    // hashSample is a stateless narrow pass whose membership depends only
    // on the id hash, so streaming it over micro-batches MUST select
    // exactly the rows the batch plan selects — the property that lets a
    // curation pipeline run identically in backfill and live ingest
    val dir = Files.createTempDirectory("docs_stream").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.mode("overwrite").parquet(dir)
    val rates = Seq("en" -> 10000, "de" -> 2500)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = graft.ops.Curation.hashSample(stream, "doc_id", "lang", rates, 500)
      .writeStream.format("memory").queryName("stream_sample")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("stream_sample").select("doc_id").as[Long].collect().toSet
    val batch = graft.ops.Curation.hashSample(
      spark.read.parquet(dir), "doc_id", "lang", rates, 500)
      .select("doc_id").as[Long].collect().toSet
    assert(got == batch, "stream sample must equal batch sample")
    assert(got.nonEmpty)
  }

  test("streaming MV refresh: micro-batch folds converge to the full recompute") {
    import org.apache.spark.sql.functions._
    // the driver-contract query itself: 4 event micro-batches folded
    // through Cdc.refreshSummary into versioned on-disk summaries
    val got = graft.queries.StreamingQueries.queries("st_mv_refresh")(
      spark, "/root/testdata/sf0.001")
    val full = graft.ops.Cdc.aggregateSummary(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
          (col("event_id") % 97).as("m1"), expr("nullif(user_id % 5, 0)").as("m2")),
      Seq("event_type", "hour"), Seq("m1", "m2"))
    assert(got.collect().toSet == full.collect().toSet)
    assert(got.count() > 0)
  }

  test("flatMapGroupsWithState carries entity totals across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ts = new java.sql.Timestamp(1767225600000L)
    // two SGD mentions per page (count >= 2 gate) -> weight 2 per page
    val text = "the Stochastic Gradient Descent (SGD) step and the SGD baseline."
    def page(url: String) = Schema.Page(url, ts, null, text, "en")
    val in = MemoryStream[Schema.Page]
    val updates = StreamingPipeline.entityRunningTotals(spark, in.toDS(), hotThreshold = 3L)
    val q = updates.writeStream
      .format("memory").queryName("stream_totals").outputMode("append").start()
    in.addData(page("u1")); q.processAllAvailable()
    in.addData(page("u2")); q.processAllAvailable()
    q.stop()
    val sgd = spark.table("stream_totals")
      .where($"entity" === "sgd").orderBy($"total")
      .as[StreamingPipeline.EntityUpdate].collect()
    assert(sgd.length == 2, sgd.mkString(";"))
    assert(sgd(0).total == 2 && !sgd(0).crossed_hot, sgd.mkString(";"))
    assert(sgd(1).total == 4 && sgd(1).crossed_hot,
      "threshold crossing must fire exactly on the second batch: " + sgd.mkString(";"))
    assert(sgd(1).first_seen_ms == ts.getTime)
  }

  test("incremental streaming KG build: linking + canonicalization stream == batch") {
    val nDocs = 120L
    val dir = Files.createTempDirectory("pages_inc").toString
    // 4 files + maxFilesPerTrigger=1 → 4 real micro-batches, so the
    // re-canonicalize cadence (every 2) fires mid-stream and at the end
    PagesGen.pages(spark, nDocs).repartition(4).write.mode("overwrite").parquet(dir)
    val pages = spark.readStream.schema(StreamingPipeline.pageSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[Schema.Page]
    val work = Files.createTempDirectory("kginc").toString
    // plan gate: every CC-graph checkpoint write reads the linking
    // checkpoints from parquet, never a cached linking DAG
    val graphWrites = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val gate = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val plan = qe.optimizedPlan
        plan.collectFirst {
          case w: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
              if w.outputPath.toString.contains("/link_stage/graph_") => w.outputPath.toString
        }.foreach { out =>
          graphWrites.add((out, plan.exists(
            _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation])))
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(gate)
    try StreamingPipeline.runIncremental(spark, pages, work, recanonEvery = 2)
    finally spark.listenerManager.unregister(gate)

    val batchDir = Files.createTempDirectory("kgincb").toString
    val batchRes = Pipeline.run(spark, PagesGen.pages(spark, nDocs),
      Pipeline.Config(batchDir, nPartitions = 4))

    def proj(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.mkString("|")).toSet
    val streamNodes = spark.read.parquet(s"$work/nodes_stream")
    val streamEdges = spark.read.parquet(s"$work/edges_stream")
    // the STATEFUL half (linking + CC canonicalization), not just
    // extraction, must land exactly the batch pipeline's graph
    assert(proj(streamNodes, "canonical_name", "kind", "n_mentions", "n_urls")
      == proj(batchRes.nodes, "canonical_name", "kind", "n_mentions", "n_urls"))
    assert(proj(streamEdges, "src_url", "dst_name", "weight")
      == proj(batchRes.edges, "src_url", "dst_name", "weight"))
    // two cadence folds → ≥ 2 label versions
    val versions = new java.io.File(s"$work/cc_labels").listFiles()
      .filter(_.getName.startsWith("v")).map(_.getName).sorted
    assert(versions.length >= 2, versions.mkString(","))
    // 2 folds (after batches 1 and 3; the last batch lands on the
    // cadence, so no drain fold runs): the second prunes cc_labels to
    // its own version and that version's base
    assert(versions.toSeq == Seq("v1", "v2"), versions.mkString(","))
    // per-batch lineage conserves rows: Σ lineage == triples landed
    val lineage = spark.read.parquet(s"$work/stream_lineage")
    assert(lineage.select("batch_id").distinct().count() == 4L)
    val lSum = lineage.agg(org.apache.spark.sql.functions.sum("rows")).head.getLong(0)
    val landed = spark.read.parquet(s"$work/triples_stream").count()
    assert(lSum == landed)
    // every fold is exact, and the last one covers every landed row
    val markers = versions.map(v => new String(Files.readAllBytes(
      new java.io.File(s"$work/cc_labels/$v/_covered_rows.txt").toPath), "UTF-8").trim)
    assert(markers.forall(_.endsWith(" exact")), markers.mkString(","))
    assert(markers.last == s"$landed exact", markers.mkString(","))
    // link_stage keeps one coverage, the landed one: each fold prunes the
    // linking tables of every other coverage once its outputs land
    val stages = new java.io.File(s"$work/link_stage").listFiles().map(_.getName)
    val coverages = stages.map(n => n.substring(n.lastIndexOf('_') + 1).toLong).toSet
    assert(coverages == Set(landed), stages.sorted.mkString(","))
    // listener delivery is asynchronous: wait for the first graph write
    val deadline = System.currentTimeMillis + 20000L
    while (graphWrites.isEmpty && System.currentTimeMillis < deadline) Thread.sleep(50)
    assert(!graphWrites.isEmpty, "no write under link_stage/graph_ was observed")
    graphWrites.forEach { case (out, cached) =>
      assert(!cached, s"$out: the CC graph write plans over an InMemoryRelation")
    }
  }

  test("incremental streaming KG build on a file: URI work dir: stream == batch") {
    val nDocs = 90L
    val dir = Files.createTempDirectory("pages_uri").toString
    // 3 micro-batches, folding every 2nd: the drain fold runs only if the
    // landed count read through the URI has moved past the fold's marker
    PagesGen.pages(spark, nDocs).repartition(3).write.mode("overwrite").parquet(dir)
    val pages = spark.readStream.schema(StreamingPipeline.pageSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[Schema.Page]
    // a URI, not a bare path: every fold bookkeeping site (landed count,
    // coverage marker, label versions, stage markers, link_stage prune)
    // must resolve it through the Hadoop FileSystem
    val work = new java.io.File(Files.createTempDirectory("kgincuri").toString).toURI.toString
    assert(work.startsWith("file:"))
    StreamingPipeline.runIncremental(spark, pages, work, recanonEvery = 2)

    val batchRes = Pipeline.run(spark, PagesGen.pages(spark, nDocs),
      Pipeline.Config(Files.createTempDirectory("kgincurib").toString, nPartitions = 2))
    def proj(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.mkString("|")).toSet
    assert(proj(spark.read.parquet(s"$work/nodes_stream"),
      "canonical_name", "kind", "n_mentions", "n_urls")
      == proj(batchRes.nodes, "canonical_name", "kind", "n_mentions", "n_urls"))
    assert(proj(spark.read.parquet(s"$work/edges_stream"), "src_url", "dst_name", "weight")
      == proj(batchRes.edges, "src_url", "dst_name", "weight"))
    // 2 folds (after batch 1, then the drain fold): the drain fold's
    // version and its base survive the prune on a URI root too
    val versions = new java.io.File(new java.net.URI(s"$work/cc_labels")).listFiles()
      .map(_.getName).filter(_.startsWith("v")).sorted
    assert(versions.toSeq == Seq("v1", "v2"), versions.mkString(","))
  }
}
