package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Structured Streaming: the streaming triple path must produce exactly
  * the batch pipeline's triples, and the incremental KG fold exactly the
  * batch pipeline's nodes and edges. */
class StreamingSpec extends AnyFunSuite {
  import StreamingSpec.Observed
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Observe the queries `body` runs. Listener delivery is asynchronous
    * but in order: once `outputs` writes to `nodes_stream`/`edges_stream`
    * (a fold's last writes) have arrived, every earlier query has too. */
  private def observed(body: => Unit, outputs: Int): Observed = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    // the columns of each cached relation a physical plan scans
    def scans(p: SparkPlan): Seq[Seq[String]] = p.flatMap {
      case s: InMemoryTableScanExec => Seq(s.relation.output.map(_.name))
      case a: AdaptiveSparkPlanExec => scans(a.inputPlan)
      case _ => Nil
    }
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val caches = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Seq[Seq[String]])]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.optimizedPlan.foreach {
          case w: InsertIntoHadoopFsRelationCommand => writes.add(w.outputPath.toString)
          case r: InMemoryRelation =>
            caches.add((r.output.map(_.name), scans(r.cacheBuilder.cachedPlan)))
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def folded = writes.toArray.count(w => w.toString.matches(".*/(nodes|edges)_stream/?"))
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.currentTimeMillis + 30000L
      while (folded < outputs && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(folded == outputs, s"$folded of $outputs fold outputs observed")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    Observed(writes.asScala.toSeq, caches.asScala.toSeq)
  }

  /** The rows of `df`'s `cols`, each joined with `|`, as a set. */
  private def proj(df: org.apache.spark.sql.DataFrame, cols: String*): Set[String] =
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.mkString("|")).toSet

  test("streaming triples == batch triples on the same pages") {
    val dir = Files.createTempDirectory("pages").toString
    PagesGen.pages(spark, 80L).write.mode("overwrite").parquet(dir)

    val stream = Pipeline.triplesFromPages(
      spark, StreamingPipeline.readPages(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("stream_triples").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("stream_triples")
      .select("url", "pred", "obj").as[(String, String, String)].collect().toSet
    val batch = Pipeline.triplesFromPages(spark, PagesGen.pages(spark, 80L))
      .map(t => (t.url, t.pred, t.obj)).collect().toSet
    assert(got == batch)
    assert(got.nonEmpty)
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

  test("stream lanes land their batch equivalents: hourly rollups, exact and near dedup") {
    import org.apache.spark.sql.functions._
    import graft.queries.{DataOps, StreamingQueries}
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    def lane(name: String) = StreamingQueries.queries(name)(spark, dir)
    val hourly = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    val hourlyCols = Seq("hour", "event_type", "n", "sum_value")
    val hourlyRows = rows(hourly, hourlyCols: _*)
    assert(hourlyRows.nonEmpty)
    // update mode: each batch dir holds only the keys it changed; the
    // latest batch per key must converge to the batch GROUP BY
    assert(rows(lane("st_events_hourly_update"), hourlyCols: _*) == hourlyRows)
    assert(rows(lane("st_events_hourly"), hourlyCols: _*) == hourlyRows)
    val distinctText = spark.read.parquet(s"$dir/documents.parquet")
      .select(md5(coalesce(col("text"), lit(""))).as("text_md5")).distinct()
    assert(rows(lane("st_exact_dedup"), "text_md5") == rows(distinctText, "text_md5"))
    val pairs = rows(DataOps.queries("dd_minhash_pairs")(spark, dir), "id1", "id2", "jaccard")
    assert(pairs.nonEmpty)
    assert(rows(lane("st_delta_pairs"), "id1", "id2", "jaccard") == pairs)
    assert(spark.streams.active.isEmpty)
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
    val run = observed(StreamingPipeline.runIncremental(spark, pages, work, recanonEvery = 2),
      outputs = 4)
    // plan gate: the CC graph (src, dst) and the labeled mentions are
    // cached over the linking checkpoints' parquet reads, never over a
    // cached linking DAG. No cached plan the fold builds holds another
    // cached relation.
    assert(run.caches.exists(_._1 == Seq("src", "dst")), "no cached CC graph was observed")
    run.caches.foreach { case (cols, nested) =>
      assert(nested.isEmpty,
        s"the cache of (${cols.mkString(", ")}) plans over cached ${nested.mkString("; ")}")
    }

    val batchDir = Files.createTempDirectory("kgincb").toString
    val batchRes = Pipeline.run(spark, PagesGen.pages(spark, nDocs),
      Pipeline.Config(batchDir, nPartitions = 4))

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
    // 2 folds, each keyed by the batch it folds through (1 and 3; the
    // last batch lands on the cadence, so no drain fold runs): the second
    // prunes cc_labels to its own version and that version's base
    assert(versions.toSeq == Seq("v1", "v3"), versions.mkString(","))
    // per-batch lineage conserves rows: Σ lineage == triples landed
    val lineage = spark.read.parquet(s"$work/stream_lineage")
    assert(lineage.select("batch_id").distinct().count() == 4L)
    val lSum = lineage.agg(org.apache.spark.sql.functions.sum("rows")).head.getLong(0)
    val landed = spark.read.parquet(s"$work/triples_stream").count()
    assert(lSum == landed)
    // link_stage keeps the last fold's batch: each fold prunes the
    // linking tables of every older batch once it commits
    val stages = new java.io.File(s"$work/link_stage").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq
    assert(stages == Seq("alias_3", "linked_3"), stages.mkString(","))
    // a crash after the last fold's link stage: its labels version and
    // outputs are lost, its linking checkpoints complete. The restart
    // folds once, from those checkpoints, and ships the batch tables.
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    Seq(s"cc_labels/${versions.last}", "nodes_stream", "edges_stream")
      .foreach(d => rmrf(new java.io.File(s"$work/$d")))
    val rerun = observed(StreamingPipeline.runIncremental(spark, pages, work, recanonEvery = 2),
      outputs = 2)
    assert(rerun.writes.count(_.contains("/cc_labels/")) == 1, rerun.writes.mkString(","))
    assert(!rerun.writes.exists(_.contains("/link_stage/")), rerun.writes.mkString(","))
    assert(proj(spark.read.parquet(s"$work/nodes_stream"), "canonical_name", "kind", "n_mentions", "n_urls")
      == proj(batchRes.nodes, "canonical_name", "kind", "n_mentions", "n_urls"))
    assert(proj(spark.read.parquet(s"$work/edges_stream"), "src_url", "dst_name", "weight")
      == proj(batchRes.edges, "src_url", "dst_name", "weight"))
  }

  test("a micro-batch whose write fails releases its cache") {
    val dir = Files.createTempDirectory("pages_fail").toString
    PagesGen.pages(spark, 20L).write.mode("overwrite").parquet(dir)
    val work = Files.createTempDirectory("kgfail").toString
    // the lineage write fails: its root is a plain file
    Files.write(java.nio.file.Paths.get(work, "stream_lineage"), Array[Byte](1))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](StreamingPipeline.runIncremental(
      spark, StreamingPipeline.readPages(spark, dir), work, recanonEvery = 2))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    // the failed batch also stops its query: nothing is left running
    assert(spark.streams.active.isEmpty)
  }

  test("incremental streaming KG build on a file: URI work dir: stream == batch") {
    val nDocs = 90L
    val dir = Files.createTempDirectory("pages_uri").toString
    // 3 micro-batches, folding every 2nd: the drain fold runs only if the
    // latest landed batch read through the URI is past the latest fold
    PagesGen.pages(spark, nDocs).repartition(3).write.mode("overwrite").parquet(dir)
    val pages = spark.readStream.schema(StreamingPipeline.pageSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[Schema.Page]
    // a URI, not a bare path: every fold bookkeeping site (landed
    // batches, label versions, stage markers, link_stage prune) must
    // resolve it through the Hadoop FileSystem
    val work = new java.io.File(Files.createTempDirectory("kgincuri").toString).toURI.toString
    assert(work.startsWith("file:"))
    StreamingPipeline.runIncremental(spark, pages, work, recanonEvery = 2)

    val batchRes = Pipeline.run(spark, PagesGen.pages(spark, nDocs),
      Pipeline.Config(Files.createTempDirectory("kgincurib").toString, nPartitions = 2))
    assert(proj(spark.read.parquet(s"$work/nodes_stream"),
      "canonical_name", "kind", "n_mentions", "n_urls")
      == proj(batchRes.nodes, "canonical_name", "kind", "n_mentions", "n_urls"))
    assert(proj(spark.read.parquet(s"$work/edges_stream"), "src_url", "dst_name", "weight")
      == proj(batchRes.edges, "src_url", "dst_name", "weight"))
    // 2 folds (through batch 1, then the drain fold through batch 2): the
    // drain fold's version and its base survive the prune on a URI root too
    val versions = new java.io.File(new java.net.URI(s"$work/cc_labels")).listFiles()
      .map(_.getName).filter(_.startsWith("v")).sorted.toSeq
    assert(versions == Seq("v1", "v2"), versions.mkString(","))
  }

  test("a fold whose output write fails commits nothing: the restart folds again, to the batch tables") {
    val nDocs = 60L
    val dir = Files.createTempDirectory("pages_crash").toString
    PagesGen.pages(spark, nDocs).repartition(3).write.mode("overwrite").parquet(dir)
    val pages = spark.readStream.schema(StreamingPipeline.pageSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[Schema.Page]
    val work = LedgerTestFs.root(spark, "kgcrash")
    // no cadence folds: the one fold is the drain fold through batch 2,
    // and its edges_stream write fails after the link stage completed
    intercept[Exception](LedgerTestFs.failingUnder("edges_stream")(
      StreamingPipeline.runIncremental(spark, pages, work, recanonEvery = 0)))
    val labels = new graft.kg.io.Ledger(spark, s"$work/cc_labels", "v")
    assert(labels.list.isEmpty, labels.list.mkString(","))
    StreamingPipeline.runIncremental(spark, pages, work, recanonEvery = 0)
    assert(labels.list == Seq(2L), labels.list.mkString(","))

    val batchRes = Pipeline.run(spark, PagesGen.pages(spark, nDocs),
      Pipeline.Config(Files.createTempDirectory("kgcrashb").toString, nPartitions = 2))
    assert(proj(spark.read.parquet(s"$work/nodes_stream"),
      "canonical_name", "kind", "n_mentions", "n_urls")
      == proj(batchRes.nodes, "canonical_name", "kind", "n_mentions", "n_urls"))
    assert(proj(spark.read.parquet(s"$work/edges_stream"), "src_url", "dst_name", "weight")
      == proj(batchRes.edges, "src_url", "dst_name", "weight"))
  }
}

object StreamingSpec {
  /** What the queries of one run did: each write's output path, and
    * each cached relation's columns with the columns of every cached
    * relation its cached plan scans. */
  final case class Observed(writes: Seq[String], caches: Seq[(Seq[String], Seq[Seq[String]])])
}
