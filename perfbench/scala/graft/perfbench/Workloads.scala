package graft.perfbench

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.kg.{PagesGen, Pipeline, StreamingPipeline}
import graft.kg.Schema.{Page, Triple}
import graft.ops.Graph
import KgBench._

/** `batch_build`: `Pipeline.run` over one seeded corpus, large enough
  * that extraction (the RefText/RefAnalyzers kernels) is the largest
  * stage; the hot entity in 20% of docs loads canonicalize. The traced
  * run adds the read side over the KG it wrote. */
object BatchBuild {
  val Docs = 8000
  /** 100 docs hold every page kind (their id periods divide 100). */
  val WarmDocs = 100
  val BatchWarmRounds = 2
  val SampledDocs = 24

  def apply(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val run = ctx.run
    val base = Inputs.base(ctx.seed, 0)
    val files = 4 * ctx.cpus
    val pagesDir = s"${ctx.work}/pages"
    Inputs.write(spark, pagesDir, base, Docs, files)
    run.info("inputs") = Inputs.props(pagesDir, base, Docs)
    val inputBytes = Inputs.dirBytes(pagesDir).toDouble
    val pages = ctx.pages(pagesDir)

    val warmDir = s"${ctx.work}/warm_pages"
    Inputs.write(spark, warmDir, Inputs.base(ctx.seed, 1), WarmDocs, files)
    run.info("warmup_s") = warmUp(ctx, BatchWarmRounds) { k =>
      val d = s"${ctx.work}/warm_$k"
      val w = timed(Pipeline.run(spark, ctx.pages(warmDir), ctx.config(d)))
      delete(d)
      w
    }
    run.endToEnd("setup_s") = ctx.sinceStart

    // the html-only (id % 50 == 49) and reversed-text (id % 100 == 99)
    // paths are always in the sample
    val sample = ((0 until SampledDocs).map(k => base + Inputs.pick(ctx.seed, k, Docs)) ++
      Seq(base + 49, base + 99)).distinct
    var refHash: Option[String] = None
    def verify(dir: String): Unit = {
      val urls = sample.map(PagesGen.url)
      val actual = spark.read.parquet(s"$dir/triples").where(col("url").isin(urls: _*))
        .as[Triple].collect().toSeq
      val expected = sample.flatMap(id =>
        Pipeline.triplesForDoc(PagesGen.url(id), Pipeline.rawText(Inputs.page(id))))
      def counts(ts: Seq[Triple]) = ts.groupBy(identity).view.mapValues(_.size).toMap
      check(counts(actual) == counts(expected),
        s"triples of ${sample.size} sampled docs differ from triplesForDoc: " +
          s"${actual.size} rows vs ${expected.size} expected")
      val h = contentHash(nodeRows(spark, s"$dir/nodes"))
      check(refHash.forall(_ == h), s"nodes content hash $h differs from the first build's ${refHash.get}")
      refHash = Some(h)
    }

    val walls = mutable.ArrayBuffer.empty[Double]
    val stageMs = mutable.ArrayBuffer.empty[Map[String, Double]]
    var last: Option[String] = None
    val window = new Window(ctx)
    val t1 = System.nanoTime()
    var rep = 0
    while (rep < 1 || ((System.nanoTime() - t1) / 1e9 < run.seconds && rep < 10)) {
      last.foreach(delete)
      val dir = s"${ctx.work}/build_$rep"
      run.op("Pipeline.run") {
        var res: Pipeline.Result = null
        val w = timed { res = Pipeline.run(spark, pages, ctx.config(dir)) }
        verify(dir)
        stageMs += res.metrics.collect().collect {
          case Row(stage: String, -1L, ms: Long) => stage -> ms.toDouble
        }.toMap
        w
      }.foreach(walls += _)
      ctx.log(s"Pipeline.run rep $rep: ${walls.lastOption}")
      last = Some(dir)
      rep += 1
    }
    window.record()
    val p50 = median(walls.toSeq)
    run.endToEnd("job_p50_s") = p50
    run.endToEnd("work_per_s") = Docs / p50
    run.info("build_docs_per_s") = Docs / p50
    run.info("build_walls_s") = walls.toSeq
    run.info("stage_ms_p50") = stageMs.flatMap(_.keys).distinct
      .map(k => k -> median(stageMs.flatMap(_.get(k)).toSeq)).toMap
    val kgDir = last.get
    run.endToEnd("bytes_stored_per_input_byte") = Inputs.dirBytes(kgDir) / inputBytes

    if (run.traced) {
      val tr = new Tracer(spark, enabled = true)
      val root = tr.open("batch_build")
      val dir = s"${ctx.work}/traced"
      run.op("Pipeline.run (traced)") {
        tr.span("Pipeline.run")(Pipeline.run(spark, pages, ctx.config(dir)))
        verify(dir)
      }
      val main = tr.named("Pipeline.run").last
      isolatedLayers(ctx, tr, pages, s"$dir/triples", s"$dir/nodes", s"${ctx.work}/layers")
      val reads = new Reads.Kg(ctx, dir, "nodes", "edges", "triples", base, Docs)
      reads.traced(tr)
      finishTrace(ctx, tr, root, main, p50,
        reads.metrics(tr) ++ Map("io.write_files" -> Inputs.dataFiles(dir).toDouble))
    }
  }
}

/** `stream_fold`: `StreamingPipeline.runIncremental` over pages landed as
  * many small files, one micro-batch each, folding every second batch.
  * Each fold re-links its whole coverage prefix, so linking, connected
  * components and canonicalize carry the work; extraction is thin.
  * The traced run adds the read side over the tables the stream shipped. */
object StreamFold {
  val Docs = 400
  /** Four micro-batches: a first (exact) fold, a seeded fold over the
    * whole prefix, and the exact fold at drain that reuses its linking. */
  val Files = 4
  val RecanonEvery = 2

  final case class Batch(batchId: Long, durS: Double, startMs: Double, rows: Long) {
    def fold: Boolean = (batchId + 1) % RecanonEvery == 0
  }

  /** Micro-batch progress per query, as the stream reports it. */
  final class ProgressLog extends StreamingQueryListener {
    private val started = mutable.ArrayBuffer.empty[UUID]
    private val terminated = mutable.Set.empty[UUID]
    private val batches = mutable.ArrayBuffer.empty[(UUID, Batch)]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      synchronized(started += e.id)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      batches += (p.id -> Batch(p.batchId, p.batchDuration / 1e3,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, p.numInputRows))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized(terminated += e.id)

    /** The batches of the query started last, once it has terminated. */
    def lastQuery(timeoutMs: Long = 20000L): Seq[Batch] = {
      val deadline = System.currentTimeMillis + timeoutMs
      def done = synchronized(started.nonEmpty && terminated(started.last))
      while (!done && System.currentTimeMillis < deadline) Thread.sleep(20)
      synchronized {
        check(done, "stream progress did not arrive")
        batches.collect { case (id, b) if id == started.last => b }.sortBy(_.batchId).toSeq
      }
    }
  }

  def apply(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val run = ctx.run
    val log = new ProgressLog
    spark.streams.addListener(log)
    val base = Inputs.base(ctx.seed, 0)
    val pagesDir = s"${ctx.work}/pages"
    Inputs.write(spark, pagesDir, base, Docs, Files)
    run.info("inputs") = Inputs.props(pagesDir, base, Docs)
    val inputBytes = Inputs.dirBytes(pagesDir).toDouble

    def streamOnce(dir: String, work: String): (Double, Seq[Batch]) = {
      val pages = spark.readStream.schema(StreamingPipeline.pageSchema)
        .option("maxFilesPerTrigger", 1).parquet(dir).as[Page]
      val w = timed(StreamingPipeline.runIncremental(spark, pages, work,
        recanonEvery = RecanonEvery, extractParallelism = spark.sparkContext.defaultParallelism))
      (w, log.lastQuery())
    }

    // warm-up: the batch build of the same pages, which is also the
    // stream's reference output (the st_kg_nodes contract). It runs every
    // layer a fold runs; a warm-up stream as well would cost ~16 s a run
    // for ~10% of fold time, more than the run budget allows.
    run.info("warmup_s") = warmUp(ctx, 1) { _ =>
      timed(Pipeline.run(spark, ctx.pages(pagesDir), ctx.config(s"${ctx.work}/reference")))
    }
    val reference = nodeRows(spark, s"${ctx.work}/reference/nodes")
    run.endToEnd("setup_s") = ctx.sinceStart

    def verify(work: String): Unit =
      check(nodeRows(spark, s"$work/nodes_stream") == reference,
        "nodes_stream differs from the batch build's nodes of the same pages")

    val walls = mutable.ArrayBuffer.empty[Double]
    val batches = mutable.ArrayBuffer.empty[Batch]
    var last: Option[String] = None
    val window = new Window(ctx)
    val t1 = System.nanoTime()
    var rep = 0
    while (rep < 1 || ((System.nanoTime() - t1) / 1e9 < run.seconds && rep < 4)) {
      last.foreach(delete)
      val work = s"${ctx.work}/stream_$rep"
      run.op("StreamingPipeline.runIncremental") {
        val (w, bs) = streamOnce(pagesDir, work)
        verify(work)
        (w, bs)
      }.foreach { case (w, bs) => walls += w; batches ++= bs }
      ctx.log(s"runIncremental rep $rep: ${walls.lastOption}; batches ${batches.map(_.durS)}")
      last = Some(work)
      rep += 1
    }
    window.record()
    val folds = batches.filter(_.fold).map(_.durS).toSeq
    val p50 = median(walls.toSeq)
    run.endToEnd("job_p50_s") = median(folds)
    run.endToEnd("work_per_s") = Docs / p50
    run.info("stream_docs_per_s") = Docs / p50
    run.info("stream_fold_p50_s") = median(folds)
    run.info("stream_fold_samples") = folds.size
    run.info("stream_walls_s") = walls.toSeq
    run.info("batch_s") = batches.map(_.durS).toSeq
    val kgDir = last.get
    run.endToEnd("bytes_stored_per_input_byte") = Inputs.dirBytes(kgDir) / inputBytes

    if (run.traced) {
      val tr = new Tracer(spark, enabled = true)
      val root = tr.open("stream_fold")
      val work = s"${ctx.work}/traced"
      var traced = Seq.empty[Batch]
      run.op("StreamingPipeline.runIncremental (traced)") {
        traced = tr.span("StreamingPipeline.runIncremental")(streamOnce(pagesDir, work))._2
        verify(work)
      }
      val main = tr.named("StreamingPipeline.runIncremental").last
      traced.foreach { b =>
        val s = tr.addFinished("micro_batch", main, b.startMs, b.startMs + b.durS * 1e3, b.batchId)
        s.attrs ++= Seq("batch_id" -> b.batchId.toDouble, "rows" -> b.rows.toDouble,
          "fold" -> (if (b.fold) 1.0 else 0.0))
      }
      isolatedLayers(ctx, tr, ctx.pages(pagesDir), s"$work/triples_stream",
        s"$work/nodes_stream", s"${ctx.work}/layers")
      val reads = new Reads.Kg(ctx, work, "nodes_stream", "edges_stream", "triples_stream", base, Docs)
      reads.traced(tr)
      finishTrace(ctx, tr, root, main, p50, reads.metrics(tr) ++ {
        val landed = spark.read.parquet(s"$work/triples_stream").count().toDouble
        val linkStage = new java.io.File(s"$work/link_stage")
        // link_stage/linked_<n> holds one fold's linking of n landed rows
        val relinked = Option(linkStage.listFiles()).toSeq.flatten.map(_.getName)
          .collect { case n if n.startsWith("linked_") => n.stripPrefix("linked_").toDouble }.sum
        val versions = Option(new java.io.File(s"$work/cc_labels").listFiles()).toSeq.flatten
          .count(f => new java.io.File(f, "_SUCCESS").isFile)
        Map("stream.batches" -> traced.size.toDouble,
          "stream.batch_p50_s" -> median(traced.map(_.durS)),
          "stream.folds" -> versions.toDouble,
          "stream.relinked_rows_per_row" -> relinked / landed,
          "stream.link_stage_bytes" -> Inputs.dirBytes(linkStage.toString).toDouble,
          "io.write_files" -> Inputs.dataFiles(work).toDouble)
      })
    }
    spark.streams.removeListener(log)
  }
}

/** The read side over a KG a workload just wrote, run in traced runs:
  * one client in a closed loop sends seeded point lookups through
  * `kg.io.ParquetTableIO` (an entity by canonical name, a url's edges, a
  * url's triples), then one pass of an `ops.Graph` mix. Extraction and
  * linking are not called; fixed per-query cost (planning, job launch,
  * footer reads) and per-iteration materialization dominate. Every
  * answer is checked against rows computed on the driver from the
  * collected tables. */
object Reads {
  val WarmLookups = 20
  val Lookups = 60

  final class Kg(ctx: Ctx, dir: String, nodesTable: String, edgesTable: String,
      triplesTable: String, base: Long, docs: Int) {
    private val spark = ctx.spark
    private val run = ctx.run
    private val io = new graft.kg.io.ParquetTableIO(dir)
    private val nodes = io.read(spark, nodesTable)
    private val edges = io.read(spark, edgesTable)
    private val triples = io.read(spark, triplesTable)

    private val names = nodes.select(col("canonical_name")).collect().map(_.getString(0)).distinct.sorted.toSeq
    check(names.nonEmpty, s"$nodesTable is empty")
    private def kind(i: Long) = (i % 3).toInt
    private def key(i: Long): String =
      if (kind(i) == 0) names(Inputs.pick(ctx.seed, i, names.size))
      else PagesGen.url(base + Inputs.pick(ctx.seed, i, docs))
    /** Answers for every lookup a run can send, from one collect per table. */
    private def index(df: DataFrame, column: String, k: Int): Map[String, Seq[String]] = {
      val keys = (0L until (WarmLookups + Lookups).toLong).filter(kind(_) == k).map(key).distinct
      df.where(col(column).isin(keys: _*)).collect()
        .groupBy(_.getAs[String](column)).map { case (v, rs) => v -> rs.map(_.toString).toSeq.sorted }
    }
    private val kinds = Seq(
      ("lookup.nodes_by_name", nodes, "canonical_name"),
      ("lookup.edges_by_url", edges, "src_url"),
      ("lookup.triples_by_url", triples, "url")).zipWithIndex.map { case ((n, t, c), k) =>
        (n, t, c, index(t, c, k)) }
    private var next = 0L

    /** The next seeded lookup, timed in ms; `None` if it failed. */
    def lookup(tr: Tracer): Option[Double] = {
      val i = next
      next += 1
      val (name, table, column, expected) = kinds(kind(i))
      val k = key(i)
      run.op(name) {
        var rows = Seq.empty[String]
        val ms = timed { rows = tr.span(name)(table.where(col(column) === k).collect().map(_.toString).toSeq) } * 1e3
        tr.named(name).lastOption.foreach(_.attrs("rows") = rows.size.toDouble)
        val want = expected.getOrElse(k, Nil)
        check(rows.sorted == want, s"$name($k) returned ${rows.size} rows, expected ${want.size}")
        ms
      }
    }

    // driver-side answers for the graph mix
    private val edgeRows = edges.select(col("src_url"), col("dst_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    private val source = PagesGen.url(base + Inputs.pick(ctx.seed, -1L, docs))
    private val (coreK, coreRounds) = (3, 3)
    private lazy val bfsExpected: Map[String, Long] = {
      val adj = (edgeRows.map { case (u, e) => u -> s"e:$e" } ++ edgeRows.map { case (u, e) => s"e:$e" -> u })
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
      var dist = Map(source -> 0L)
      var frontier = Seq(source)
      for (h <- 1 to 3) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil)).distinct.filterNot(dist.contains)
        dist ++= frontier.map(_ -> h.toLong)
      }
      dist
    }
    private lazy val kCoreExpected: Map[Long, Long] = {
      val und = edgeRows.groupBy(_._1).values.flatMap { rs =>
        val ids = rs.map(_._2).distinct.sorted
        for (i <- ids; j <- ids if i < j) yield (i, j)
      }.toSet.toSeq
      def degrees(es: Seq[(Long, Long)]) =
        es.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
      var live = degrees(und)
      for (_ <- 1 to coreRounds)
        live = degrees(und.filter { case (a, b) => live.contains(a) && live.contains(b) }).filter(_._2 >= coreK)
      live
    }
    private var firstPass: Option[(String, String)] = None

    /** One pass of the graph mix over the url→entity edges and the
      * entity co-mention graph; `None` if a call failed or disagreed. */
    def graphPass(tr: Tracer): Option[Double] = run.op("ops.Graph mix") {
      val t0 = System.nanoTime()
      val g = edges.select(col("src_url").as("s"), concat(lit("e:"), col("dst_id").cast("string")).as("d"),
        col("weight").as("w"))
      val co = edges.as("a").join(edges.as("b"),
          col("a.src_url") === col("b.src_url") && col("a.dst_id") < col("b.dst_id"))
        .select(col("a.dst_id").as("s"), col("b.dst_id").as("d")).distinct()
      val pr = tr.span("Graph.pageRank")(Graph.pageRank(g, "s", "d", "w", iters = 5).collect())
      val bfs = tr.span("Graph.bfsDistances")(Graph.bfsDistances(g, "s", "d", source, 3).collect())
      val core = tr.span("Graph.kCore")(Graph.kCore(co, "s", "d", coreK, coreRounds).collect())
      val lpa = tr.span("Graph.labelPropagation")(Graph.labelPropagation(co, "s", "d", 3).collect())
      val wall = (System.nanoTime() - t0) / 1e9
      check(bfs.map(r => r.getString(0) -> r.getLong(1)).toMap == bfsExpected,
        "bfsDistances differs from a driver-side BFS over the collected edges")
      check(core.map(r => r.getLong(0) -> r.getLong(1)).toMap == kCoreExpected,
        "kCore differs from a driver-side peel over the collected edges")
      val digest = (contentHash(pr.map(_.toString).toSeq.sorted), contentHash(lpa.map(_.toString).toSeq.sorted))
      check(firstPass.forall(_ == digest), "pageRank or labelPropagation changed between passes")
      firstPass = Some(digest)
      wall
    }

    /** The traced read side: untraced warm-up lookups, then every lookup
      * and graph call in its own span under a `reads` span. The graph
      * pass is the first in the JVM, so its spans include plan codegen. */
    def traced(tr: Tracer): Unit = {
      val off = Tracer.off(spark)
      for (_ <- 0 until WarmLookups) lookup(off)
      tr.span("reads") {
        for (_ <- 0 until Lookups) lookup(tr)
        graphPass(tr)
      }
    }

    /** The lookup.* and graph.* metrics of a drained trace. */
    def metrics(tr: Tracer): Map[String, Double] = {
      val ls = kinds.flatMap(k => tr.named(k._1))
      val ms = ls.map(_.durS * 1e3)
      run.info("lookup_p50_ms") = median(ms)
      run.info("lookup_p90_ms") = percentile(ms, 0.9)
      run.info("lookup_samples") = ms.size
      val own = ls.map(tr.own)
      val rows = ls.map(_.attrs.getOrElse("rows", 0.0)).sum
      def p50(name: String) = median(tr.named(name).map(_.durS))
      val graph = Seq("Graph.pageRank", "Graph.bfsDistances", "Graph.kCore", "Graph.labelPropagation")
        .flatMap(tr.named)
      val gc = tr.inclusive(graph)
      run.info("analytics_s") = graph.map(_.durS).sum
      Map("lookup.plan_ms" -> median(own.map(_.planMs)),
        "lookup.exec_ms" -> median(ls.zip(own).map { case (s, c) => s.durS * 1e3 - c.planMs }),
        "lookup.jobs" -> own.map(_.jobs).sum.toDouble / ls.size,
        "lookup.rows_scanned_per_row" -> own.map(_.inRecords).sum / math.max(rows, 1.0),
        "graph.pagerank_s" -> p50("Graph.pageRank"),
        "graph.bfs_s" -> p50("Graph.bfsDistances"),
        "graph.kcore_s" -> p50("Graph.kCore"),
        "graph.lpa_s" -> p50("Graph.labelPropagation"),
        "graph.pass_s" -> graph.map(_.durS).sum,
        "graph.jobs" -> gc.jobs.toDouble,
        "graph.plan_ops" -> gc.planOps)
    }
  }
}
