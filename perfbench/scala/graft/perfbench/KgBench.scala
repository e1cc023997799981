package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.{ConnectedComponents, EntityLinking, Pipeline}
import graft.kg.Schema.{LinkedMention, Page, Triple}

/** A check on the program's output failed: the operation counts as
  * failed, and its time is dropped. */
final class CheckFailed(msg: String) extends Exception(msg)

/** Everything one benchmark run measured, counted and checked. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val cpus: Int) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific figures under their own names, for the artifact. */
  val info = mutable.LinkedHashMap.empty[String, Any]

  /** One attempted operation: `None` when it threw or its check failed. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: ${e.getClass.getName}: ${e.getMessage}"
        None
    }
  }

  def correct: Boolean = attempted > 0 && failed == 0
}

object KgBench {

  /** Shared by the workloads: the session, the run record, the scratch
    * root and the clock the run started on. */
  final case class Ctx(spark: SparkSession, run: Run, work: String, startNano: Long) {
    def cpus: Int = run.cpus
    def seed: Long = run.seed
    def pages(dir: String): Dataset[Page] = {
      import spark.implicits._
      spark.read.parquet(dir).as[Page]
    }
    /** The build configuration `graft.Bench` uses for its KG build. */
    def config(dir: String): Pipeline.Config =
      Pipeline.Config(dir, nPartitions = cpus * 2, resume = false, writeMetrics = false)
    def sinceStart: Double = (System.nanoTime() - startNano) / 1e9
    /** A progress line on stderr (the run's log). */
    def log(msg: String): Unit = System.err.println(f"[perfbench +$sinceStart%.1fs] $msg")
  }

  /** JVM CPU and GC time over the measured window, for the artifact: a
    * window whose CPU time is normal but whose wall is long waited on the
    * host, not on the program. */
  final class Window(ctx: Ctx) {
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val (t0, cpu0, gc0) = (System.nanoTime(), os.getProcessCpuTime, Tracer.gcMs())
    def record(): Unit = ctx.run.info("window") = Map(
      "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "process_cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
      "gc_s" -> (Tracer.gcMs() - gc0) / 1e3)
  }

  def timed(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(q * s.size).toInt - 1))
    }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  def delete(dir: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  /** Untimed warm-up rounds before the measured window: the first
    * builds in a JVM pay class loading, codegen and JIT, which a timed
    * run must not carry. The counts are fixed, not "until steady", so
    * that set-up does the same work on every run; the walls go to the
    * artifact, where the residual drift shows. */
  def warmUp(ctx: Ctx, rounds: Int)(round: Int => Double): Seq[Double] =
    (0 until rounds).map { k =>
      val w = round(k)
      ctx.log(f"warm-up round ${k + 1}: $w%.2f s")
      w
    }

  /** The nodes table as sorted rows, in the shape the `st_kg_nodes`
    * contract compares (entity ids are hash-derived, so left out). */
  def nodeRows(spark: SparkSession, dir: String): Seq[String] =
    spark.read.parquet(dir)
      .select(col("canonical_name"), col("kind"), concat_ws("|", col("aliases")),
        col("n_mentions"), col("n_urls"))
      .collect().map(_.mkString("\u0001")).toSeq.sorted

  def contentHash(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  // ------------------------------------------------------------ layers
  /** Each KG layer's public function run alone, each in its own span, on
    * the checkpointed inputs of the traced build. The isolated
    * canonicalize must reproduce the build's shipped nodes. */
  def isolatedLayers(ctx: Ctx, tr: Tracer, pages: Dataset[Page], triplesDir: String,
      shippedNodesDir: String, scratch: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val run = ctx.run
    run.op("Pipeline.extractClean") {
      tr.span("Pipeline.extractClean") {
        Pipeline.extractClean(spark, pages, ctx.cpus * 2).write.parquet(s"$scratch/clean")
      }
    }
    run.op("Pipeline.triplesFromPages") {
      tr.span("Pipeline.triplesFromPages") {
        Pipeline.triplesFromPages(spark, pages).write.parquet(s"$scratch/triples")
      }
    }
    val triples = spark.read.parquet(triplesDir).drop("batch").as[Triple]
    run.op("EntityLinking.resolve") {
      tr.span("EntityLinking.resolve") {
        val r = EntityLinking.resolve(spark, triples)
        Pipeline.inParallel(Seq(
          () => r.aliasEdges.write.parquet(s"$scratch/alias"),
          () => r.linked.toDF().write.parquet(s"$scratch/linked")))
        r.unpersistCached()
      }
    }
    val linked = spark.read.parquet(s"$scratch/linked")
    val alias = spark.read.parquet(s"$scratch/alias")
    tr.named("EntityLinking.resolve").lastOption.foreach { s =>
      s.attrs("alias_edges") = alias.count().toDouble
      s.attrs("linked_rows") = linked.count().toDouble
    }
    run.op("ConnectedComponents.runWithStats") {
      val ccName = "Pipeline.ccEdges+ConnectedComponents.runWithStats"
      val (edges, rounds) = tr.span(ccName) {
        val graph = Pipeline.ccEdges(linked, alias).persist()
        val edges = graph.count()
        val (labels, rounds) = ConnectedComponents.runWithStats(spark, graph,
          driverSolveThreshold = ConnectedComponents.driverEdgeBudget())
        labels.count()
        graph.unpersist(false)
        (edges, rounds)
      }
      tr.named(ccName).lastOption.foreach { s =>
        s.attrs("edges") = edges.toDouble
        s.attrs("rounds") = rounds.toDouble
      }
    }
    run.op("Pipeline.canonicalize") {
      tr.span("Pipeline.canonicalize") {
        val c = Pipeline.canonicalize(spark, linked.as[LinkedMention], alias)
        Pipeline.inParallel(Seq(
          () => c.nodes.write.parquet(s"$scratch/nodes"),
          () => c.edges.write.parquet(s"$scratch/edges")))
        c.unpersistCached()
      }
      tr.named("Pipeline.canonicalize").lastOption.foreach { s =>
        s.attrs("nodes") = spark.read.parquet(s"$scratch/nodes").count().toDouble
        s.attrs("edges") = spark.read.parquet(s"$scratch/edges").count().toDouble
      }
      check(nodeRows(spark, s"$scratch/nodes") == nodeRows(spark, shippedNodesDir),
        "isolated canonicalize disagrees with the shipped nodes")
    }
  }

  /** Derive the per-layer metrics from the finished trace. `main` is the
    * span of the workload's own job; `untracedS` the same job's wall in
    * the untraced part of the run. Layers the workload does not drive
    * get no entry. */
  def layerMetrics(ctx: Ctx, tr: Tracer, main: Span, untracedS: Double,
      extra: Map[String, Double]): Unit = {
    val m = ctx.run.perLayer
    def spans(names: String*) = names.flatMap(tr.named)
    def attr(name: String, k: String) = tr.named(name).lastOption.flatMap(_.attrs.get(k)).getOrElse(0.0)

    val ex = spans("Pipeline.extractClean", "Pipeline.triplesFromPages")
    if (ex.nonEmpty) {
      val c = tr.inclusive(ex)
      m("extract.wall_s") = ex.map(_.durS).sum
      m("extract.cpu_s") = c.cpuNs / 1e9
      m("extract.docs") = tr.inclusive(spans("Pipeline.extractClean")).outRecords.toDouble
      m("extract.triples") = tr.inclusive(spans("Pipeline.triplesFromPages")).outRecords.toDouble
      m("extract.input_bytes") = c.inBytes.toDouble
      m("extract.task_skew") = c.taskSkew
    }
    val link = spans("EntityLinking.resolve")
    if (link.nonEmpty) {
      val c = tr.inclusive(link)
      m("link.wall_s") = link.map(_.durS).sum
      m("link.jobs") = c.jobs.toDouble
      m("link.plan_s") = c.planMs / 1e3
      m("link.shuffle_bytes") = c.shuffleWrite.toDouble
      m("link.alias_edges") = attr("EntityLinking.resolve", "alias_edges")
      m("link.linked_rows") = attr("EntityLinking.resolve", "linked_rows")
    }
    val ccName = "Pipeline.ccEdges+ConnectedComponents.runWithStats"
    val cc = spans(ccName)
    if (cc.nonEmpty) {
      m("cc.wall_s") = cc.map(_.durS).sum
      m("cc.edges") = attr(ccName, "edges")
      m("cc.rounds") = attr(ccName, "rounds")
    }
    val canon = spans("Pipeline.canonicalize")
    if (canon.nonEmpty) {
      val c = tr.inclusive(canon)
      m("canon.wall_s") = canon.map(_.durS).sum
      m("canon.shuffle_bytes") = c.shuffleWrite.toDouble
      m("canon.task_skew") = c.taskSkew
      m("canon.nodes") = attr("Pipeline.canonicalize", "nodes")
      m("canon.edges") = attr("Pipeline.canonicalize", "edges")
    }
    val all = tr.inclusive(main)
    m("io.write_bytes") = all.outBytes.toDouble
    m("io.read_bytes") = (all.inBytes + tr.inclusive(tr.named("reads")).inBytes).toDouble
    m("spark.jobs") = all.jobs.toDouble
    m("spark.tasks") = all.tasks.toDouble
    m("spark.shuffle_bytes") = all.shuffleWrite.toDouble
    m("spark.spill_bytes") = all.spill.toDouble
    m("spark.task_skew") = all.taskSkew
    m("spark.core_util") = all.runMs / 1e3 / (main.durS * ctx.cpus)
    m("spark.gc_s") = main.gcS
    m("jvm.peak_heap_mb") = tr.peakHeapMb
    m("trace.overhead") = main.durS / untracedS
    extra.foreach { case (k, v) => m(k) = v }
  }

  /** Close out a traced run: wait for the listener bus, derive the
    * per-layer metrics and keep the spans for the artifact. */
  def finishTrace(ctx: Ctx, tr: Tracer, root: Span, main: Span, untracedS: Double,
      extra: => Map[String, Double]): Unit = {
    tr.close(root)
    tr.drain()
    layerMetrics(ctx, tr, main, untracedS, extra)
    ctx.run.info("spans") = tr.spansJson
    ctx.run.info("observed") = tr.observed
    tr.stop()
  }

  // ------------------------------------------------------------- main
  val workloads: Map[String, Ctx => Unit] = Map(
    "batch_build" -> BatchBuild.apply,
    "stream_fold" -> StreamFold.apply)

  def main(args: Array[String]): Unit = {
    val startNano = System.nanoTime()
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val body = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val cpus = Runtime.getRuntime.availableProcessors
    val run = new Run(workload, opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1", cpus)
    val spark = graft.Bench.newSession(cpus)
    run.info("session_s") = (System.nanoTime() - startNano) / 1e9
    try body(Ctx(spark, run, opt("work"), startNano))
    catch {
      case NonFatal(e) =>
        run.attempted = math.max(run.attempted, run.failed + 1)
        run.failed += 1
        run.errors += s"run: ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally spark.stop()

    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> run.seed, "seconds" -> run.seconds,
      "trace" -> run.traced, "cpus" -> cpus, "correct" -> run.correct,
      "ops_attempted" -> run.attempted, "ops_failed" -> run.failed, "errors" -> run.errors,
      "end_to_end" -> run.endToEnd, "per_layer" -> run.perLayer)
    artifact ++= run.info
    Files.write(Paths.get(opt("artifact")), Json.render(artifact).getBytes("UTF-8"))
  }
}
