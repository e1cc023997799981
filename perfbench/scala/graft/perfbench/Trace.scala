package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters attributed to one span (or one micro-batch of it). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleWrite, shuffleRead, spill = 0L
  var inBytes, inRecords, outBytes, outRecords = 0L
  var queries = 0L
  var planMs, planOps = 0.0
  /** stageId → task durations (ms): the skew signal. */
  val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: Counters): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes; outRecords += o.outRecords
    queries += o.queries; planMs += o.planMs; planOps += o.planOps
    for ((s, ts) <- o.taskMs) taskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts
    this
  }

  /** Task-time-weighted mean over stages of max/median task time — the
    * slowest task sets a stage's wall, so heavy stages weigh most. */
  def taskSkew: Double = {
    val per = taskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      (s.sum.toDouble, s.last.toDouble / med)
    }
    val w = per.map(_._1).sum
    if (w == 0) 0.0 else per.map { case (wi, k) => wi * k }.sum / w
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "input_bytes" -> inBytes, "input_records" -> inRecords,
    "output_bytes" -> outBytes, "output_records" -> outRecords,
    "queries" -> queries, "plan_ms" -> planMs, "plan_ops" -> planOps,
    "task_skew" -> taskSkew)
}

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * with sub-millisecond precision; `key` names the counters bucket. */
final class Span(val id: Int, val name: String, val parent: Int, val traceId: String,
    val startMs: Double, val key: String, val gcStartMs: Long) {
  var endMs: Double = Double.NaN
  var gcEndMs: Long = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def durS: Double = (endMs - startMs) / 1e3
  def gcS: Double = (gcEndMs - gcStartMs) / 1e3
}

/** In-memory span recorder for the traced run. Spark jobs are tagged
  * with the open span through two local properties (the job description
  * and `perfbench.span`), which Spark copies into every thread a layer
  * starts (Pipeline.inParallel pools, the stream execution thread);
  * micro-batch jobs are told apart by `streaming.sql.batchId`. A
  * `SparkListener` sums task metrics per tag, and a
  * `QueryExecutionListener` adds Catalyst phase times and physical plan
  * size per query to the innermost span open when its planning ended.
  * Disabled, `span` only runs its body: the timed runs carry no
  * listener. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0Nano = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val counters = mutable.HashMap.empty[String, Counters]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val pendingQe = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  @volatile private var lastEventNano = System.nanoTime()
  private var jobsStarted, jobsEnded = 0L

  private def nowMs: Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e6

  private def bucket(key: String): Counters = counters.getOrElseUpdate(key, new Counters)

  private object Plans extends AdaptiveSparkPlanHelper {
    def size(p: SparkPlan): Int = collect(p) { case n => n }.size
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      lastEventNano = System.nanoTime()
      jobsStarted += 1
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty("perfbench.span"))).getOrElse("none")
      val key = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(b => s"$span/batch/$b").getOrElse(span)
      bucket(key).jobs += 1
      e.stageIds.foreach(s => stageKey(s) = key)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      lastEventNano = System.nanoTime()
      jobsEnded += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      lastEventNano = System.nanoTime()
      bucket(stageKey.getOrElse(e.stageInfo.stageId, "none")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      lastEventNano = System.nanoTime()
      val c = bucket(stageKey.getOrElse(e.stageId, "none"))
      c.tasks += 1
      c.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inBytes += m.inputMetrics.bytesRead
        c.inRecords += m.inputMetrics.recordsRead
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val planMs = phases.map(_.durationMs).sum.toDouble
        val ops = scala.util.Try(Plans.size(qe.executedPlan)).getOrElse(0).toDouble
        Tracer.this.synchronized {
          lastEventNano = System.nanoTime()
          pendingQe += ((phases.map(_.endTimeMs).max.toDouble, planMs, ops))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val collector: Option[graft.ops.Metrics.Collector] =
    if (enabled) Some(new graft.ops.Metrics.Collector(spark)) else None

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())
  }

  /** Run `body` inside a span named `name` (a child of the open span). */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  def open(name: String): Span = synchronized {
    val parent = stack.headOption
    val id = spans.size
    val trace = parent match {
      case Some(p) if p.parent >= 0 => p.traceId
      case _ => s"t$id"
    }
    val s = new Span(id, name, parent.map(_.id).getOrElse(-1), trace, nowMs, id.toString, Tracer.gcMs())
    spans += s
    stack = s :: stack
    sc.setLocalProperty("perfbench.span", s.key)
    sc.setJobDescription(name)
    s
  }

  def close(s: Span): Unit = synchronized {
    s.endMs = nowMs
    s.gcEndMs = Tracer.gcMs()
    stack = stack.dropWhile(_ ne s).drop(1)
    stack.headOption match {
      case Some(p) =>
        sc.setLocalProperty("perfbench.span", p.key)
        sc.setJobDescription(p.name)
      case None =>
        sc.setLocalProperty("perfbench.span", null)
        sc.setJobDescription(null)
    }
  }

  /** A span for a stretch that already ran (a micro-batch reported by a
    * `StreamingQueryListener`), adopting that batch's counters. */
  def addFinished(name: String, parent: Span, startMs: Double, endMs: Double,
      batchId: Long): Span = synchronized {
    val s = new Span(spans.size, name, parent.id, parent.traceId, startMs,
      s"${parent.key}/batch/$batchId", 0L)
    s.endMs = endMs
    spans += s
    s
  }

  /** Wait until the listener bus has delivered every job and query event
    * (it drains asynchronously), then resolve queries to spans. */
  def drain(timeoutMs: Long = 20000L): Unit = if (enabled) {
    val deadline = System.currentTimeMillis + timeoutMs
    def quiet = synchronized {
      jobsEnded >= jobsStarted && System.nanoTime() - lastEventNano > 500L * 1000000L
    }
    while (!quiet && System.currentTimeMillis < deadline) Thread.sleep(100)
    synchronized {
      // a query belongs to the innermost span open when its planning
      // ended (the phase clocks are wall-clock milliseconds)
      for ((at, planMs, ops) <- pendingQe) {
        val open = spans.filter(s => s.startMs <= at && at <= s.endMs)
        val c = bucket(if (open.isEmpty) "none" else open.minBy(_.durS).key)
        c.queries += 1; c.planMs += planMs; c.planOps += ops
      }
      pendingQe.clear()
    }
  }

  def stop(): Unit = if (enabled) {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    collector.foreach(_.close())
  }

  def all: Seq[Span] = synchronized(spans.toSeq)
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)
  def descendants(s: Span): Seq[Span] = {
    val kids = children(s)
    kids ++ kids.flatMap(descendants)
  }
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Counters of this span alone (its own jobs, not its children's). */
  def own(s: Span): Counters = synchronized(new Counters().add(counters.getOrElse(s.key, new Counters)))
  /** Counters of this span and everything under it. */
  def inclusive(s: Span): Counters = {
    val c = own(s)
    descendants(s).foreach(d => c.add(own(d)))
    c
  }
  def inclusive(ss: Seq[Span]): Counters = ss.foldLeft(new Counters)((c, s) => c.add(inclusive(s)))

  /** Duration minus the part of it its children cover. */
  def selfS(s: Span): Double = {
    val iv = children(s).map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- iv) {
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    s.durS - covered / 1e3
  }

  def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  def observed: Map[String, String] =
    collector.map(_.snapshot().map { case (k, v) => k -> v.toString }).getOrElse(Map.empty)

  def spansJson: Seq[Map[String, Any]] = all.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "trace_id" -> s.traceId,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS, "self_s" -> selfS(s),
      "gc_s" -> s.gcS, "attrs" -> s.attrs.toMap, "counters" -> own(s).toMap)
  }
}

object Tracer {
  def off(spark: SparkSession): Tracer = new Tracer(spark, enabled = false)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}
