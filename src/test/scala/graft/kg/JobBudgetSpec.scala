package graft.kg

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The Spark job count of the KG build's two shapes, pinned: at this
  * corpus size a build is bound by job count, not rows, so a change that
  * adds jobs must show here. A ratchet — a change that lowers a count
  * lowers its pin; one that raises a count says why where it lands.
  * Each pin is the max over 3 runs, in case adaptive execution splits a
  * stage into more jobs on one run than another (3 runs read the same). */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Jobs `body` submits: the ids strictly between two marker jobs run
    * before and after it. A listener sees job starts in submission
    * order, so once the closing marker arrives the ids are final. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => starts.add((d, e.jobId)))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def idOf(name: String): Option[Int] = {
      val it = starts.iterator()
      var id = Option.empty[Int]
      while (it.hasNext) { val (d, j) = it.next(); if (d == name) id = Some(j) }
      id
    }
    sc.addSparkListener(listener)
    try {
      marker("job-budget-open")
      body
      marker("job-budget-close")
      val deadline = System.currentTimeMillis + 30000L
      while (idOf("job-budget-close").isEmpty && System.currentTimeMillis < deadline) Thread.sleep(20)
      idOf("job-budget-close").get - idOf("job-budget-open").get - 1
    } finally sc.removeSparkListener(listener)
  }

  test("runIncremental over 4 one-file batches folding every 2nd stays within its job budget") {
    val dir = Files.createTempDirectory("budget_pages").toString
    PagesGen.pages(spark, 200L).repartition(4).write.mode("overwrite").parquet(dir)
    val work = Files.createTempDirectory("budget_inc").toString
    val jobs = jobsOf {
      val pages = spark.readStream.schema(StreamingPipeline.pageSchema)
        .option("maxFilesPerTrigger", 1).parquet(dir).as[Schema.Page]
      StreamingPipeline.runIncremental(spark, pages, work, recanonEvery = 2)
    }
    info(s"runIncremental jobs: $jobs")
    assert(jobs <= 80, s"runIncremental ran $jobs jobs")
  }

  test("Pipeline.run over a fixed PagesGen window stays within its job budget") {
    val work = Files.createTempDirectory("budget_batch").toString
    val jobs = jobsOf(Pipeline.run(spark, PagesGen.pages(spark, 400L),
      Pipeline.Config(work, nPartitions = 4)))
    info(s"Pipeline.run jobs: $jobs")
    assert(jobs <= 40, s"Pipeline.run ran $jobs jobs")
  }
}
