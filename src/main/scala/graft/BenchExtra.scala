package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Extra (non-contract) benchmark harness for the optimization round:
  * times arbitrary SparkEntry queries with EXACTLY Bench's methodology
  * (t0 before the query closure runs, `.count()` as the action — the
  * closure itself does the work for streaming/kg queries) so numbers are
  * comparable to BENCH_r*.json entries, without touching the frozen
  * Bench.scala. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     runMain graft.BenchExtra [reps=N] [explain=DIR] <query> [query...]
  * `explain=DIR` writes each query's .explain("formatted") to
  * DIR/<query>.txt (plan evidence for plans/r06/). `all` expands to the
  * full sorted sweep. A warm-up rep 0 runs every query once before rep
  * 1, printed with `warmup_sec`, never `sec`. Before every timed rep
  * the kg pipeline cache is reset like Bench does between sweeps. One
  * JSON line per query and rep on stdout; a failed rep (rep 0 too)
  * prints `{"q":…,"rep":…,"error":…}` with no `sec` or `rows` (a
  * failure never reads as a timing) and the process exits non-zero.
  * Every streaming micro-batch prints one progress line on stderr. */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    var reps = 1
    var explainDir: Option[String] = None
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    args.foreach {
      case a if a.startsWith("reps=") => reps = a.stripPrefix("reps=").toInt
      case a if a.startsWith("explain=") => explainDir = Some(a.stripPrefix("explain="))
      case "all" => names ++= SparkEntry.queries.keys.toSeq.sorted
      case a => names += a
    }
    explainDir.foreach(d => new java.io.File(d).mkdirs())
    val spark = Bench.newSession(cpus)
    val sc = spark.sparkContext
    @volatile var current = ""
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val state = p.stateOperators.map(so =>
          s"(rows=${so.numRowsTotal},updated=${so.numRowsUpdated},commitMs=${so.commitTimeMs})")
        System.err.println(s"[benchextra] $current batch=${p.batchId} " +
          s"rows=${p.numInputRows} durationMs=${p.durationMs} state=${state.mkString(";")}")
      }
    })
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    var failed = 0
    for (r <- 0 to reps) {
      if (r > 0) {
        graft.queries.KgQueries.resetRunCache()
        spark.catalog.clearCache()
      }
      for (name <- names) {
        current = name
        sc.setJobDescription(s"bx:$name")
        val t0 = System.nanoTime()
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val rows = df.count()
          val sec = (System.nanoTime() - t0) / 1e9
          if (r == 1) explainDir.foreach { d =>
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$d/$name.txt"),
              plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          if (r == 0) println(f"""{"q":"$name","rep":0,"warmup_sec":$sec%.3f}""")
          else println(f"""{"q":"$name","rep":$r,"sec":$sec%.3f,"rows":$rows}""")
        } catch { case e: Throwable =>
          failed += 1
          val msg = json.writeValueAsString(Option(e.getMessage).getOrElse(e.toString))
          println(s"""{"q":"$name","rep":$r,"error":$msg}""")
        }
        sc.setJobDescription(null)
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
