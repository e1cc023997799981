package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import graft.kg.TestSpark
import scala.jdk.CollectionConverters._

/** Physical-plan quality gates (the 100-TB checklist): filters and
  * projections must reach the parquet scan, small dims must broadcast,
  * non-UDF paths must stay inside whole-stage codegen, and per-url stages
  * must not introduce extra shuffles. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.ExplainMode.fromString("formatted") match {
      case m => qe.explainString(m)
    }
  }

  test("filter and column pruning reach the parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .where($"l_quantity" > 30)
      .select($"l_orderkey", $"l_quantity")
    val f = formatted(df)
    assert(f.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), f)
    assert(f.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), f)
  }

  test("dynamic partition pruning fires on a date-partitioned fact scan") {
    // the 100-TB layout: facts partitioned by day, a selective dim join
    // must push a runtime partition filter into the fact scan instead of
    // reading every partition (Catalyst DPP — free once the table IS
    // partitioned, which is why TableIO's layouts matter)
    val tmp = java.nio.file.Files.createTempDirectory("dpp_events").toString
    spark.read.parquet(s"$dir/events.parquet")
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").mode("overwrite").parquet(tmp)
    val dimDir = java.nio.file.Files.createTempDirectory("dpp_dim").toString
    spark.read.parquet(s"$dir/events.parquet")
      .select(to_date(col("ts")).as("day")).distinct()
      .withColumn("flag", pmod(dayofmonth(col("day")), lit(7)))
      .write.mode("overwrite").parquet(dimDir)
    val fact = spark.read.parquet(tmp)
    // DPP requires a SELECTIVE predicate on the dim side (a bare
    // distinct/limit does not qualify) — the flag filter is the classic
    // star-schema shape
    val dim = spark.read.parquet(dimDir).where(col("flag") === 0)
    val p = plan(fact.join(dim.hint("broadcast"), "day").groupBy(col("day")).count())
    assert(p.contains("dynamicpruning"),
      s"the fact scan must carry a runtime partition filter:\n$p")
  }

  test("star-join aggregation uses broadcast hash joins, not shuffle joins") {
    val p = plan(SparkEntry.queries("q2_join_broadcast")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "small dims must not sort-merge:\n" + p)
  }

  test("aggregation is partial+final (map-side combine present)") {
    val p = plan(SparkEntry.queries("q1_agg")(spark, dir))
    assert(p.contains("HashAggregate"), p)
    // partial agg appears below the exchange: two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("global top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(SparkEntry.queries("q6_global_topk")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("non-UDF aggregation pipelines run inside whole-stage codegen") {
    // AQE only materializes WholeStageCodegen nodes in the final plan
    val df = SparkEntry.queries("q1_agg")(spark, dir)
    df.collect() // count() would wrap a new plan; collect executes THIS one
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("Final Plan"), p)
    // formatted mode marks whole-stage-codegen stages with `[codegen id : n]`
    assert(p.contains("[codegen id :"), p)
    assert(p.contains("* HashAggregate"), p)
  }

  test("input spreading: every spreading leaf holds exactly one round-robin exchange") {
    // one leaf per query family that spreads its (one-split) input
    for (q <- Seq("mm_embed", "a4_keywords", "kg_chunks")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert("RoundRobinPartitioning".r.findAllIn(p).size == 1,
        s"$q: expected one round-robin exchange:\n$p")
    }
  }

  test("input spreading has one home: no repartition(defaultParallelism) outside Layout.spread") {
    val copy = """repartition\((?:[^()]|\([^()]*\))*defaultParallelism""".r
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val found = try sources.iterator().asScala.toSeq finally sources.close()
    val offenders = found.filter(f => f.toString.endsWith(".scala") &&
        !f.endsWith(java.nio.file.Paths.get("graft/ops/Layout.scala")))
      .filter(f => copy.findFirstIn(java.nio.file.Files.readString(f)).isDefined)
    assert(found.exists(_.toString.endsWith("Layout.scala")), "src/main/scala not found")
    assert(offenders.isEmpty, s"spread the input with Layout.spread in: ${offenders.mkString(", ")}")
  }

  test("materialization has one home: no localCheckpoint( or checkpoint( call outside Layout.materialize") {
    val call = """\.(?:localC|c)heckpoint\(""".r
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val found = try sources.iterator().asScala.toSeq finally sources.close()
    val offenders = found.filter(f => f.toString.endsWith(".scala") &&
        !f.endsWith(java.nio.file.Paths.get("graft/ops/Layout.scala")))
      .flatMap(f => call.findAllIn(java.nio.file.Files.readString(f)).map(_ => f))
    assert(found.exists(_.toString.endsWith("Layout.scala")), "src/main/scala not found")
    assert(offenders.isEmpty, s"${offenders.size} calls; materialize with Layout.materialize " +
      s"in: ${offenders.distinct.mkString(", ")}")
  }

  test("bounded streams have one home: no .writeStream or Trigger.AvailableNow outside StreamingPipeline.drain") {
    val chain = """\.writeStream\b|Trigger\.AvailableNow\(""".r
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val found = try sources.iterator().asScala.toSeq finally sources.close()
    val runner = found.find(_.endsWith(java.nio.file.Paths.get("graft/kg/StreamingPipeline.scala")))
    assert(runner.isDefined, "src/main/scala not found")
    // drain's definition runs from its `def` to the first blank line
    val text = java.nio.file.Files.readString(runner.get)
    val start = text.indexOf("def drain(")
    assert(start >= 0, "StreamingPipeline.drain not found")
    val body = text.substring(start, text.indexOf("\n\n", start))
    assert(chain.findAllIn(body).size == 2, s"drain must start the stream itself:\n$body")
    val hits = found.filter(_.toString.endsWith(".scala"))
      .flatMap(f => chain.findAllIn(java.nio.file.Files.readString(f)).map(_ => f))
    assert(hits.size == 2, s"${hits.size - 2} chains outside drain; start a bounded " +
      s"stream with StreamingPipeline.drain in: ${hits.distinct.mkString(", ")}")
  }

  /** The files under `roots` (below src/main/scala/graft) holding a
    * match of `re` in code (comment lines skipped) outside the allowed
    * defs; `allowed` maps a file's path below graft/ to its def names,
    * and a def's text runs from `def <name>(` to its first blank line
    * or the end of the file. */
  private def matchesOutside(re: scala.util.matching.Regex, roots: Seq[String],
      allowed: Map[String, Seq[String]]): Seq[String] = {
    val graft = java.nio.file.Paths.get("src/main/scala/graft")
    val found = roots.flatMap { r =>
      val sources = java.nio.file.Files.walk(graft.resolve(r).normalize())
      try sources.iterator().asScala.toSeq finally sources.close()
    }
    for ((file, defs) <- allowed; d <- defs)
      assert(java.nio.file.Files.readString(graft.resolve(file)).contains(s"def $d("),
        s"$file: def $d not found")
    found.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val rel = graft.relativize(f).toString
      val text = allowed.getOrElse(rel, Nil).foldLeft(java.nio.file.Files.readString(f)) {
        (t, d) =>
          val start = t.indexOf(s"def $d(")
          val end = t.indexOf("\n\n", start)
          t.substring(0, start) + (if (end < 0) "" else t.substring(end))
      }
      val code = text.linesIterator.filterNot(l => Seq("*", "/*", "//").exists(l.trim.startsWith))
      code.flatMap(l => re.findAllIn(l)).map(_ => rel).toSeq
    }
  }

  test("the bucket gate has one home: no bucket_n outside Dedup.cappedBuckets and name blocking") {
    val hits = matchesOutside(""""bucket_n"""".r, Seq(""), Map(
      "ops/Dedup.scala" -> Seq("cappedBuckets"),
      "kg/EntityLinking.scala" -> Seq("nameSimilarityEdges")))
    assert(hits.isEmpty, s"gate the buckets with Dedup.cappedBuckets in: ${hits.distinct.mkString(", ")}")
  }

  test("the proxy key has one home: no xxhash64( in ops or queries outside Dedup.unitKey and Skew's salts") {
    val hits = matchesOutside("""xxhash64\(""".r, Seq("ops", "queries"), Map(
      "ops/Dedup.scala" -> Seq("unitKey"),
      "ops/Skew.scala" -> Seq("saltedJoin", "saltedSum")))
    assert(hits.isEmpty, s"key the units with Dedup.unitKey in: ${hits.distinct.mkString(", ")}")
  }

  test("fold state has one home: no getFileSystem in graft/kg outside graft/kg/io") {
    val kg = java.nio.file.Paths.get("src/main/scala/graft/kg")
    val io = kg.resolve("io")
    val sources = java.nio.file.Files.walk(kg)
    val found = try sources.iterator().asScala.toSeq finally sources.close()
    assert(found.exists(_.startsWith(io)), s"$io not found")
    val offenders = found.filter(f => f.toString.endsWith(".scala") && !f.startsWith(io))
      .filter(f => java.nio.file.Files.readString(f).contains("getFileSystem"))
    assert(offenders.isEmpty, s"keep file-system state in graft.kg.io (Ledger, TableIO), " +
      s"not in: ${offenders.mkString(", ")}")
  }

  test("dedup exact-groups plan has a single shuffle") {
    val df = graft.ops.Dedup.exactGroups(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    val exchanges = "Exchange".r.findAllIn(plan(df)).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n${plan(df)}")
  }

  test("canonicalize degrades to a non-broadcast join when broadcast is off") {
    // the canon/profile tables grow with the entity vocabulary: no FORCED
    // broadcast hints anywhere in canonicalize/linking, so with broadcast
    // disabled the join must degrade to SMJ/shuffled-hash — and produce
    // identical results (the 10^8-entity-vocabulary survival test)
    import graft.kg.{EntityLinking, PagesGen, Pipeline}
    val triples = Pipeline.triplesFromPages(spark, PagesGen.pages(spark, 60L))
    def edgesWith(conf: Map[String, String]): (String, Array[String]) = {
      val old = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val resolved = EntityLinking.resolve(spark, triples)
        val canonical = Pipeline.canonicalize(spark, resolved.linked, resolved.aliasEdges)
        val edges = canonical.edges
        val rows = edges.orderBy($"src_url", $"dst_name").collect()
          .map(r => r.mkString("|"))
        (plan(edges), rows)
      } finally {
        // the cache is keyed by logical plan and would leak the FIRST
        // run's physical plan (with its broadcast joins) into the second
        // run's explain; clearCache here is deliberate — this test owns
        // the session and resets ALL cached state between configs
        spark.catalog.clearCache()
        old.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    }
    val (_, withBroadcast) = edgesWith(Map.empty)
    val (noBcPlan, noBroadcast) = edgesWith(Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"))
    assert(!noBcPlan.contains("BroadcastHashJoin"),
      "a forced broadcast hint survived:\n" + noBcPlan)
    assert(withBroadcast.sameElements(noBroadcast),
      "results must not depend on the join strategy")
  }

  test("entity linking scans triples without context, pred pushed to the scan") {
    // every linking read of the (context-fat) triples checkpoint must
    // prune to the columns it uses and push its pred filter into parquet
    import graft.kg.{EntityLinking, PagesGen, Pipeline}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val tmp = java.nio.file.Files.createTempDirectory("link_scans").toString
    Pipeline.triplesFromPages(spark, PagesGen.pages(spark, 60L))
      .write.mode("overwrite").parquet(tmp)
    val triples = spark.read.parquet(tmp).as[graft.kg.Schema.Triple]
    // the scans under resolve's persisted tables and AQE stages included
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case o => o.children.flatMap(scans)
    }
    val resolved = EntityLinking.resolve(spark, triples)
    try {
      for ((name, df) <- Seq("linked" -> resolved.linked.toDF(),
          "aliasEdges" -> resolved.aliasEdges)) {
        val found = scans(df.queryExecution.executedPlan)
        assert(found.nonEmpty, s"$name: no parquet scan found:\n${plan(df)}")
        for (s <- found) {
          assert(!s.requiredSchema.fieldNames.contains("context"),
            s"$name reads context: ${s.metadata("ReadSchema")}")
          assert(s.metadata("PushedFilters").contains("EqualTo(pred,"),
            s"$name pushes no pred filter: ${s.metadata("PushedFilters")}")
        }
      }
    } finally resolved.unpersistCached()
  }

  test("resolve reads each triple pred at most once per query") {
    // one url pass: each output's plan reads the mentionsEntity and the
    // hasKeyword triples at most once. A cached relation's scan runs once
    // however often the plan reads the cache, so scans are counted by
    // identity.
    import graft.kg.{EntityLinking, PagesGen, Pipeline}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val tmp = java.nio.file.Files.createTempDirectory("link_reads").toString
    Pipeline.triplesFromPages(spark, PagesGen.pages(spark, 60L))
      .write.mode("overwrite").parquet(tmp)
    val triples = spark.read.parquet(tmp).as[graft.kg.Schema.Triple]
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case o => o.children.flatMap(scans)
    }
    val resolved = EntityLinking.resolve(spark, triples)
    try {
      for ((name, df) <- Seq("linked" -> resolved.linked.toDF(),
          "aliasEdges" -> resolved.aliasEdges)) {
        val found = scans(df.queryExecution.executedPlan)
          .filter(_.relation.location.rootPaths.exists(_.toString.contains(tmp)))
        val distinct = found.foldLeft(Seq.empty[FileSourceScanExec]) { (seen, s) =>
          if (seen.exists(_ eq s)) seen else seen :+ s
        }
        assert(distinct.nonEmpty, s"$name: no triples scan found:\n${plan(df)}")
        val pred = """EqualTo\(pred,([^)]+)\)""".r
        for ((p, reads) <- distinct.groupBy(s =>
            pred.findFirstMatchIn(s.metadata("PushedFilters")).map(_.group(1))))
          assert(reads.size <= 1, s"$name reads pred $p ${reads.size} times:\n${plan(df)}")
      }
    } finally resolved.unpersistCached()
  }

  test("per-url triple extraction is a purely narrow pass (zero shuffles)") {
    val pages = graft.kg.PagesGen.pages(spark, 10L)
    val triples = graft.kg.Pipeline.triplesFromPages(spark, pages)
    val exchanges = "Exchange".r.findAllIn(plan(triples.toDF())).size
    assert(exchanges == 0, s"extraction must not shuffle:\n${plan(triples.toDF())}")
  }

  test("LSH bucketing is a single narrow pass (zero shuffles)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.ops.Similarity.lshBands(emb, "vec_id", "embedding", 4, 8))
    assert("Exchange".r.findAllIn(p).size == 0, s"bucketing must not shuffle:\n$p")
  }

  test("BM25 scans the corpus exactly twice (stats pass + scoring pass)") {
    // two is the floor for one-shot BM25 from raw text: scoring needs the
    // global N/avgdl/df first (one scan would need a materialized token
    // table); the naive per-branch formulation scans 4x
    val p = plan(SparkEntry.queries("ir_bm25_topk")(spark, dir))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 2, s"expected 2 corpus scans, got $scans:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort:\n" + p)
  }

  test("int8 quantization is a single narrow pass (zero shuffles)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.ops.Similarity.quantizeInt8(emb, "vec_id", "embedding"))
    assert("Exchange".r.findAllIn(p).size == 0, s"quantization must not shuffle:\n$p")
  }

  test("IVF assignment never degenerates to a cartesian product") {
    // centroid tables are broadcast (nClusters rows); the only acceptable
    // nested-loop is the broadcast cross join against them
    val p = plan(SparkEntry.queries("sim_ivf_topk")(spark, dir))
    assert(!p.contains("CartesianProduct"), s"IVF went all-pairs:\n$p")
  }

  test("as-of join plans as union + window: one shuffle, zero join nodes") {
    val p = plan(SparkEntry.queries("q12_asof_join")(spark, dir))
    assert(!p.contains("Join"), s"as-of must not plan a join node:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected exactly the window's key shuffle:\n$p")
  }

  test("hash sampling is a narrow pass (zero shuffles)") {
    val p = plan(SparkEntry.queries("cu_hash_sample")(spark, dir))
    assert("Exchange".r.findAllIn(p).size == 0, s"sampling must not shuffle:\n$p")
  }

  test("per-group cap pushes a WindowGroupLimit below the sort") {
    // Spark's rank-limit pushdown keeps a bounded per-group heap instead
    // of fully sorting every group — the cap stays cheap on mega-domains
    val p = plan(SparkEntry.queries("cu_source_cap")(spark, dir))
    assert(p.contains("WindowGroupLimit"), s"rank filter did not push down:\n$p")
  }

  test("decontamination broadcasts the benchmark side") {
    val p = plan(SparkEntry.queries("cu_decontaminate")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must never shuffle-join:\n$p")
  }

  test("name-similarity blocking joins on buckets, never all-pairs") {
    val keys = Seq("convolutional neural network", "convolutional neural networks",
      "stochastic gradient descent", "graph attention network").toDF("entity_key")
    val p = plan(graft.kg.EntityLinking.nameSimilarityEdges(keys))
    assert(!p.contains("CartesianProduct"), s"blocking degenerated to all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"blocking degenerated to NL join:\n$p")
  }

  test("name-similarity blocking is one bucket pass: no join in its plan") {
    val keys = Seq("convolutional neural network", "convolutional neural networks",
      "stochastic gradient descent", "graph attention network").toDF("entity_key")
    val p = plan(graft.kg.EntityLinking.nameSimilarityEdges(keys))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"blocking must generate and verify pairs per bucket, not through joins:\n$p")
  }

  test("sequence packing shuffles once (the shard exchange) and never globally sorts") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.Packing.packSequences(docs, "doc_id", "text", 1024L, 8))
    assert("Exchange".r.findAllIn(p).size == 1,
      s"packing must shuffle exactly once, on shard:\n$p")
    // the sort under the window is per-shard (post-shuffle), which is the
    // point: no single-task global ordering of the corpus
    assert(!p.contains("Exchange SinglePartition"), s"packing went single-partition:\n$p")
  }

  test("minhash candidate pairs join on band buckets, never all-pairs") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(50)
    val sigs = graft.ops.Dedup.minhashShingles(docs, "doc_id", "text", 8, 8)
    val p = plan(graft.ops.Dedup.candidatePairs(
      graft.ops.Dedup.minhashBands(sigs, "doc_id", 4), "doc_id"))
    assert(!p.contains("CartesianProduct"), s"LSH degenerated to all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"LSH degenerated to NL join:\n$p")
  }

  test("retention scans events once; cohort size rides the matrix diagonal") {
    val p = plan(SparkEntry.queries("ev_retention")(spark, dir))
    // one user shuffle + one (cohort,week) shuffle + the calendar²-sized
    // window's — no join node, no second consumer of the events scan
    assert(!p.contains("Join"), s"cohort sizes must not join back:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"retention must be 2 aggregate shuffles + 1 tiny window shuffle:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"events must be scanned exactly once:\n$p")
  }

  test("warc round-trip is one shard shuffle over one corpus scan, no join") {
    val p = plan(SparkEntry.queries("src_warc_roundtrip")(spark, dir))
    assert(!p.contains("Join"), s"warc round-trip must not join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"writeFiles is ONE groupBy(shard) shuffle; readPages is narrow:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"documents must be scanned exactly once:\n$p")
  }

  test("warc http split keeps the 1-shuffle/1-scan/0-join ingest shape") {
    val p = plan(SparkEntry.queries("src_warc_http")(spark, dir))
    assert(!p.contains("Join") && "Exchange hashpartitioning".r.findAllIn(p).size == 1
      && "Scan parquet".r.findAllIn(p).size == 1, s"ingest shape broke:\n$p")
  }

  test("charset decode is a pure narrow pass: no exchange, no join") {
    val p = plan(SparkEntry.queries("src_charset_decode")(spark, dir))
    assert(!p.contains("Exchange"), s"charset decode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"charset decode must not join:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"one corpus scan:\n$p")
  }

  test("robots gate broadcast-joins the hosts-sized side; pages never shuffle") {
    val p = plan(SparkEntry.queries("wt_robots_filter")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"robots side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"),
      s"pages must not shuffle for the robots gate:\n$p")
  }

  test("fetch-round scheduling is one host shuffle, no join") {
    val p = plan(SparkEntry.queries("wt_fetch_rounds")(spark, dir))
    assert(!p.contains("Join"), s"scheduling must not join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"one host shuffle serves both windows:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"one corpus scan:\n$p")
  }

  test("containment pairs join postings on the shingle, never all-pairs docs") {
    val p = plan(SparkEntry.queries("dd_containment")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must stay a postings join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"hot-shingle prune must broadcast:\n$p")
  }

  test("delta candidate pairs semi-prune the corpus to delta-touched buckets") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").limit(50)
    val sigs = graft.ops.Dedup.minhashShingles(docs, "doc_id", "text", 8, 8)
    val p = plan(graft.ops.Dedup.deltaCandidatePairs(
      graft.ops.Dedup.minhashBands(sigs, "doc_id", 4),
      org.apache.spark.sql.functions.col("doc_id") % 5 === 0, "doc_id"))
    // the corpus side must pass a LeftSemi against the delta's touched
    // buckets before pairing — corpus rows in untouched buckets never
    // reach the pair join's shuffle
    assert(p.contains("LeftSemi"), s"corpus side is not semi-pruned:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"delta pairing degenerated to all-pairs:\n$p")
  }

  test("split assignment and PII redaction are narrow passes (zero shuffles)") {
    val p1 = plan(SparkEntry.queries("cu_split")(spark, dir))
    assert("Exchange".r.findAllIn(p1).size == 0, s"splits must not shuffle:\n$p1")
    val p2 = plan(SparkEntry.queries("cu_pii_redact")(spark, dir))
    assert("Exchange".r.findAllIn(p2).size == 0, s"redaction must not shuffle:\n$p2")
  }

  test("KMV sketch pushes a WindowGroupLimit (bounded per-group heap)") {
    val p = plan(SparkEntry.queries("ev_kmv_distinct")(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"k-minima rank filter did not push below the sort:\n$p")
  }

  test("triangle wedge join never degenerates to a nested-loop/cartesian") {
    val edges = (0L to 20L).flatMap(i => Seq((i, (i + 1) % 21), (i, (i + 3) % 21)))
      .toDF("s", "d")
    val p = plan(graft.ops.Graph.triangleCount(edges, "s", "d"))
    assert(!p.contains("CartesianProduct"), s"wedge join degenerated:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"wedge join degenerated:\n$p")
  }

  test("boilerplate removal joins lines against only the flagged set") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text").as("txt"))
    val p = plan(graft.ops.Curation.removeBoilerplate(docs, "doc_id", "txt", 10L))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"line join degenerated:\n$p")
  }

  test("CMS/Bloom probing never shuffles the probe side (broadcast slices only)") {
    // the sketch side may broadcast; the probe side must not hash-shuffle
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("fp"))
    val sketch = graft.ops.Sketches.cmsBuild(docs, "fp", 4, 256)
    val p1 = plan(graft.ops.Sketches.cmsEstimate(sketch, docs, "fp", 4, 256))
    assert("(?<!Broadcast)Exchange".r.findAllIn(p1).isEmpty,
      s"CMS probe plan must be shuffle-free (build materialized apart):\n$p1")
    assert(p1.contains("BroadcastHashJoin"), s"CMS cells must broadcast:\n$p1")
    val bits = graft.ops.Sketches.bloomBuild(docs, "fp", 3, 4096)
    val p2 = plan(graft.ops.Sketches.bloomMightContain(bits, docs, "fp", 3, 4096))
    assert("(?<!Broadcast)Exchange".r.findAllIn(p2).isEmpty,
      s"bloom probe plan must be shuffle-free:\n$p2")
    assert(p2.contains("BroadcastHashJoin"), s"bloom bits must broadcast:\n$p2")
  }

  test("span inventory: partial agg + TakeOrderedAndProject, no global sort") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.ops.Dedup.spanInventory(docs, "doc_id", "text", 8, 50))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"gram counts must combine map-side:\n$p")
  }

  test("adamic-adar wedge join never degenerates to a nested-loop/cartesian") {
    val edges = (0L to 20L).flatMap(i => Seq((i, (i + 1) % 21), (i, (i + 3) % 21)))
      .toDF("s", "d")
    val p = plan(graft.ops.Graph.adamicAdar(edges, "s", "d", 10))
    assert(!p.contains("CartesianProduct"), s"wedge join degenerated:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"wedge join degenerated:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("anchor alias argmax is a partial aggregation, never a window sort") {
    val pages = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), concat(lit("<a href=\"https://h"),
        pmod(col("doc_id"), lit(5)), lit(".com/\">x</a>")).as("html"))
    val p = plan(graft.ops.Web.anchorAliases(
      graft.ops.Web.anchorPairs(pages, col("html"))))
    assert(!p.contains("Window"), s"a hot anchor must not straggle a window sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"argmax must combine map-side:\n$p")
  }

  test("scd2 merge is one outer key join; closed history never shuffles") {
    val c = spark.read.parquet(s"$dir/customer.parquet")
    val history = c.select(col("c_custkey").as("k"), col("c_mktsegment").as("segment"),
      lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    val snap = c.select(col("c_custkey").as("k"), col("c_mktsegment").as("segment"))
    val p = plan(graft.ops.Cdc.scd2Merge(history, snap, "k", Seq("segment"), 10L))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"merge join degenerated:\n$p")
    // the join needs at most one exchange per side (open slice + snapshot);
    // a third would mean the closed passthrough is being shuffled too
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size <= 2,
      s"closed rows must union around the join unshuffled:\n$p")
  }

  test("funnel is ONE shuffle (user groupBy) with zero join nodes") {
    val p = plan(graft.ops.Events.funnel(
      spark.read.parquet(s"$dir/events.parquet"), "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase")))
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size == 1,
      s"funnel must shuffle exactly once:\n$p")
    assert(!p.contains("Join"), s"the fold formulation has no joins:\n$p")
  }

  test("rolling anomalies: partial-agg events shuffle + bucket-sized window shuffle") {
    val df = graft.ops.Events.rollingAnomalies(
      spark.read.parquet(s"$dir/events.parquet"), "event_type", "ts")
    val p = plan(df)
    // exactly 2 exchanges: (key,hour) agg over events, then the tiny
    // bucket table re-keyed for the trailing window
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size == 2,
      s"expected agg + window exchanges only:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"the events-sized agg must combine map-side:\n$p")
  }

  test("RRF fusion: partial agg + TakeOrderedAndProject, no global sort") {
    val lists = Seq(1, 2).map(i =>
      spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", (($"doc_id" * i) % 20 + 1).as("rank")).limit(20))
    val p = plan(graft.ops.Retrieval.rrfFuse(lists, "doc_id", "rank", topK = 10))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not globally sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"score sum must combine map-side:\n$p")
  }

  test("semantic near-dups join on cluster id, never all-pairs") {
    val p = plan(graft.ops.Similarity.semanticNearDups(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      threshold = 0.35))
    // the centroid-table crossJoin broadcasts (tiny side); row×row
    // enumeration must ride the cid equi-join, never a cartesian
    assert(!p.contains("CartesianProduct"),
      s"pair enumeration must ride the cid equi-join:\n$p")
  }

  test("quota sampling pushes a WindowGroupLimit (no stratum fully sorts)") {
    val p = plan(graft.ops.Curation.quotaSample(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang", 25))
    assert(p.contains("WindowGroupLimit"), s"rank filter must push below the sort:\n$p")
  }

  test("sparse cosine pairs join postings on the term, never all-pairs docs") {
    val p = plan(graft.ops.Retrieval.sparseCosinePairs(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", k = 50,
      maxDf = 100L, metricName = "sparse_plan_gate"))
    assert(!p.contains("CartesianProduct"), s"no doc×doc cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not globally sort:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"dot products must combine map-side:\n$p")
  }

  test("profiler is ONE scan: unpivot + two aggregations, no per-column passes") {
    val df = graft.ops.Profile.profileColumns(
      spark.read.parquet(s"$dir/orders.parquet"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus"))
    val p = plan(df)
    // two scans regardless of column count (the counts pass + the
    // sketch pass over the same unpivot) — never a scan PER column
    assert("FileScan parquet".r.findAllIn(p).size <= 2,
      s"profiler must not rescan per column:\n$p")
  }

  test("z-value computation is one broadcast stats join over a narrow pass") {
    val p = plan(graft.ops.Layout.zValue(
      spark.read.parquet(s"$dir/lineitem.parquet"), "l_partkey", "l_suppkey", 8))
    // the only exchanges allowed: the single-row min/max agg (one
    // shuffle to a scalar) + its broadcast back — the data path is narrow
    assert("(?<!Broadcast)Exchange".r.findAllIn(p).size <= 1,
      s"z-value must not shuffle the data side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"stats must broadcast:\n$p")
  }

  test("passage windows are a pure narrow explode: ZERO exchanges") {
    val p = plan(graft.ops.Retrieval.passageWindows(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 40, 25))
    assert(!p.contains("Exchange"),
      s"the embedding-fleet map stage must not shuffle:\n$p")
  }

  test("context packing is ONE shuffle (the per-query window), no joins") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cands = docs.select(($"doc_id" % 10).as("qid"), $"doc_id",
      ($"doc_id" * 37 % 100).as("score"), (lit(10) + $"doc_id" % 50).as("n_tokens"))
    val p = plan(graft.ops.Retrieval.contextPack(
      cands, "qid", "doc_id", "score", "n_tokens", 120L))
    assert("Exchange".r.findAllIn(p).size == 1, s"expected 1 shuffle:\n$p")
    assert(!p.contains("Join"), s"packing must not join:\n$p")
  }

  test("passage MaxP keeps the bm25 shape: broadcast stats, top-k never global-sorts") {
    val p = plan(graft.ops.Retrieval.bm25MaxP(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      Seq("spark", "join"), 10, size = 40, stride = 25))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not globally sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"per-term stats must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no passage×stats cartesian:\n$p")
  }

  test("triple support/intervals: corpus scalar broadcasts, assertion agg never cartesians") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val triples = docs.select(concat(lit("u"), $"doc_id" % 50).as("url"),
      lit("p").as("pred"), ($"doc_id" % 30).cast("string").as("obj"),
      lit("k").as("kind"), lit(1).as("weight"))
    for (df <- Seq(
        graft.kg.TripleScope.tripleSupport(triples, 2),
        graft.kg.TripleScope.edgeIntervals(triples,
          date_format(to_date(lit("2026-01-01")), "yyyy-MM-dd")))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"scalar must broadcast, not cartesian:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"corpus scalar must ride a broadcast:\n$p")
      // the data path: the (pred,obj,kind) distinct-agg's exchanges plus
      // the single-row scalar agg — never a per-assertion second pass
      assert("Exchange".r.findAllIn(p).size <= 5, s"too many shuffles:\n$p")
    }
  }

  test("temperature mix: literal budget pushes a WindowGroupLimit, quota table broadcasts") {
    val p = plan(graft.ops.Curation.temperatureMix(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang", 300L))
    assert(p.contains("WindowGroupLimit"),
      s"the constant budget bound must push the group limit below the sort:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"the source-sized quota table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("fuzzy decontamination joins bands on (band, bucket), never all-pairs") {
    val docs = spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"text")
    val bench = docs.where($"doc_id" % 97 === 0)
    val p = plan(graft.ops.Curation.fuzzyDecontaminate(
      docs, bench, "doc_id", "text", metricName = "fd_plan_gate"))
    assert(!p.contains("CartesianProduct"),
      s"corpus×bench must ride the band equi-join:\n$p")
  }

  test("BPE encode is a narrow column program: one shuffle (the per-doc agg), zero joins") {
    val p = plan(graft.ops.TextAnalysis.bpeEncode(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      Seq("t" -> "h", "th" -> "e")))
    // the learned merges are plan literals — no join against a model
    // table, no shuffle before the final per-doc aggregation
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$p")
    assert(!p.contains("Join"), s"model application must not join:\n$p")
  }
}
