package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.Schema._
import graft.kg.io.{BucketedTableIO, ParquetTableIO, TableIO}

/** The KG-construction pipeline (north_star): extract → clean → triple
  * extraction → entity linking → canonicalization (CC) → nodes/edges.
  *
  * Scale design (SURVEY §3.1, §4.3):
  *  - Stages 1-2 are purely narrow per-row transforms (map/flatMap) —
  *    zero shuffles (PlanSpec-gated); on a real cluster the url-hash
  *    layout lives in the table's Iceberg bucket spec (kg.io.TableIO),
  *    not in a runtime repartition.
  *  - Linking joins carry vocabulary-sized tables — small enough for AQE
  *    to broadcast at runtime, never force-hinted (a wrong hint OOMs at
  *    10^12 pages); entity aggregation is two-phase (partial by
  *    (entity,url) then final) so hot entities ("CNN" in ~20% of docs)
  *    never hit a single reducer.
  *  - Canonicalization = DataFrame connected components over alias edges.
  *  - Each stage checkpoints through `kg.io` (parquet under `workDir`, or
  *    bucketed tables); `_SUCCESS` is the resume ledger — a rerun skips
  *    completed stages (idempotent).
  *  - Link → canonicalize is one path: [[link]] then [[canonicalize]],
  *    run as they stand by this build and by the streaming fold
  *    (`StreamingPipeline.runIncremental`), so stream ≡ batch by
  *    construction.
  *  - Per-partition lineage/metrics rows are written alongside each stage
  *    (north_rule: per-partition lineage + metrics).
  */
object Pipeline {

  /** `buckets > 0` switches stage checkpoints from plain parquet
    * directories to url-hash BUCKETED managed tables
    * (`bucketBy(buckets, url)` + `sortBy` — the executable local analog
    * of the north rule's Iceberg `bucket(N, url)` partition spec,
    * kg.io.BucketedTableIO). The bucketing shuffle is paid once, at
    * write time, on the SLIM projected stage rows (never the html-fat
    * source), and pays back in the build itself: canonicalize's
    * per-(component, url) partial aggregation reads a url-clustered
    * mention table (hashpartitioning(url) satisfies the clustering —
    * no exchange when the CC label join broadcasts), and every
    * downstream per-url join/aggregation over the materialized tables
    * is exchange-free (BucketedIoSpec). Default 0 = plain parquet, the
    * layout-agnostic mode Bench uses on tmpfs. */
  final case class Config(
      workDir: String,
      nPartitions: Int = 32,
      resume: Boolean = true,
      writeMetrics: Boolean = true,
      buckets: Int = 0)

  final case class Result(nodes: DataFrame, edges: DataFrame, metrics: DataFrame)

  /** Managed-table name for a stage checkpoint in bucketed mode — the
    * workDir hash keeps concurrent runs collision-free; exposed so tests
    * and tools can locate/drop the tables a run registered. */
  def stageTable(workDir: String, stage: String): String =
    s"kg_${java.lang.Integer.toHexString(workDir.hashCode)}_$stage"

  // ------------------------------------------------------------ stage 1
  private val htmlTag = java.util.regex.Pattern.compile("<[^>]+>")

  /** Raw text per page: html→text when text is null (S1), with per-row
    * failure isolation (S2 continue_on_error,
    * /root/reference/src/pdf_processor.py:117-124). */
  def rawText(p: Page): String =
    if (p.text != null) p.text
    else if (p.html != null) {
      try {
        val s = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
        Py.strip(Py.collapseWs(htmlTag.matcher(s).replaceAll(" ")))
      } catch { case scala.util.control.NonFatal(_) => "" }
    } else ""

  /** Extract + clean (C1 kernel). A purely narrow pass: no repartition —
    * shuffling the fat (html-carrying) page rows costs a full
    * spill-to-disk cycle of the corpus and plain parquet retains no
    * bucketing metadata to pay it back. On a real cluster the url-hash
    * layout (north_rule) is the TABLE's job: write it with an Iceberg
    * `bucket(N, url)` partition spec, so narrow passes stay narrow and
    * per-url joins co-locate. The checkpoint holds
    * only derived clean text — raw stays in the source table (at 100 TB,
    * writing raw twice is the bill, not the regex). */
  def extractClean(spark: SparkSession, pages: Dataset[Page], nPartitions: Int): Dataset[CleanDoc] = {
    import spark.implicits._
    pages.map { p =>
      val raw = rawText(p)
      CleanDoc(p.url, p.warc_ts, p.lang, raw, RefText.cleanText(raw))
    }
  }

  // ------------------------------------------------------------ stage 2
  /** Per-url triple emission — all reference extractor families E1-E13
    * (SURVEY §2.9) run on raw text exactly like the reference pipeline
    * (/root/reference/app_enhanced.py:769-824 feeds analyzers the raw
    * extracted text, not the cleaned text). Pure function → flatMap;
    * embarrassingly parallel, no shuffle. */
  def triplesForDoc(url: String, raw: String): Seq[Triple] = {
    if (raw == null || raw.isEmpty) return Seq.empty
    val out = Seq.newBuilder[Triple]

    val meta = RefAnalyzers.extractMetadata(raw)
    meta.title.foreach(t => out += Triple(url, "hasTitle", t, "attr", t, "", 1))
    meta.authors.foreach(a => out += Triple(url, "hasAuthor", a, "attr", a, "", 1))
    meta.year.foreach(y => out += Triple(url, "publishedIn", y, "attr", y, "", 1))
    meta.doi.foreach(d => out += Triple(url, "hasDOI", d, "attr", d, "", 1))

    RefAnalyzers.extractSections(raw).foreach { s =>
      out += Triple(url, "hasSection", s.name, "section", s.name, s.preview, 1)
    }
    RefAnalyzers.extractFigureRefs(raw).foreach { f =>
      out += Triple(url, "mentionsFigure", f.title, f.kind, f.title, f.caption, 1)
    }
    RefAnalyzers.extractTechnicalTerms(raw).foreach { t =>
      val kind =
        if (t.term.length >= 2 && t.term.length <= 6 && t.term.forall(c => c >= 'A' && c <= 'Z')) "acronym"
        else if (t.term.contains('-')) "technique"
        else "concept"
      out += Triple(url, "mentionsEntity", t.term, kind, t.term, t.context, t.frequency)
    }
    RefAnalyzers.extractEquations(raw).foreach { e =>
      out += Triple(url, "containsEquation", e.content, "equation", e.content, "", 1)
    }
    // keywords and summary share one reversed-fix pass (both reference
    // methods apply the same deterministic fix independently)
    val fixed = RefAnalyzers.analyzerFixReversed(raw)
    RefAnalyzers.keywordsOfFixed(fixed).foreach { k =>
      out += Triple(url, "hasKeyword", k, "keyword", k, "", 1)
    }
    val summary = RefAnalyzers.summaryOfFixed(fixed)
    if (summary.nonEmpty) out += Triple(url, "hasSummary", summary, "attr", summary, "", 1)

    out.result()
  }

  /** Triples straight from the source table — a purely narrow pass (NO
    * repartition: triple emission is per-row; plain parquet carries no
    * bucketing metadata, so a shuffle here buys nothing downstream —
    * every per-url aggregation shuffles on its own key anyway, and on
    * far lighter projected rows). Per-row, so it runs unchanged on a
    * streaming `pages` too: the streaming lane's triples come from this
    * same code. */
  def triplesFromPages(spark: SparkSession, pages: Dataset[Page]): Dataset[Triple] = {
    import spark.implicits._
    pages.flatMap(p => triplesForDoc(p.url, rawText(p)))
  }

  // ------------------------------------------------------------ stage 3
  /** The link stage's two checkpoints, read back, and its wall when it
    * ran (`None` when complete checkpoints were reused). */
  private[kg] final case class Linked(
      mentions: Dataset[LinkedMention], aliases: DataFrame, wallMs: Option[Long])

  /** Entity linking, the one link stage the batch build and the
    * streaming fold both run: `EntityLinking.resolve` over `triples`, its
    * two outputs written to `linkedAt` and `aliasAt` as concurrent jobs,
    * resolve's caches dropped, and both tables read back. [[canonicalize]]
    * therefore always plans over the checkpoints, never over a cached
    * linking DAG. With `reuse`, complete checkpoints are read back as they
    * stand and `triples` (by name) is never scanned. */
  private[kg] def link(spark: SparkSession, triples: => Dataset[Triple],
      linkedAt: (TableIO, String), aliasAt: (TableIO, String), reuse: Boolean): Linked = {
    import spark.implicits._
    val outs = Seq(linkedAt, aliasAt)
    val wallMs =
      if (reuse && outs.forall { case (io, t) => io.exists(spark, t) }) None
      else {
        val t0 = System.nanoTime()
        val resolved = EntityLinking.resolve(spark, triples)
        // independent outputs sharing resolve's persisted url blocks —
        // overlapped like the stage-1/2 and nodes/edges write pairs
        try inParallel(outs.zip(Seq(resolved.linked.toDF(), resolved.aliasEdges)).map {
          case ((io, t), df) => () => io.write(df, t)
        })
        finally resolved.unpersistCached() // exactly resolve's url-block persist
        Some((System.nanoTime() - t0) / 1000000L)
      }
    val Seq(linked, aliases) = outs.map { case (io, t) => io.read(spark, t) }
    Linked(linked.as[LinkedMention], aliases, wallMs)
  }

  // ------------------------------------------------------------ stage 4
  /** canonicalize's outputs plus the exact DataFrame it persisted (the
    * CC-labeled mention table both outputs read) — callers unpersist
    * precisely that after checkpointing, never a session-wide
    * clearCache. */
  final case class Canonical(nodes: DataFrame, edges: DataFrame,
      labels: DataFrame, cached: Seq[DataFrame]) {
    def unpersistCached(): Unit = cached.foreach(_.unpersist(false))
  }

  private val keyId = (c: org.apache.spark.sql.Column) => xxhash64(c)

  /** The CC input graph: acronym-alias edges ∪ MinHash-LSH name-blocking
    * edges over concept surface forms, keys hashed to longs. Factored
    * out so tools/CcBench can run the REAL alias graph through the
    * distributed CC loop (driverSolveThreshold = 0) for at-scale
    * evidence. */
  def ccEdges(linked: DataFrame, aliases: DataFrame): DataFrame = {
    // MinHash-LSH blocking over concept names (north_star): near-identical
    // surface forms (plural/singular variants) join the acronym-alias
    // edges as CC input — bucketed candidates + exact-Jaccard verify,
    // never all-pairs, over the (vocabulary-sized) distinct key set
    val nameSim = EntityLinking.nameSimilarityEdges(
      linked.where(col("kind") === "concept").select(col("entity_key")))
    aliases.select(col("key_a"), col("key_b"))
      .union(nameSim.select(col("key_a"), col("key_b")))
      .select(keyId(col("key_a")).as("src"), keyId(col("key_b")).as("dst"))
  }

  /** Canonicalize entity keys: CC over alias edges; canonical name = the
    * member with the highest total mention weight (ties → lexicographic).
    * All aggregations two-phase over (entity, url) to defuse hot-key skew
    * before the final per-component reduction. `linked` and `aliases`
    * are the link stage's checkpoint reads, so the CC graph that
    * [[ConnectedComponents.run]] caches for its call plans over parquet
    * scans, not a cached linking DAG. */
  def canonicalize(
      spark: SparkSession,
      linked: Dataset[LinkedMention],
      aliases: DataFrame): Canonical = {
    import spark.implicits._

    val ccLabels = ConnectedComponents.run(spark, ccEdges(linked.toDF(), aliases))

    // entity_key -> component (keys not in any alias edge are their own
    // component). Persisted: nodes AND edges both derive from it, and the
    // two stage writes would otherwise recompute the CC join twice.
    val mentions = linked.toDF()
      .withColumn("key_id", keyId($"entity_key"))
    val labeled = mentions
      .join(ccLabels.withColumnRenamed("id", "key_id"), Seq("key_id"), "left")
      .withColumn("component", coalesce($"component", $"key_id"))
      .persist()

    // two-phase aggregation: the (component, url) and (component,
    // entity_key) partials absorb hot-entity skew before any
    // per-component reduction touches a single reducer
    val perUrl = labeled
      .groupBy($"component", $"url")
      .agg(sum($"weight").as("weight"))
    val nUrls = perUrl.groupBy($"component").agg(count(lit(1)).as("n_urls"))
    // one pass per (component, key, kind): its weight and its surface
    // forms (aliases include resolved surface forms: an ambiguous acronym
    // like "cnn" appears as an alias on EVERY component it resolves into,
    // while the components themselves stay separate)
    val perKey = labeled
      .groupBy($"component", $"entity_key", $"kind")
      .agg(sum($"weight").as("w"), collect_set(lower($"surface")).as("surf_keys"))

    // the canonical row is the least (-w, key, kind): kind joins the
    // ordering because the same key can carry two kinds in one component
    // (a resolved acronym mention lands on its expansion's key with kind
    // 'acronym'), and a (w, key) tie between them must still pick one
    val perComponent = perKey
      .groupBy($"component")
      .agg(
        min(struct(-$"w", $"entity_key", $"kind")).as("best"),
        collect_set($"entity_key").as("key_aliases"),
        flatten(collect_list($"surf_keys")).as("surf_keys"),
        sum($"w").as("n_mentions"))

    val nodes = perComponent
      .select($"component", $"best.entity_key".as("canonical_name"), $"best.kind".as("kind"),
        $"n_mentions",
        sort_array(array_distinct(concat($"key_aliases", $"surf_keys"))).as("aliases"))
      .join(nUrls, Seq("component"))
      .withColumnRenamed("component", "entity_id")

    // canon grows with the entity vocabulary — at 10^12 pages that is
    // easily 10^8+ rows, where a forced broadcast hint OOMs the driver.
    // No hint: AQE broadcasts it at runtime when it observes it small,
    // and degrades to a shuffled join when it isn't.
    val canon = perComponent.select($"component", $"best.entity_key".as("canonical_name_e"))
    val edges = perUrl
      .join(canon, Seq("component"))
      .select(
        $"url".as("src_url"),
        lit("mentionsEntity").as("pred"),
        $"component".as("dst_id"),
        $"canonical_name_e".as("dst_name"),
        $"weight")

    Canonical(nodes, edges, ccLabels, Seq(labeled))
  }

  // ---------------------------------------------------------- orchestration
  /** Run independent stage writes as concurrent Spark jobs (one thread
    * each): overlaps the serial tails (last straggler task, parquet
    * commit, driver bookkeeping) that otherwise stack up per stage.
    * Returns once every job has ended; a failure is rethrown then, with
    * any other job's failure added to it as suppressed, so no job is
    * still running when the caller's cleanup or retry starts. */
  private[graft] def inParallel(jobs: Seq[() => Unit]): Unit =
    if (jobs.size <= 1) jobs.foreach(_.apply())
    else {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(jobs.size)
      val ended = try pool.invokeAll(jobs.map(j =>
        (() => j()): java.util.concurrent.Callable[Unit]).asJava).asScala
      finally pool.shutdown()
      val failures = ended.flatMap(f => scala.util.Try(f.get()).failed.toOption.map(_.getCause))
      failures.headOption.foreach { e => failures.tail.foreach(e.addSuppressed); throw e }
    }

  /** Run all stages with parquet checkpointing + resume. */
  def run(spark: SparkSession, pages: Dataset[Page], cfg: Config): Result = {
    import spark.implicits._
    val metrics = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]

    // stage output row counts ride the WRITE job via observe() — a
    // separate count() would re-read each checkpoint as its own
    // serialized job (4 extra jobs per run); on resume (no write this
    // run) the reader falls back to counting the checkpoint
    val observed = scala.collection.concurrent.TrieMap.empty[String, Long]

    // ---- checkpoint surface: plain parquet dirs under workDir (default),
    // or bucketed managed tables when cfg.buckets > 0 (see Config
    // scaladoc), named by stageTable; the bucket column is the stage's
    // join/aggregation key. alias_edges and metrics stay parquet —
    // key-pair/diagnostic rows with no url.
    val parquet = new ParquetTableIO(cfg.workDir)
    val bucketCols = Map(
      "extract_clean" -> "url", "triples" -> "url", "linked_mentions" -> "url",
      "edges" -> "src_url", "nodes" -> "entity_id")
    /** Where `stage` checkpoints: its bucketed table, or the dir `dir`. */
    def at(stage: String, dir: String): (TableIO, String) = bucketCols.get(stage) match {
      case Some(c) if cfg.buckets > 0 =>
        (new BucketedTableIO(cfg.buckets, c), stageTable(cfg.workDir, stage))
      case _ => (parquet, dir)
    }
    def reusable(ck: (TableIO, String)): Boolean = cfg.resume && ck._1.exists(spark, ck._2)
    def read(ck: (TableIO, String)): DataFrame = ck._1.read(spark, ck._2)
    def writeCounted(df: DataFrame, ck: (TableIO, String), name: String): Unit =
      if (!cfg.writeMetrics) ck._1.write(df, ck._2)
      else {
        val obs = org.apache.spark.sql.Observation()
        ck._1.write(df.observe(obs, count(lit(1)).as("n")), ck._2)
        observed(name) = obs.get("n").asInstanceOf[Long]
      }
    def rowsOf(name: String, reader: => DataFrame): Long =
      observed.getOrElse(name, reader.count())

    val docsAt = at("extract_clean", "clean_docs")
    val triplesAt = at("triples", "triples")
    val nodesAt = at("nodes", "nodes")
    val edgesAt = at("edges", "edges")

    // ------- stages 1+2: ONE scan of the source, two concurrent writes.
    // clean_docs and triples both derive from the same narrow raw-text
    // extraction; running them as serial stages reads the (html-fat)
    // source twice and serializes two full-corpus barriers (the residual
    // scaling gap in BENCH/BASELINE.md r01). The slim raw intermediate is
    // persisted (memory, spill to disk) only when both writes actually
    // run; concurrent Spark jobs dedupe cached partition computation at
    // the block level, so the corpus is scanned once.
    val needDocs = !reusable(docsAt)
    val needTriples = !reusable(triplesAt)
    if (needDocs || needTriples) {
      val t0 = System.nanoTime()
      val raw = pages.map(p => Schema.RawDoc(p.url, p.warc_ts, p.lang, rawText(p)))
      val src =
        if (needDocs && needTriples)
          raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else raw
      val work = Seq(
        (needDocs, "extract_clean", () => writeCounted(
          src.map(d => CleanDoc(d.url, d.warc_ts, d.lang, null, RefText.cleanText(d.raw_text)))
            .toDF().drop("raw_text"), docsAt, "extract_clean")),
        (needTriples, "triples", () => writeCounted(
          src.flatMap(d => triplesForDoc(d.url, d.raw_text)).toDF(), triplesAt, "triples")))
        .collect { case (true, name, job) => (name, job) }
      try inParallel(work.map(_._2))
      finally if (needDocs && needTriples) src.unpersist(false)
      for ((name, _) <- work)
        metrics += ((name, -1L, (System.nanoTime() - t0) / 1000000L))
    }
    val docsDf = read(docsAt)
    val triplesDf = read(triplesAt)
    if (cfg.writeMetrics) {
      metrics += (("extract_clean_rows", rowsOf("extract_clean", docsDf), 0L))
      metrics += (("triples_rows", rowsOf("triples", triplesDf), 0L))
    }

    // entity linking: alias discovery + ambiguity split + context-
    // similarity resolution (EntityLinking); both outputs checkpointed
    val linked = link(spark, triplesDf.as[Triple],
      at("linked_mentions", "linked_mentions"), at("alias_edges", "alias_edges"), cfg.resume)
    linked.wallMs.foreach(ms => metrics += (("entity_linking", -1L, ms)))

    if (!(reusable(nodesAt) && reusable(edgesAt))) {
      val t0 = System.nanoTime()
      val canonical = canonicalize(spark, linked.mentions, linked.aliases)
      // nodes and edges both read canonicalize's persisted label table —
      // two independent writes, overlapped
      try inParallel(Seq(() => writeCounted(canonical.nodes, nodesAt, "nodes"),
        () => writeCounted(canonical.edges, edgesAt, "edges")))
      finally canonical.unpersistCached() // exactly canonicalize's label persist
      metrics += (("canonicalize", -1L, (System.nanoTime() - t0) / 1000000L))
    }
    val nodesDf = read(nodesAt)
    val edgesDf = read(edgesAt)
    if (cfg.writeMetrics) {
      metrics += (("nodes", rowsOf("nodes", nodesDf), 0L))
      metrics += (("edges", rowsOf("edges", edgesDf), 0L))
    }

    val stageMetrics = metrics.toSeq.toDF("stage", "rows", "wall_ms")
    if (cfg.writeMetrics) {
      // per-partition lineage for every MATERIALIZED stage table
      // (north_rule: per-partition lineage + metrics); row conservation
      // per stage — Σ partition rows ≡ stage count — is the oracle-
      // checked invariant (kg_metrics)
      val partMetrics = Seq(
        ("triples", triplesDf), ("nodes", nodesDf), ("edges", edgesDf))
        .map { case (st, df) =>
          df.groupBy(spark_partition_id().as("partition_id"))
            .agg(count(lit(1)).as("rows"))
            .withColumn("stage", lit(st))
        }
        .reduce(_ unionByName _)
      parquet.write(stageMetrics, "metrics_stage")
      parquet.write(partMetrics, "metrics_partition")
    }

    Result(nodesDf, edgesDf, stageMetrics)
  }
}
