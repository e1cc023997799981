package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.{Pipeline, RefAnalyzers, Schema}

/** The flagship KG pipeline as oracle-checked driver queries.
  *
  * The pipeline's north-star outputs (triples → linked mentions → CC →
  * nodes/edges) are put under the hard DuckDB correctness gate by running
  * the REAL `Pipeline` over a deterministic corpus derived from the
  * `documents` table ("kgenr": per-doc topic phrase + matching acronym,
  * hyphenated techniques, ambiguous acronyms with two global expansions —
  * CNN → convolutional/cable, GAN → graph-attention/generative — hot
  * docs, media docs, and lone-acronym docs that force context-similarity
  * resolution), and re-deriving every stage in SQL:
  *   - kg_triples: a UNION of the regex extractor programs,
  *   - kg_nodes / kg_edges: alias-pair discovery (initials match) →
  *     ambiguity split → per-url resolution (keyword-profile overlap +
  *     local-co-occurrence bonus) → connected components as a
  *     `WITH RECURSIVE` transitive closure → weight-ranked
  *     canonicalization and two-phase aggregation.
  * Component ids are engine-specific hashes and are NOT part of the
  * compared projection; `canonical_name` is the portable identity.
  */
object KgQueries {

  // ---------------------------------------------------------------- corpus
  private val phrases = Seq(
    "Convolutional Neural Network", "Stochastic Gradient Descent",
    "Graph Attention Network", "Long Short Term Memory",
    "Hidden Markov Model", "Generative Adversarial Network",
    "Support Vector Machine", "Recurrent Neural Network")
  // GAN on purpose twice: Graph Attention / Generative Adversarial share
  // initials — a second ambiguous acronym resolved by the local bonus
  private val acrs = Seq("CNN", "SGD", "GAN", "LSTM", "HMM", "GAN", "SVM", "RNN")
  private val fields = Seq(
    "image classification", "optimization", "graph learning",
    "sequence modeling", "speech recognition", "image synthesis",
    "text classification", "sequence labeling")
  private val hyphs = Seq("self-attention", "pre-training", "fine-tuning", "cross-entropy")

  private val authorLine = "Jane B. Smith, John C. Doe, Mary D. Chen"
  private val eqLine = "Loss(x) = softmax(Wx + b)"
  // planted lead-ins are lowercase on purpose: a capitalized word directly
  // before a phrase would be swallowed into a longer once-only term
  private val hotX = " the Convolutional Neural Network (CNN) baseline shows image convolution " +
    "kernels and the Convolutional Neural Network design with CNN helps."
  private val mediaX = " the Cable News Network (CNN) television broadcast coverage grows and " +
    "the Cable News Network desk with CNN reports television broadcast coverage."
  private val loneMX = " the CNN report describes television broadcast coverage and the CNN " +
    "summary repeats television broadcast coverage."
  private val loneCX = " the CNN report describes image convolution kernels and the CNN " +
    "summary repeats image convolution kernels."
  // plural surface form: exercises MinHash-LSH name blocking in
  // canonicalization (char-4 jaccard singular↔plural = 0.958 ≥ 0.7; the
  // closest DISTINCT planted pair is 0.375, so nothing else merges)
  private val pluralX = " the Convolutional Neural Networks family generalizes the design and " +
    "the Convolutional Neural Networks family scales further."
  // keeps the abstract line above the 250-char title bound for every doc
  private val tailLine = " this abstract line is intentionally long enough that the title " +
    "extractor never considers it under the two hundred and fifty character bound."

  /** Spark-side kgenr text (must concat byte-identically to `kgenrSql`). */
  private def kgText: Column = {
    val id = col("doc_id")
    def pick(xs: Seq[String], mod: Int, shift: Int): Column =
      element_at(array(xs.map(lit): _*), (pmod(id + shift, lit(mod)) + 1).cast("int"))
    val p = pick(phrases, 8, 0)
    val a = pick(acrs, 8, 0)
    val f = pick(fields, 8, 0)
    val h0 = pick(hyphs, 4, 0)
    val h1 = pick(hyphs, 4, 1)
    val extra = when(pmod(id, lit(5)) === 0, lit(hotX))
      .when(pmod(id, lit(10)) === 3, lit(mediaX))
      .when(pmod(id, lit(20)) === 7, lit(loneMX))
      .when(pmod(id, lit(20)) === 17, lit(loneCX))
      .when(pmod(id, lit(10)) === 9, lit(pluralX))
      .otherwise(lit(""))
    concat_ws("\n",
      concat(p, lit(" methods for "), f, lit(" a comprehensive and scalable study of web corpora")),
      lit(authorLine),
      concat(lit("20"), lpad(pmod(id, lit(30)).cast("string"), 2, "0"), lit(" doi: 10.1234/graft."), id),
      lit("Abstract"),
      concat(lit("we propose a "), p, lit(" ("), a, lit(") approach for "), f,
        lit(". the "), a, lit(" design uses "), h0, lit(" and "), h1, lit(" losses with "),
        h0, lit(" and "), h1, lit(" regularization."), extra,
        lit(" the corpus says "), col("text"), lit("."), lit(tailLine)),
      lit(""),
      lit("Introduction"),
      concat(lit("our work compares a "), p, lit(" variant with the "), a,
        lit(" design against a plain "), a, lit(" baseline.")),
      concat(lit("Figure "), (pmod(id, lit(4)) + 1).cast("string"), lit(": accuracy over training epochs")),
      concat(lit("Table "), (pmod(id, lit(3)) + 1).cast("string"), lit(": dataset statistics summary")),
      lit(eqLine),
      lit(""),
      lit("Methods"),
      concat(lit("the method applies "), h0, lit(" layers and reports "), f, lit(" gains.")),
      lit(""),
      lit("Results"),
      concat(lit("the approach achieves strong accuracy on the "), f, lit(" benchmark.")),
      lit(""),
      lit("Conclusion"),
      concat(lit("we conclude that scalable pipelines matter for "), f, lit(".")))
  }

  private def q(s: String): String = "'" + s.replace("'", "''") + "'"
  private def sqlList(xs: Seq[String]): String = "list_value(" + xs.map(q).mkString(", ") + ")"

  /** DuckDB-side identical corpus: `kgenr(doc_id, url, t)`. */
  private val kgenrSql: String = {
    val p = s"${sqlList(phrases)}[(doc_id % 8 + 1)]"
    val a = s"${sqlList(acrs)}[(doc_id % 8 + 1)]"
    val f = s"${sqlList(fields)}[(doc_id % 8 + 1)]"
    val h0 = s"${sqlList(hyphs)}[(doc_id % 4 + 1)]"
    val h1 = s"${sqlList(hyphs)}[((doc_id + 1) % 4 + 1)]"
    s"""kgenr AS (SELECT doc_id, 'https://example.org/doc' || doc_id AS url,
       |  $p || ' methods for ' || $f || ' a comprehensive and scalable study of web corpora' || chr(10) ||
       |  ${q(authorLine)} || chr(10) ||
       |  '20' || lpad((doc_id % 30)::VARCHAR, 2, '0') || ' doi: 10.1234/graft.' || doc_id || chr(10) ||
       |  'Abstract' || chr(10) ||
       |  'we propose a ' || $p || ' (' || $a || ') approach for ' || $f ||
       |  '. the ' || $a || ' design uses ' || $h0 || ' and ' || $h1 || ' losses with ' ||
       |  $h0 || ' and ' || $h1 || ' regularization.' ||
       |  CASE WHEN doc_id % 5 = 0 THEN ${q(hotX)}
       |       WHEN doc_id % 10 = 3 THEN ${q(mediaX)}
       |       WHEN doc_id % 20 = 7 THEN ${q(loneMX)}
       |       WHEN doc_id % 20 = 17 THEN ${q(loneCX)}
       |       WHEN doc_id % 10 = 9 THEN ${q(pluralX)}
       |       ELSE '' END ||
       |  ' the corpus says ' || text || '.' || ${q(tailLine)} || chr(10) ||
       |  '' || chr(10) ||
       |  'Introduction' || chr(10) ||
       |  'our work compares a ' || $p || ' variant with the ' || $a || ' design against a plain ' || $a || ' baseline.' || chr(10) ||
       |  'Figure ' || (doc_id % 4 + 1) || ': accuracy over training epochs' || chr(10) ||
       |  'Table ' || (doc_id % 3 + 1) || ': dataset statistics summary' || chr(10) ||
       |  ${q(eqLine)} || chr(10) ||
       |  '' || chr(10) ||
       |  'Methods' || chr(10) ||
       |  'the method applies ' || $h0 || ' layers and reports ' || $f || ' gains.' || chr(10) ||
       |  '' || chr(10) ||
       |  'Results' || chr(10) ||
       |  'the approach achieves strong accuracy on the ' || $f || ' benchmark.' || chr(10) ||
       |  '' || chr(10) ||
       |  'Conclusion' || chr(10) ||
       |  'we conclude that scalable pipelines matter for ' || $f || '.'
       |  AS t FROM documents)""".stripMargin
  }

  // --------------------------------------------------------------- pipeline
  /** One pipeline run per sfDir, shared by all kg_* queries (Verify calls
    * every query; the pipeline must not run five times). The cache holds
    * ONLY the work-dir path — never session-bound DataFrames: a second
    * SparkSession in the same JVM (tests/tools that stop() and restart)
    * would otherwise get back dead plans bound to the stopped session.
    * Each query re-reads the parquet checkpoints with the CALLER's
    * session. */
  private val kgCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** The documents→pages projection, shared by the batch pipeline and
    * the streaming lane (StreamingQueries.st_kg_triples) — pure column
    * expressions, so it applies to a streaming DataFrame unchanged. */
  def pageProjection(docs: DataFrame): DataFrame =
    docs.select(
      concat(lit("https://example.org/doc"), col("doc_id")).as("url"),
      lit(new java.sql.Timestamp(1767225600000L)).as("warc_ts"), // 2026-01-01T00:00:00Z, fixed
      lit(null).cast("binary").as("html"),
      kgText.as("text"),
      lit("en").as("lang"))

  def kgPages(s: SparkSession, dir: String): Dataset[Schema.Page] = {
    import s.implicits._
    pageProjection(s.read.parquet(s"$dir/documents.parquet")).as[Schema.Page]
  }

  /** Run (or reuse) the pipeline for `dir`; returns the checkpoint
    * work-dir. All stage outputs live there as parquet. */
  def kgRun(s: SparkSession, dir: String): String =
    kgCache.getOrElseUpdate(dir, {
      val work = TmpDirs.fresh("kgq")
      // Pipeline.run stays narrow (an html-fat source must not
      // shuffle); this projection is slim (html is null), so it spreads
      Pipeline.run(s, graft.ops.Layout.spread(kgPages(s, dir)),
        Pipeline.Config(work, nPartitions = 16))
      work
    })

  /** Evict the per-dir pipeline cache and delete its work dirs.
    * Benchmark repetitions call this between sweeps so every rep pays
    * the pipeline build cold — a warm rep would hide host throttle in
    * exactly the expensive kg_* queries that medians exist to protect.
    * (The shutdown hooks registered at creation tolerate the early
    * delete — deleteQuietly on a gone dir is a no-op.) */
  def resetRunCache(): Unit = {
    kgCache.values.foreach(w =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(w)))
    kgCache.clear()
  }

  /** Undirected entity co-mention pairs (e1 < e2) from the materialized
    * triples — the graph under kg_triangles / kg_kcore / kg_communities /
    * kg_bfs. */
  private def coMentionPairs(s: SparkSession, dir: String): DataFrame = {
    val t = s.read.parquet(kgRun(s, dir) + "/triples")
    val mentions = t.where(col("pred") === "mentionsEntity")
      .select(col("url"), lower(col("obj")).as("e")).distinct()
    mentions
      .join(mentions.select(col("url"), col("e").as("e2")), Seq("url"))
      .where(col("e") < col("e2"))
      .select(col("e").as("e1"), col("e2")).distinct()
  }

  // ---------------------------------------------------------------- queries
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // north-star outputs, all from the REAL pipeline run (parquet
    // checkpoints + resume ledger + linking + CC); projections exclude
    // engine-specific hash ids (canonical_name is the identity)
    "kg_triples" -> ((s, dir) =>
      s.read.parquet(kgRun(s, dir) + "/triples")
        .select(col("url"), col("pred"), col("obj"), col("kind"), col("weight"))),

    "kg_nodes" -> ((s, dir) =>
      s.read.parquet(kgRun(s, dir) + "/nodes")
        .select(col("canonical_name"), col("kind"),
          concat_ws("|", col("aliases")).as("aliases"),
          col("n_mentions"), col("n_urls"))),

    "kg_edges" -> ((s, dir) =>
      s.read.parquet(kgRun(s, dir) + "/edges")
        .select(col("src_url"), col("pred"), col("dst_name"), col("weight"))),

    // post-extraction curation: support-based confidence — keep only
    // assertions corroborated by ≥2 distinct urls, with confidence in
    // integer micro-units (kg.TripleScope.tripleSupport; one partial-agg
    // shuffle, corpus url count rides a broadcast)
    "kg_triple_support" -> ((s, dir) =>
      graft.kg.TripleScope.tripleSupport(
        s.read.parquet(kgRun(s, dir) + "/triples"), minSupport = 2)),

    // temporal scoping: per-assertion validity intervals over crawl
    // snapshots. The synthetic corpus has ONE fixed warc_ts, so the
    // snapshot axis is derived deterministically from the url's doc id
    // (5 simulated snapshots) identically on both engines; ISO date
    // strings keep ordering and hashing engine-portable
    "kg_edge_intervals" -> ((s, dir) => {
      val d = regexp_extract(col("url"), "(\\d+)$", 1).cast("long")
      val snap = date_format(
        date_add(to_date(lit("2026-01-01")), (pmod(d, lit(5))).cast("int")), "yyyy-MM-dd")
      graft.kg.TripleScope.edgeIntervals(
        s.read.parquet(kgRun(s, dir) + "/triples"), snap)
    }),

    // the north-rule acceptance metric AS a distributed op: triple
    // precision/recall/F1 of the pipeline's triples vs a gold set big
    // enough to need a join (here: a deliberately perturbed gold —
    // one third of the urls' triples removed, planted facts the
    // pipeline can't emit added — so neither ratio is trivially 1.0)
    "kg_eval_pr" -> ((s, dir) => {
      val t = s.read.parquet(kgRun(s, dir) + "/triples")
      val d = regexp_extract(col("url"), "(\\d+)$", 1).cast("long")
      val gold = t.where(pmod(d, lit(3)) =!= 0)
        .select(col("url"), col("pred"), col("obj"))
        .union(t.where(pmod(d, lit(7)) === 0)
          .select(col("url"), lit("noisePred").as("pred"),
            concat(lit("planted-missing-fact-"), d.cast("string")).as("obj")))
      graft.kg.Eval.triplePR(t, gold)
    }),

    // per-partition lineage rolled up to its engine-portable invariant:
    // the partition-row sum per stage must equal the independently
    // re-derived stage output count (the partition LAYOUT is engine-
    // specific, but conservation of rows across the lineage ledger is
    // not — a lost or double-counted partition breaks the hash here)
    "kg_metrics" -> ((s, dir) => {
      val work = kgRun(s, dir)
      s.read.parquet(s"$work/metrics_partition")
        .groupBy(col("stage"))
        .agg(sum(col("rows")).as("total_rows"))
    }),

    // the SQL-expressible slice of the lineage metrics: per-stage output
    // row counts, oracle-checked against re-derived counts of each stage
    "kg_stage_rows" -> ((s, dir) => {
      val work = kgRun(s, dir)
      s.read.parquet(s"$work/metrics_stage")
        .where(col("stage").isin("extract_clean_rows", "triples_rows", "nodes", "edges"))
        .select(col("stage"), col("rows"))
    }),

    // K1/K2 — reference chunker over cleaned docs (greedy 1500-char word
    // packing, text_processor.py:152-235). Input is the text repeated 3×
    // (~1.7k cleaned chars) so the flush boundary actually fires on the
    // longer docs while short docs stay single-chunk (both paths
    // exercised) — raw docs are <600 chars and would all be
    // single-chunk. Half the corpus (doc_id % 2) keeps the oracle's
    // per-word recursive fold affordable: its DuckDB cost is
    // O(max_words × total_words), and this query was the #5 oracle-wall
    // offender at 6× repeat over all docs (79 s → ~9 s). Chunker
    // SEMANTICS are separately pinned byte-exact by goldens + fuzz
    // (GoldenSpec/FuzzSpec); this oracle pins the cross-engine fold.
    "kg_chunks" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 2 === 0)
        .transform(graft.ops.Layout.spread)
        .select(col("doc_id"), posexplode(graft.kg.Udfs.chunkText(
          graft.kg.Udfs.cleanText(repeat(concat(col("text"), lit(" ")), 3)))).as(Seq("chunk_id", "c")))
        .select(col("doc_id"), col("chunk_id"), col("c.content").as("content"),
          col("c.section").as("section"))),

    // graph analytics over the materialized KG: deterministic integer
    // PageRank (5 sweeps, edges mirrored so the bipartite graph has no
    // sinks), top 20 vertices — the oracle replays the same integer
    // recurrence as mechanically unrolled CTEs over the kg_edges oracle
    "kg_pagerank" -> ((s, dir) =>
      graft.ops.Graph.pageRank(s.read.parquet(kgRun(s, dir) + "/edges"),
          "src_url", "dst_name", "weight", 5)
        .orderBy(col("pr").desc, col("vertex").asc).limit(20)),

    // incremental rank maintenance: 2 WARM sweeps resumed from a 3-sweep
    // prior run ≡ 5 cold sweeps BIT-FOR-BIT (the memoryless recurrence),
    // proven under the hash gate — the oracle is literally kg_pagerank's
    // 5-sweep program
    "kg_pagerank_warm" -> ((s, dir) => {
      val edges = s.read.parquet(kgRun(s, dir) + "/edges")
      val prior = graft.ops.Graph.pageRank(edges, "src_url", "dst_name", "weight", 3)
      graft.ops.Graph.pageRankWarmStart(edges, "src_url", "dst_name", "weight", prior, 2)
        .orderBy(col("pr").desc, col("vertex").asc).limit(20)
    }),

    // personalized PageRank seeded on the 5 lexicographically-first
    // urls: proximity to the seed set (the related-entity serving
    // query); same integer recurrence, seed-concentrated teleport
    "kg_ppr" -> ((s, dir) => {
      val edges = s.read.parquet(kgRun(s, dir) + "/edges")
      val seeds = edges.select(col("src_url")).distinct()
        .orderBy(col("src_url")).limit(5)
      graft.ops.Graph.personalizedPageRank(
          edges, "src_url", "dst_name", "weight", seeds, 5)
        .orderBy(col("ppr").desc, col("vertex").asc).limit(20)
    }),

    // co-mention graph analytics: entities sharing a url form an
    // undirected edge; triangles counted via the degree-ordered
    // orientation (Graph.triangleCount). The oracle re-derives the
    // id-ordered 3-way join over the same pairs — orientation never
    // changes the count
    "kg_triangles" -> ((s, dir) =>
      graft.ops.Graph.triangleCount(coMentionPairs(s, dir), "e1", "e2")),

    // k-core of the same co-mention graph (k=2, 8 peel rounds —
    // monotone, so extra rounds past convergence are no-ops and both
    // engines run the SAME fixed count; GraphSpec/OpsSpec pin that 8
    // covers the true peel depth at test scale)
    "kg_kcore" -> ((s, dir) =>
      graft.ops.Graph.kCore(coMentionPairs(s, dir), "e1", "e2", 2, 8)),

    // community detection over the co-mention graph: 3 synchronous
    // label-propagation sweeps with the (cnt, label) max-struct tie rule
    // — the oracle unrolls the identical rounds
    "kg_communities" -> ((s, dir) =>
      graft.ops.Graph.labelPropagation(coMentionPairs(s, dir), "e1", "e2", 3)),

    // BFS hop distances from the corpus's hottest planted entity, 4
    // frontier expansions; oracle = depth-bounded recursive closure + min
    "kg_bfs" -> ((s, dir) =>
      graft.ops.Graph.bfsDistances(coMentionPairs(s, dir), "e1", "e2",
        "convolutional neural network", 4)),

    // KG completion first pass: Adamic-Adar scores for non-adjacent
    // entity pairs of the co-mention graph, top 30 — integer-floored
    // per-center weights so the sum is order-free and hash-exact
    "kg_linkpred" -> ((s, dir) =>
      graft.ops.Graph.adamicAdar(coMentionPairs(s, dir), "e1", "e2", 30)))

  // ---------------------------------------------------------------- oracles
  private val acronymBlacklistSql =
    Seq("THE", "AND", "FOR", "NOT", "BUT", "ARE", "WAS",
      "HAS", "HAD", "CAN", "MAY", "ALL", "ANY", "ITS").map(q).mkString(", ")
  private val paperCommonSql =
    RefAnalyzers.PaperCommonWords.toSeq.sorted.map(q).mkString(", ")

  /** Technical-term CTEs over kgenr → `mentions(url, entity_key, surface,
    * kind, w)` (regex counts; ≥2 filter; the top-30 cap never binds — the
    * corpus plants ≤8 distinct terms per doc). */
  private val mentionsCtes: String =
    s"""acr_f AS (
       |  SELECT url, term, count(*) AS w
       |  FROM (SELECT url, unnest(regexp_extract_all(t, '\\b([A-Z]{2,6})\\b', 1)) AS term FROM kgenr)
       |  WHERE term NOT IN ($acronymBlacklistSql)
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |phr_f AS (
       |  SELECT url, term, count(*) AS w
       |  FROM (SELECT url, unnest(regexp_extract_all(t, '\\b([A-Z][a-z]+(?:\\s+[A-Z][a-z]+)+)\\b', 1)) AS term FROM kgenr)
       |  WHERE strlen(term) >= 5 AND strlen(term) <= 60
       |    AND len(list_filter(string_split_regex(lower(term), '\\s+'),
       |            x -> x NOT IN ($paperCommonSql))) > 0
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |hyp_f AS (
       |  SELECT url, term, count(*) AS w
       |  FROM (SELECT url, unnest(regexp_extract_all(t, '\\b([a-z]+-[a-z]+(?:-[a-z]+)*)\\b', 1)) AS term FROM kgenr)
       |  WHERE strlen(term) >= 5 GROUP BY 1, 2 HAVING count(*) >= 2),
       |mentions AS (
       |  SELECT url, lower(term) AS entity_key, term AS surface,
       |         CASE WHEN regexp_matches(term, '^[A-Z]{2,6}$$') THEN 'acronym'
       |              WHEN contains(term, '-') THEN 'technique'
       |              ELSE 'concept' END AS kind, w
       |  FROM (SELECT * FROM acr_f UNION ALL SELECT * FROM phr_f UNION ALL SELECT * FROM hyp_f))""".stripMargin

  /** Linking + CC CTEs (Pipeline/EntityLinking semantics): per-url alias
    * pairs by initials match, global ambiguity split, context-similarity
    * resolution (profile overlap + 1e6 local bonus, ties → exp_key asc),
    * MinHash-LSH name blocking over concept keys (char-4 shingles, 8
    * hashes, 4 bands of 2, exact-Jaccard ≥ 0.7 — mirrors
    * EntityLinking.nameSimilarityEdges), transitive-closure CC over
    * unambiguous ∪ name-sim edges, then the two-phase canonicalization
    * aggregates. Requires `WITH RECURSIVE`. */
  private val graphCtes: String =
    s"""pairs AS (
       |  SELECT DISTINCT m1.url, m1.entity_key AS acr_key, m2.entity_key AS exp_key
       |  FROM mentions m1 JOIN mentions m2 ON m1.url = m2.url
       |  WHERE m1.kind = 'acronym' AND m2.kind = 'concept'
       |    AND array_to_string(list_transform(string_split(m2.surface, ' '),
       |          w -> upper(substr(w, 1, 1))), '') = m1.surface),
       |gpairs AS (SELECT DISTINCT acr_key, exp_key FROM pairs),
       |ncand AS (SELECT acr_key, count(*) AS n FROM gpairs GROUP BY 1),
       |uedges AS (SELECT g.acr_key AS key_a, g.exp_key AS key_b
       |           FROM gpairs g JOIN ncand USING (acr_key) WHERE n = 1),
       |amb AS (SELECT g.acr_key, g.exp_key
       |        FROM gpairs g JOIN ncand USING (acr_key) WHERE n > 1),
       |urlkw AS (SELECT g.url, k.keyword AS kw FROM kw_pick k JOIN kgenr g USING (doc_id)),
       |expm AS (
       |  SELECT DISTINCT m.url, m.entity_key AS exp_key
       |  FROM mentions m JOIN (SELECT DISTINCT exp_key FROM amb) e ON m.entity_key = e.exp_key
       |  WHERE m.kind = 'concept'),
       |prof AS (
       |  SELECT exp_key, kw FROM (
       |    SELECT exp_key, kw,
       |           row_number() OVER (PARTITION BY exp_key ORDER BY n DESC, kw ASC) AS rn
       |    FROM (SELECT e.exp_key, u.kw, count(*) AS n
       |          FROM expm e JOIN urlkw u ON u.url = e.url GROUP BY 1, 2))
       |  WHERE rn <= 20),
       |ovl AS (
       |  SELECT u.url, p.exp_key, count(*) AS ctx
       |  FROM urlkw u JOIN prof p ON p.kw = u.kw GROUP BY 1, 2),
       |grid AS (
       |  SELECT m.url, m.entity_key AS acr_key, m.surface, m.kind, m.w, a.exp_key
       |  FROM mentions m JOIN amb a ON a.acr_key = m.entity_key),
       |resolved AS (
       |  SELECT url, exp_key AS entity_key, surface, kind, w FROM (
       |    SELECT g.url, g.exp_key, g.surface, g.kind, g.w,
       |           row_number() OVER (PARTITION BY g.url, g.acr_key, g.surface
       |             ORDER BY coalesce(o.ctx, 0) +
       |                      CASE WHEN l.url IS NOT NULL THEN 1000000 ELSE 0 END DESC,
       |               g.exp_key ASC) AS rn
       |    FROM grid g
       |    LEFT JOIN ovl o ON o.url = g.url AND o.exp_key = g.exp_key
       |    LEFT JOIN pairs l ON l.url = g.url AND l.acr_key = g.acr_key AND l.exp_key = g.exp_key)
       |  WHERE rn = 1),
       |linked AS (
       |  SELECT url, entity_key, surface, kind, w FROM mentions
       |  WHERE entity_key NOT IN (SELECT DISTINCT acr_key FROM amb)
       |  UNION ALL SELECT * FROM resolved),
       |ckeys AS (SELECT DISTINCT entity_key AS k FROM mentions WHERE kind = 'concept'),
       |ksh AS (
       |  SELECT DISTINCT k,
       |         unnest(list_transform(generate_series(1, greatest(1, strlen(k) - 3)),
       |                               i -> substr(k, i::int, 4))) AS sh
       |  FROM ckeys),
       |ksig AS (
       |  SELECT k, seed, min(${DataOps.minhashHashSql("sh")}) AS minhash
       |  FROM ksh, generate_series(0, 7) AS t(seed) GROUP BY 1, 2),
       |kband AS (
       |  SELECT k, (seed // 2)::INT AS band,
       |         md5(string_agg(minhash::VARCHAR, ':' ORDER BY seed)) AS bucket
       |  FROM ksig GROUP BY 1, 2),
       |kcand AS (
       |  SELECT DISTINCT a.k AS id1, b.k AS id2
       |  FROM kband a JOIN kband b USING (band, bucket) WHERE a.k < b.k),
       |ksz AS (SELECT k, count(*) AS sz FROM ksh GROUP BY 1),
       |namesim AS (
       |  SELECT x.id1 AS key_a, x.id2 AS key_b FROM (
       |    SELECT c.id1, c.id2, count(*) AS i
       |    FROM kcand c
       |    JOIN ksh s1 ON s1.k = c.id1
       |    JOIN ksh s2 ON s2.k = c.id2 AND s2.sh = s1.sh
       |    GROUP BY 1, 2) x
       |  JOIN ksz z1 ON z1.k = x.id1 JOIN ksz z2 ON z2.k = x.id2
       |  WHERE round(x.i * 1.0 / (z1.sz + z2.sz - x.i), 4) >= 0.7),
       |alledges AS (SELECT key_a, key_b FROM uedges
       |             UNION SELECT key_a, key_b FROM namesim),
       |esym AS (SELECT key_a AS a, key_b AS b FROM alledges
       |         UNION SELECT key_b, key_a FROM alledges),
       |walk(a, b) AS (
       |  SELECT a, b FROM esym
       |  UNION
       |  SELECT w.a, e.b FROM walk w JOIN esym e ON w.b = e.a),
       |cc AS (SELECT a AS entity_key, least(a, min(b)) AS comp FROM walk GROUP BY 1),
       |lab AS (
       |  SELECT l.url, l.entity_key, l.surface, l.kind, l.w,
       |         coalesce(cc.comp, l.entity_key) AS comp
       |  FROM linked l LEFT JOIN cc USING (entity_key)),
       |perurl AS (SELECT comp, url, sum(w)::BIGINT AS weight FROM lab GROUP BY 1, 2),
       |nurls AS (SELECT comp, count(*) AS n_urls FROM perurl GROUP BY 1),
       |perkey AS (SELECT comp, entity_key, kind, sum(w) AS w FROM lab GROUP BY 1, 2, 3),
       |canon AS (
       |  SELECT comp, entity_key AS canonical_name, kind FROM (
       |    SELECT *, row_number() OVER (PARTITION BY comp
       |      ORDER BY w DESC, entity_key ASC, kind ASC) AS rn FROM perkey)
       |  WHERE rn = 1)""".stripMargin

  /** Mark every plain CTE of a generated chain as MATERIALIZED. DuckDB
    * inlines un-annotated CTEs at every reference site; the KG chains
    * reference shared stages (kgenr, mentions, the linking grid, kw_pick)
    * 5–10 times each, and at sf0.01 that re-evaluation made the kg_nodes
    * oracle ~100× slower than the materialized equivalent (84 s → 0.8 s,
    * measured, identical rows). Recursive CTEs (`walk(a, b) AS`) don't
    * match the pattern — their heads carry a column list — so they stay
    * untouched, as required. Applied at definition time so every
    * consumer (kg_metrics, kg_stage_rows, pageRankSql/pprSql subtrees,
    * st_kg_* reuse) inherits the fix. */
  private def materializeCtes(sql: String): String =
    sql.replaceAll("""(?m)(\w+) AS \(""", "$1 AS MATERIALIZED (")

  private val kgTriplesSqlPlain: String =
      s"""WITH $kgenrSql,
         |${Extractors.metaCtesOver("kgenr")},
         |${Extractors.summaryCteOver("kgenr")},
         |${Extractors.keywordCtes("kgenr", "t")},
         |$mentionsCtes,
         |secs AS (
         |  SELECT url, trim(unnest(regexp_extract_all(t, '${Extractors.sectionRegexSql}', 2))) AS name
         |  FROM kgenr),
         |figs AS (
         |  SELECT url, 'figure' AS kind, g.a || ' ' || g.b AS title
         |  FROM (SELECT url, regexp_extract(t, '(?i)(Figure|Fig\\.?)\\s+(\\d+)[.:]?\\s*([^\\n]{0,200})', ['a','b','c']) AS g FROM kgenr)
         |  UNION ALL
         |  SELECT url, 'table' AS kind, g.a || ' ' || g.b AS title
         |  FROM (SELECT url, regexp_extract(t, '(?i)(Table)\\s+(\\d+)[.:]?\\s*([^\\n]{0,200})', ['a','b','c']) AS g FROM kgenr)),
         |eqs AS (
         |  SELECT url, trim(regexp_extract(t, '(?im)([A-Z][a-z]*\\([^)]+\\))\\s*=\\s*([^,.\\n]+)', 0)) AS content
         |  FROM kgenr)
         |SELECT url, 'hasTitle' AS pred, title AS obj, 'attr' AS kind, 1 AS weight
         |  FROM metax JOIN kgenr USING (doc_id)
         |UNION ALL SELECT url, 'hasAuthor', unnest(authors), 'attr', 1
         |  FROM metax JOIN kgenr USING (doc_id)
         |UNION ALL SELECT url, 'publishedIn', year, 'attr', 1
         |  FROM metax JOIN kgenr USING (doc_id)
         |UNION ALL SELECT url, 'hasDOI', doi, 'attr', 1
         |  FROM metax JOIN kgenr USING (doc_id)
         |UNION ALL SELECT url, 'hasSection', name, 'section', 1 FROM secs
         |UNION ALL SELECT url, 'mentionsFigure', title, kind, 1 FROM figs
         |UNION ALL SELECT url, 'mentionsEntity', surface, kind, w FROM mentions
         |UNION ALL SELECT url, 'containsEquation', content, 'equation', 1 FROM eqs
         |UNION ALL SELECT url, 'hasKeyword', keyword, 'keyword', 1
         |  FROM kw_pick JOIN kgenr USING (doc_id)
         |UNION ALL SELECT url, 'hasSummary', summary, 'attr', 1
         |  FROM summ JOIN kgenr USING (doc_id)""".stripMargin

  private val kgTriplesSql: String = materializeCtes(kgTriplesSqlPlain)

  private val kgNodesSql: String = materializeCtes(
      s"""WITH RECURSIVE $kgenrSql,
         |${Extractors.keywordCtes("kgenr", "t")},
         |$mentionsCtes,
         |$graphCtes,
         |alias_src AS (
         |  SELECT comp, entity_key AS al FROM perkey
         |  UNION SELECT comp, lower(surface) FROM lab),
         |aliases AS (
         |  SELECT comp, array_to_string(list_sort(list(DISTINCT al)), '|') AS aliases
         |  FROM alias_src GROUP BY 1),
         |nment AS (SELECT comp, sum(w)::BIGINT AS n_mentions FROM perkey GROUP BY 1)
         |SELECT c.canonical_name, c.kind, a.aliases, m.n_mentions, u.n_urls
         |FROM canon c
         |JOIN aliases a USING (comp)
         |JOIN nment m USING (comp)
         |JOIN nurls u USING (comp)""".stripMargin)

  private val kgEdgesSql: String = materializeCtes(
      s"""WITH RECURSIVE $kgenrSql,
         |${Extractors.keywordCtes("kgenr", "t")},
         |$mentionsCtes,
         |$graphCtes
         |SELECT p.url AS src_url, 'mentionsEntity' AS pred,
         |       c.canonical_name AS dst_name, p.weight
         |FROM perurl p JOIN canon c USING (comp)""".stripMargin)

  /** Integer-PageRank oracle: the Graph.pageRank recurrence unrolled as
    * one CTE pair (contributions, ranks) per sweep over the full
    * kg_edges oracle. `//` (DuckDB) and `div` (Spark) both truncate, and
    * every operand is a nonneg long — bit-identical per iteration. */
  /** Fixed-`rounds` k-core peel unrolled as chained CTEs — the SQL twin
    * of Graph.kCore's loop (v0 = all vertices with degrees; each round
    * induces edges on the previous survivor set, recounts degrees, and
    * keeps deg ≥ k). Monotone, so rounds past convergence are no-ops.
    * Every CTE is MATERIALIZED for the same reason kCore checkpoints
    * each round: prs and each vN are referenced twice per round, and an
    * inlining engine would expand the tree 2^rounds-fold (the pageRank
    * oracle's documented DuckDB trap — here it surfaces as thousands of
    * re-opened parquet scans). */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val head =
      s"""WITH mentions AS MATERIALIZED (
         |  SELECT DISTINCT url, lower(obj) AS e
         |  FROM ($kgTriplesSql) WHERE pred = 'mentionsEntity'),
         |prs AS MATERIALIZED (
         |  SELECT DISTINCT m1.e AS e1, m2.e AS e2
         |  FROM mentions m1 JOIN mentions m2 USING (url)
         |  WHERE m1.e < m2.e),
         |v0 AS MATERIALIZED (
         |  SELECT v, count(*) AS deg FROM (
         |    SELECT e1 AS v FROM prs UNION ALL SELECT e2 AS v FROM prs)
         |  GROUP BY 1)""".stripMargin
    val loop = (1 to rounds).map { r =>
      s"""e$r AS MATERIALIZED (
         |  SELECT e1, e2 FROM prs
         |  JOIN v${r - 1} a ON prs.e1 = a.v JOIN v${r - 1} b ON prs.e2 = b.v),
         |v$r AS MATERIALIZED (
         |  SELECT v, count(*) AS deg FROM (
         |    SELECT e1 AS v FROM e$r UNION ALL SELECT e2 AS v FROM e$r)
         |  GROUP BY 1 HAVING count(*) >= $k)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$loop\nSELECT v AS vertex, deg::BIGINT AS deg FROM v$rounds"
  }

  /** Shared co-mention graph CTEs (`mentions`, `prs`) over the triples
    * oracle — MATERIALIZED for the same 2^rounds-inlining reason as
    * kCoreSql. */
  private val coMentionCtes: String =
    s"""mentions AS MATERIALIZED (
       |  SELECT DISTINCT url, lower(obj) AS e
       |  FROM ($kgTriplesSql) WHERE pred = 'mentionsEntity'),
       |prs AS MATERIALIZED (
       |  SELECT DISTINCT m1.e AS e1, m2.e AS e2
       |  FROM mentions m1 JOIN mentions m2 USING (url)
       |  WHERE m1.e < m2.e),
       |esym AS MATERIALIZED (
       |  SELECT e1 AS a, e2 AS b FROM prs
       |  UNION ALL SELECT e2, e1 FROM prs)""".stripMargin

  /** Fixed-round synchronous LPA unrolled as chained CTEs — the SQL twin
    * of Graph.labelPropagation (same tie rule: cnt DESC, label DESC). */
  private def lpaSql(rounds: Int): String = {
    val head =
      s"""WITH $coMentionCtes,
         |l0 AS MATERIALIZED (SELECT DISTINCT a AS v, a AS label FROM esym)""".stripMargin
    val loop = (1 to rounds).map { r =>
      s"""c$r AS (
         |  SELECT e.a, l.label, count(*) AS cnt
         |  FROM esym e JOIN l${r - 1} l ON l.v = e.b GROUP BY 1, 2),
         |l$r AS MATERIALIZED (
         |  SELECT a AS v, label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY a
         |      ORDER BY cnt DESC, label DESC) AS rn FROM c$r)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$loop\nSELECT v AS vertex, label AS community FROM l$rounds"
  }

  /** Depth-bounded transitive closure + min — BFS distance's SQL twin
    * (first discovery in a frontier BFS = minimum hop count). */
  private def bfsSql(source: String, maxHops: Int): String =
    s"""WITH RECURSIVE $coMentionCtes,
       |walk(v, d) AS (
       |  SELECT ${q(source)} AS v, 0 AS d
       |  UNION
       |  SELECT e.b, w.d + 1 FROM walk w JOIN esym e ON e.a = w.v
       |  WHERE w.d < $maxHops)
       |SELECT v AS vertex, min(d)::BIGINT AS dist FROM walk GROUP BY 1""".stripMargin

  /** Adamic-Adar's SQL twin over the co-mention graph: per-center
    * weight ⌊scale / ln(deg)⌋ floors to an exact integer BEFORE the sum
    * (order-free, hash-exact — DuckDB's bare `::BIGINT` on a double
    * ROUNDS, so the floor is explicit). */
  private def adamicAdarSql(topK: Int, maxDegree: Long, scale: Long): String =
    s"""WITH $coMentionCtes,
       |deg AS MATERIALIZED (SELECT a, count(*) AS deg FROM esym GROUP BY 1),
       |ctr AS (
       |  SELECT a AS z, floor($scale / ln(deg))::BIGINT AS w
       |  FROM deg WHERE deg >= 2 AND deg <= $maxDegree),
       |wedges AS (
       |  SELECT l.b AS u, r.b AS v, c.w
       |  FROM esym l JOIN esym r ON l.a = r.a AND l.b < r.b
       |  JOIN ctr c ON c.z = l.a),
       |sc AS (SELECT u, v, sum(w)::BIGINT AS score FROM wedges GROUP BY 1, 2)
       |SELECT u AS e1, v AS e2, score FROM sc
       |LEFT JOIN prs p ON p.e1 = sc.u AND p.e2 = sc.v
       |WHERE p.e1 IS NULL
       |ORDER BY score DESC, e1 ASC, e2 ASC LIMIT $topK""".stripMargin

  private[queries] def pageRankSql(edgesSql: String, iters: Int, scale: Long, topK: Int): String = {
    val sb = new StringBuilder
    // AS MATERIALIZED: the edges subtree is the most expensive oracle in
    // the suite and ed/verts are referenced by every sweep — inlining
    // them into each reference would multiply that cost ~12x
    sb.append(s"WITH kge AS MATERIALIZED ($edgesSql),\n")
    sb.append("ed AS MATERIALIZED (SELECT src_url AS src, dst_name AS dst, weight AS w FROM kge\n")
    sb.append("      UNION ALL SELECT dst_name, src_url, weight FROM kge),\n")
    sb.append("deg AS MATERIALIZED (SELECT src, sum(w)::BIGINT AS wdeg FROM ed GROUP BY 1),\n")
    sb.append("verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM ed),\n")
    sb.append("nn AS (SELECT count(*)::BIGINT AS n FROM verts),\n")
    sb.append(s"r0 AS (SELECT v, $scale // n AS r FROM verts CROSS JOIN nn),\n")
    for (k <- 1 to iters) {
      sb.append(s"c$k AS (SELECT ed.dst AS v, sum((r.r * ed.w) // d.wdeg)::BIGINT AS cs\n")
      sb.append(s"       FROM ed JOIN deg d USING (src) JOIN r${k - 1} r ON r.v = ed.src GROUP BY 1),\n")
      sb.append(s"r$k AS (SELECT verts.v, (15 * ($scale // n)) // 100 + (85 * coalesce(cs, 0)) // 100 AS r\n")
      sb.append(s"       FROM verts LEFT JOIN c$k USING (v) CROSS JOIN nn),\n")
    }
    sb.setLength(sb.length - 2) // drop the trailing ",\n"
    sb.append(s"\nSELECT v AS vertex, r AS pr FROM r$iters ORDER BY r DESC, v ASC LIMIT $topK")
    sb.toString
  }

  /** [[pageRankSql]]'s recurrence with the teleport concentrated on the
    * `nSeeds` lexicographically-first urls — the oracle twin of
    * `Graph.personalizedPageRank`. */
  private[queries] def pprSql(edgesSql: String, nSeeds: Int, iters: Int,
      scale: Long, topK: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH kge AS MATERIALIZED ($edgesSql),\n")
    sb.append("ed AS MATERIALIZED (SELECT src_url AS src, dst_name AS dst, weight AS w FROM kge\n")
    sb.append("      UNION ALL SELECT dst_name, src_url, weight FROM kge),\n")
    sb.append("deg AS MATERIALIZED (SELECT src, sum(w)::BIGINT AS wdeg FROM ed GROUP BY 1),\n")
    sb.append(s"seeds AS MATERIALIZED (SELECT DISTINCT src_url AS v FROM kge ORDER BY 1 LIMIT $nSeeds),\n")
    sb.append("verts AS MATERIALIZED (SELECT DISTINCT ed.src AS v,\n")
    sb.append("      CASE WHEN s.v IS NULL THEN 0 ELSE 1 END AS sflag\n")
    sb.append("      FROM ed LEFT JOIN seeds s ON s.v = ed.src),\n")
    sb.append("ns AS (SELECT count(*)::BIGINT AS n FROM seeds),\n")
    sb.append(s"r0 AS (SELECT v, CASE WHEN sflag = 1 THEN $scale // n ELSE 0 END AS r\n")
    sb.append("       FROM verts CROSS JOIN ns),\n")
    for (k <- 1 to iters) {
      sb.append(s"c$k AS (SELECT ed.dst AS v, sum((r.r * ed.w) // d.wdeg)::BIGINT AS cs\n")
      sb.append(s"       FROM ed JOIN deg d USING (src) JOIN r${k - 1} r ON r.v = ed.src GROUP BY 1),\n")
      sb.append(s"r$k AS (SELECT verts.v, CASE WHEN sflag = 1 THEN (15 * ($scale // n)) // 100 ELSE 0 END\n")
      sb.append(s"       + (85 * coalesce(cs, 0)) // 100 AS r\n")
      sb.append(s"       FROM verts LEFT JOIN c$k USING (v) CROSS JOIN ns),\n")
    }
    sb.setLength(sb.length - 2)
    sb.append(s"\nSELECT v AS vertex, r AS ppr FROM r$iters ORDER BY r DESC, v ASC LIMIT $topK")
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "kg_ppr" -> pprSql(kgEdgesSql, 5, 5, 1000000000L, 20),
    // the per-partition lineage ledger's conservation invariant: the sum
    // of per-partition rows for EVERY materialized stage equals that
    // stage's independently re-derived count
    "kg_metrics" ->
      s"""SELECT 'triples' AS stage,
         |       (SELECT count(*) FROM ($kgTriplesSql))::BIGINT AS total_rows
         |UNION ALL SELECT 'nodes',
         |       (SELECT count(*) FROM ($kgNodesSql))::BIGINT
         |UNION ALL SELECT 'edges',
         |       (SELECT count(*) FROM ($kgEdgesSql))::BIGINT""".stripMargin,
    "kg_triples" -> kgTriplesSql,
    "kg_nodes" -> kgNodesSql,
    "kg_edges" -> kgEdgesSql,

    // support confidence over the re-derived triples; `//` and Spark's
    // floor(long*1e6/long) are the same exact integer program (operands
    // < 2^53)
    "kg_triple_support" ->
      s"""WITH t AS MATERIALIZED ($kgTriplesSql),
         |n AS (SELECT count(DISTINCT url) AS corpus_urls FROM t)
         |SELECT pred, obj, kind,
         |       count(DISTINCT url)::BIGINT AS n_urls,
         |       sum(weight)::BIGINT AS total_weight,
         |       (count(DISTINCT url) * 1000000 // (SELECT corpus_urls FROM n))::BIGINT AS conf_ppm
         |FROM t GROUP BY 1, 2, 3
         |HAVING count(DISTINCT url) >= 2""".stripMargin,

    // same perturbed gold; INTERSECT over the distinct key sets is the
    // SQL form of the left-semi membership count
    "kg_eval_pr" ->
      s"""WITH t AS MATERIALIZED ($kgTriplesSql),
         |got AS (SELECT DISTINCT url, pred, obj FROM t),
         |gold AS (
         |  SELECT DISTINCT url, pred, obj FROM t
         |  WHERE regexp_extract(url, '(\\d+)$$', 1)::BIGINT % 3 <> 0
         |  UNION
         |  SELECT DISTINCT url, 'noisePred' AS pred,
         |         'planted-missing-fact-' || (regexp_extract(url, '(\\d+)$$', 1)::BIGINT)::VARCHAR AS obj
         |  FROM t WHERE regexp_extract(url, '(\\d+)$$', 1)::BIGINT % 7 = 0),
         |m AS (SELECT count(*)::BIGINT AS n_match
         |      FROM (SELECT * FROM got INTERSECT SELECT * FROM gold)),
         |ng AS (SELECT count(*)::BIGINT AS n_got FROM got),
         |nh AS (SELECT count(*)::BIGINT AS n_gold FROM gold)
         |SELECT n_got, n_gold, n_match,
         |       (n_match * 1000000 // n_got)::BIGINT AS precision_ppm,
         |       (n_match * 1000000 // n_gold)::BIGINT AS recall_ppm,
         |       (2 * n_match * 1000000 // (n_got + n_gold))::BIGINT AS f1_ppm
         |FROM m, ng, nh""".stripMargin,

    // same 5-snapshot derivation as the Spark side: snapshot date =
    // 2026-01-01 + (doc_id % 5) days, doc_id recovered from the url tail
    "kg_edge_intervals" ->
      s"""WITH t AS MATERIALIZED ($kgTriplesSql),
         |snap AS (
         |  SELECT *, strftime(DATE '2026-01-01'
         |      + (regexp_extract(url, '(\\d+)$$', 1)::BIGINT % 5)::INT, '%Y-%m-%d') AS snap_date
         |  FROM t),
         |latest AS (SELECT max(snap_date) AS corpus_latest FROM snap)
         |SELECT pred, obj, kind,
         |       min(snap_date) AS first_seen, max(snap_date) AS last_seen,
         |       count(DISTINCT snap_date)::BIGINT AS n_snapshots,
         |       count(DISTINCT url)::BIGINT AS n_urls,
         |       (max(snap_date) = (SELECT corpus_latest FROM latest)) AS is_current
         |FROM snap GROUP BY 1, 2, 3""".stripMargin,
    "kg_pagerank" -> pageRankSql(kgEdgesSql, 5, 1000000000L, 20),

    // the warm-start equality IS the oracle: 3 cold + 2 warm sweeps must
    // hash-equal the cold 5-sweep program
    "kg_pagerank_warm" -> pageRankSql(kgEdgesSql, 5, 1000000000L, 20),

    "kg_kcore" -> kCoreSql(2, 8),

    "kg_communities" -> lpaSql(3),

    "kg_bfs" -> bfsSql("convolutional neural network", 4),

    "kg_linkpred" -> adamicAdarSql(30, 10000L, 1000000000L),

    "kg_triangles" ->
      s"""WITH mentions AS (
         |  SELECT DISTINCT url, lower(obj) AS e
         |  FROM ($kgTriplesSql) WHERE pred = 'mentionsEntity'),
         |prs AS (
         |  SELECT DISTINCT m1.e AS e1, m2.e AS e2
         |  FROM mentions m1 JOIN mentions m2 USING (url)
         |  WHERE m1.e < m2.e)
         |SELECT count(*)::BIGINT AS n_triangles
         |FROM prs p1
         |JOIN prs p2 ON p2.e1 = p1.e1 AND p2.e2 > p1.e2
         |JOIN prs p3 ON p3.e1 = p1.e2 AND p3.e2 = p2.e2""".stripMargin,

    // north_rule lineage: the SQL-expressible slice of the metrics
    // artifact — per-stage output row counts, each re-derived by counting
    // the corresponding full oracle query (nested WITH subqueries)
    "kg_stage_rows" ->
      s"""SELECT 'extract_clean_rows' AS stage,
         |       (SELECT count(*) FROM documents)::BIGINT AS rows
         |UNION ALL SELECT 'triples_rows',
         |       (SELECT count(*) FROM ($kgTriplesSql))::BIGINT
         |UNION ALL SELECT 'nodes',
         |       (SELECT count(*) FROM ($kgNodesSql))::BIGINT
         |UNION ALL SELECT 'edges',
         |       (SELECT count(*) FROM ($kgEdgesSql))::BIGINT""".stripMargin,

    // K1/K2: the chunker's greedy packing is a sequential fold
    // (curLen += len(word)+1, reset on >1500) — expressed as a recursive
    // CTE advancing one word per step (depth = max words/doc, ~300 at
    // sf0.01). On cleaned text (no newlines) headers never fire, so
    // section is always NULL — the pinned reference quirk (SURVEY §2.4).
    // Cleaned text is space-collapsed ASCII, so Py.split == split(' ')
    // and Py.len == strlen.
    "kg_chunks" ->
      """WITH RECURSIVE clean AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |           lower(repeat(text || ' ', 3)),
        |           '\b[\w.-]+?@\w+?\.\w+?\b', '', 'g'),
        |           '\[[^\]]*\]', '', 'g'),
        |           '[^\x00-\x7F]+', '', 'g'),
        |           '<[^>]+>', '', 'g'),
        |           '\s+', ' ', 'g')) AS c
        |  FROM documents WHERE doc_id % 2 = 0),
        |wz AS (
        |  SELECT doc_id, w, i, strlen(w) + 1 AS wl FROM (
        |    SELECT doc_id, unnest(string_split(c, ' ')) AS w,
        |           generate_subscripts(string_split(c, ' '), 1) AS i
        |    FROM clean WHERE c <> '')),
        |state AS (
        |  SELECT doc_id, i, w, wl AS cur, 0 AS cid FROM wz WHERE i = 1
        |  UNION ALL
        |  SELECT n.doc_id, n.i, n.w,
        |         CASE WHEN s.cur + n.wl > 1500 THEN n.wl ELSE s.cur + n.wl END,
        |         CASE WHEN s.cur + n.wl > 1500 THEN s.cid + 1 ELSE s.cid END
        |  FROM state s JOIN wz n ON n.doc_id = s.doc_id AND n.i = s.i + 1)
        |SELECT doc_id, cid AS chunk_id, string_agg(w, ' ' ORDER BY i) AS content,
        |       NULL::VARCHAR AS section
        |FROM state GROUP BY 1, 2""".stripMargin)
}
