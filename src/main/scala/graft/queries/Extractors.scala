package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.{RefAnalyzers, Udfs}
import graft.ops.Layout

/** Oracle-checked coverage of the reference extractor families (SURVEY
  * §2.9 E1-E11, §2.5 A1-A4) — driven through the REAL Scala extractors
  * (Udfs.*), with DuckDB oracles that recompute the same regex programs.
  *
  * The raw documents table is lowercase ASCII prose with no structure, so
  * extractors would see no signal; each query therefore runs on an
  * `enriched` text assembled identically in Spark and DuckDB (title line,
  * author line with middle initials — the reference's author regex
  * requires them (/root/reference/app_enhanced.py:231, golden-pinned) —
  * year/DOI line, section headers, entity sentences, figure/table lines,
  * an equation, and an email/brackets/html/non-ASCII line for the
  * cleaning kernel). */
object Extractors {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private val entityLine =
    "The Convolutional Neural Network (CNN) uses self-attention. " +
      "The Convolutional Neural Network and CNN with self-attention and pre-training win, and pre-training helps."
  private val authorLine = "Jane B. Smith, John C. Doe, Mary D. Chen"
  private val eqLine = "Loss(x) = softmax(Wx + b)"
  private val closing = "We conclude that scalable pipelines matter."

  /** Spark-side enriched text (must concat byte-identically to `enrSql`). */
  private def enriched: Column = concat_ws("\n",
    concat(lit("A Study of Scalable Methods for Topic "), pmod(col("doc_id"), lit(7))),
    lit(authorLine),
    concat(lit("20"), lpad(pmod(col("doc_id"), lit(30)).cast("string"), 2, "0"),
      lit(" doi: 10.1234/graft."), col("doc_id")),
    lit("Abstract"),
    col("text"),
    lit(entityLine),
    concat(lit("Figure "), (pmod(col("doc_id"), lit(4)) + 1).cast("string"),
      lit(": accuracy over epochs for run "), pmod(col("doc_id"), lit(100))),
    concat(lit("Table "), (pmod(col("doc_id"), lit(3)) + 1).cast("string"),
      lit(": dataset statistics summary")),
    lit(eqLine),
    concat(lit("Contact author"), col("doc_id"),
      lit("@example.com with [bracketed citation] and <b>bold</b> naïve text.")),
    lit(""),
    lit("Introduction"),
    lit(closing))

  /** DuckDB-side identical enrichment, as a CTE named `enr(doc_id, t)`. */
  private val enrSql: String =
    s"""enr AS (SELECT doc_id,
       |  'A Study of Scalable Methods for Topic ' || (doc_id % 7) || chr(10) ||
       |  '$authorLine' || chr(10) ||
       |  '20' || lpad((doc_id % 30)::VARCHAR, 2, '0') || ' doi: 10.1234/graft.' || doc_id || chr(10) ||
       |  'Abstract' || chr(10) ||
       |  text || chr(10) ||
       |  '$entityLine' || chr(10) ||
       |  'Figure ' || (doc_id % 4 + 1) || ': accuracy over epochs for run ' || (doc_id % 100) || chr(10) ||
       |  'Table ' || (doc_id % 3 + 1) || ': dataset statistics summary' || chr(10) ||
       |  '$eqLine' || chr(10) ||
       |  'Contact author' || doc_id || '@example.com with [bracketed citation] and <b>bold</b> naïve text.' || chr(10) ||
       |  '' || chr(10) ||
       |  'Introduction' || chr(10) ||
       |  '$closing' AS t
       |FROM documents)""".stripMargin

  private def enrDf(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), enriched.as("t"))

  /** [[enrDf]] for the regex-UDF extractors; trivial column queries
    * keep the narrow scan. */
  private def enrDfSpread(s: SparkSession, dir: String): DataFrame =
    Layout.spread(docs(s, dir)).select(col("doc_id"), enriched.as("t"))

  private val stopwordList: String =
    RefAnalyzers.Stopwords.toSeq.sorted.map(w => s"'$w'").mkString(",")

  /** E5 section-header regex (RE2 form of RefAnalyzers.sectionHeaderPat);
    * capture group 2 is the section name. */
  private[queries] val sectionRegexSql: String =
    "(?im)(?:^|\\n)\\s*(\\d+\\.?\\s+)?(Abstract|Introduction|Related\\s+Work|Background|" +
      "Method(?:ology|s)?|Approach|Framework|" +
      "Experiment(?:s|al)?(?:\\s+(?:Setup|Results))?|" +
      "Results?(?:\\s+and\\s+Discussion)?|Discussion|Analysis|Evaluation|" +
      "Conclusion(?:s)?(?:\\s+and\\s+Future\\s+Work)?|Future\\s+Work|Limitations|" +
      "Acknowledgment(?:s)?|References|Appendix)\\s*(?:\\n|$)"

  /** Keyword-merge CTE chain (A2-A4, document_analyzer.py:171-222) over
    * relation `rel` with text column `txt`; yields
    * `kw_pick(doc_id, position, keyword)` (positions 1-20, bigrams
    * first). Shared by a4_keywords (over documents), en_questions /
    * s7_report (over the enriched text), and the kg_* oracles. */
  private[queries] def keywordCtes(rel: String, txt: String): String =
    s"""toklist AS (
       |  SELECT doc_id, list_filter(regexp_extract_all(lower($txt), '\\b[a-zA-Z]{3,}\\b'),
       |           x -> x NOT IN ($stopwordList) AND strlen(x) <= 25) AS toks
       |  FROM $rel),
       |tok AS (
       |  SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS i FROM toklist),
       |uni AS (
       |  SELECT doc_id, token, count(*) AS c, min(i) AS fi FROM tok GROUP BY 1, 2),
       |uni_r AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, fi ASC) AS rn FROM uni),
       |top_uni AS (
       |  SELECT doc_id, token, c, fi,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY rn) AS urank
       |  FROM uni_r WHERE rn <= 40 AND c >= 2),
       |bi0 AS (
       |  SELECT doc_id, unnest(bgs) AS bg, generate_subscripts(bgs, 1) AS i
       |  FROM (SELECT doc_id,
       |          list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
       |            i -> CASE WHEN toks[i] <> toks[i + 1] THEN toks[i] || ' ' || toks[i + 1] END) AS bgs
       |        FROM toklist)),
       |bi AS (
       |  SELECT doc_id, bg, min(i) AS fi, count(*) AS c
       |  FROM bi0 WHERE bg IS NOT NULL GROUP BY 1, 2),
       |bi_r AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, fi ASC) AS rn FROM bi),
       |bi8 AS (
       |  SELECT doc_id, bg,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY rn) AS brank
       |  FROM bi_r WHERE rn <= 15 AND c >= 3
       |  QUALIFY brank <= 8),
       |nbig AS (SELECT doc_id, count(*) AS nb FROM bi8 GROUP BY 1),
       |seen AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(bg, ' ')) AS w FROM bi8),
       |uni_elig AS (
       |  SELECT u.doc_id, u.token, u.urank
       |  FROM top_uni u
       |  LEFT JOIN seen s ON s.doc_id = u.doc_id AND s.w = u.token
       |  WHERE s.w IS NULL AND regexp_matches(u.token, '[aeiou]')),
       |uni_pick AS (
       |  SELECT e.doc_id, e.token,
       |         row_number() OVER (PARTITION BY e.doc_id ORDER BY e.urank) AS prank,
       |         coalesce(n.nb, 0) AS nb
       |  FROM uni_elig e LEFT JOIN nbig n ON n.doc_id = e.doc_id),
       |kw_pick AS (
       |  SELECT doc_id, brank::BIGINT AS position, bg AS keyword FROM bi8
       |  UNION ALL
       |  SELECT doc_id, (nb + prank)::BIGINT AS position, token AS keyword
       |  FROM uni_pick WHERE nb + prank <= 20)""".stripMargin

  /** E13 summary CTE over `rel(doc_id, t)` → `summ(doc_id, summary)`.
    * Python's sentence split `(?<=[.!?])\s+` needs lookbehind (not RE2);
    * the equivalent lookaround-free form rewrites `([.!?])\s+` to
    * `\1<US>` (same split points: `\s` can never be `[.!?]`) and splits
    * on the U+001F sentinel. The fallback branch (no abstract, or ≤50
    * chars) is provably dead on the enriched corpora (every doc has an
    * Abstract header and a >50-char abstract), so only the abstract path
    * is expressed. */
  private[queries] def summaryCteOver(rel: String): String =
    s"""abs AS (
      |  SELECT doc_id,
      |         trim(regexp_extract(t,
      |           '(?is)(?:abstract|summary)\\s*[:\\n]\\s*(.*?)(?:\\n\\s*(?:introduction|keywords|1\\.|1\\s|I\\.))',
      |           1), ' ' || chr(10) || chr(9)) AS a
      |  FROM $rel),
      |summ AS (
      |  SELECT doc_id,
      |         array_to_string(
      |           list_filter(
      |             list_transform(
      |               string_split(regexp_replace(a, '([.!?])\\s+', '\\1' || chr(31), 'g'), chr(31)),
      |               x -> trim(x, ' ' || chr(10) || chr(9))),
      |             x -> strlen(x) > 20)[1:5],
      |           ' ') AS summary
      |  FROM abs)""".stripMargin

  private val summaryCte: String = summaryCteOver("enr")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C1 over live-pattern-rich input (email, brackets, html, non-ASCII),
    // through the native Catalyst expression (codegen'd, non-nullable)
    "en_clean" -> ((s, dir) => {
      graft.ext.GraftFunctions.register(s)
      enrDf(s, dir).select(col("doc_id"), expr("graft_clean_text(t)").as("clean_text"))
    }),

    // E1-E4 metadata through the real extractor
    "en_metadata" -> ((s, dir) =>
      enrDf(s, dir)
        .select(col("doc_id"), Udfs.metadata(col("t")).as("m"))
        .select(col("doc_id"), col("m._1").as("title"),
          concat_ws("|", col("m._2")).as("authors"),
          col("m._3").as("year"), col("m._4").as("doi"))),

    // E5 section structure (names; previews/pages are golden-tested)
    "en_sections" -> ((s, dir) =>
      enrDfSpread(s, dir)
        .select(col("doc_id"), explode(Udfs.sections(col("t"))).as("s"))
        .select(col("doc_id"), col("s.name").as("name"))),

    // E6 figure/table references
    "en_figures" -> ((s, dir) =>
      enrDfSpread(s, dir)
        .select(col("doc_id"), explode(Udfs.figureRefs(col("t"))).as("f"))
        .select(col("doc_id"), col("f.kind").as("kind"),
          col("f.title").as("title"), col("f.caption").as("caption"))),

    // E7-E9/A5 technical terms (term + frequency; context golden-tested)
    "en_terms" -> ((s, dir) =>
      enrDfSpread(s, dir)
        .select(col("doc_id"), explode(Udfs.technicalTerms(col("t"))).as("x"))
        .select(col("doc_id"), col("x.term").as("term"),
          col("x.frequency").as("frequency"))),

    // E10 equations (content; ids/pages golden-tested)
    "en_equations" -> ((s, dir) =>
      enrDfSpread(s, dir)
        .select(col("doc_id"), explode(Udfs.equations(col("t"))).as("e"))
        .select(col("doc_id"), col("e.content").as("content"))),

    // A1 document stats
    "en_stats" -> ((s, dir) =>
      enrDf(s, dir)
        .select(col("doc_id"), Udfs.docStats(col("t")).as("d"))
        .select(col("doc_id"), col("d._1").as("words"), col("d._3").as("sentences"),
          col("d._4").as("paragraphs"), col("d._5").as("characters"))),

    // A2 unigram term frequency (shared tokenizer, stopword-filtered)
    "a2_unigram_tf" -> ((s, dir) =>
      Layout.spread(docs(s, dir))
        .select(col("doc_id"), explode(Udfs.keywordTokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("cnt"))),

    // A3 bigram term frequency over adjacent filtered tokens
    "a3_bigram_tf" -> ((s, dir) => {
      val toks = Layout.spread(docs(s, dir))
        .select(col("doc_id"), posexplode(Udfs.keywordTokens(col("text"))).as(Seq("i", "token")))
      val next = toks.select(col("doc_id"), (col("i") - 1).as("i"), col("token").as("token2"))
      toks.join(next, Seq("doc_id", "i"))
        .where(col("token") =!= col("token2"))
        .select(col("doc_id"), concat(col("token"), lit(" "), col("token2")).as("bigram"))
        .groupBy(col("doc_id"), col("bigram"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // A4 full keyword merge (ordered output through the real extractor)
    "a4_keywords" -> ((s, dir) =>
      Layout.spread(docs(s, dir))
        .select(col("doc_id"), posexplode(Udfs.keywords(col("text"))).as(Seq("pos", "keyword")))
        .select(col("doc_id"), (col("pos") + 1).as("position"), col("keyword"))),

    // E13 extractive summary (lookbehind sentence split reproduced in
    // DuckDB via a sentinel rewrite — see summaryCte)
    "en_summary" -> ((s, dir) =>
      enrDf(s, dir).select(col("doc_id"), Udfs.summary(col("t")).as("summary"))),

    // E12 suggested questions
    "en_questions" -> ((s, dir) =>
      enrDfSpread(s, dir)
        .select(col("doc_id"),
          posexplode(Udfs.suggestedQuestions(col("t"))).as(Seq("pos", "question")))
        .select(col("doc_id"), (col("pos") + 1).as("position"), col("question"))),

    // Q2 — relevance gate (/root/reference/src/conversation.py:172-174,
    // config.py:25): a generated answer/summary shorter than
    // MIN_ANSWER_LENGTH=30 is discarded as irrelevant
    "en_relevance_gate" -> ((s, dir) =>
      enrDfSpread(s, dir)
        .select(col("doc_id"), Udfs.summary(col("t")).as("summary"))
        .where(length(col("summary")) >= 30)),

    // C4 — sanitize_html (/root/reference/app_enhanced.py:1256-1263):
    // ordered HTML-entity escaping ('&' first so it never re-escapes the
    // entities it introduces); pure codegen'd column ops, no UDF
    "en_sanitize" -> ((s, dir) =>
      enrDf(s, dir).select(col("doc_id"),
        replace(replace(replace(replace(replace(col("t"),
          lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;")),
          lit("\""), lit("&quot;")), lit("'"), lit("&#39;")).as("sanitized"))),

    // S7 — notes/export sink (/root/reference/app_enhanced.py:1517-1564
    // download_notes): one formatted markdown report per document,
    // assembled from the extracted metadata + stats + summary; at scale
    // this is `df.write.text` over the final tables
    "s7_report" -> ((s, dir) =>
      enrDf(s, dir)
        .select(col("doc_id"), Udfs.metadata(col("t")).as("m"),
          Udfs.docStats(col("t")).as("d"), Udfs.summary(col("t")).as("summary"))
        .select(col("doc_id"), concat(
          lit("# "), coalesce(col("m._1"), lit("(untitled)")),
          lit("\nAuthors: "), concat_ws(", ", col("m._2")),
          lit("\nYear: "), coalesce(col("m._3"), lit("?")),
          lit("\nWords: "), col("d._1").cast("string"),
          lit("\nReading time: "), col("d._2"),
          lit("\nSummary: "), col("summary")).as("report"))))

  /** E1-E4 metadata CTEs over `rel(doc_id, t)` → `metax(doc_id, title,
    * authors LIST, year, doi)` (title = longest of the first 8 nonempty
    * lines within length bounds; authors = first 10 from the anchored
    * author-line regex — middle initials required, a golden-pinned
    * reference quirk). */
  private[queries] def metaCtesOver(rel: String): String =
    s"""lines AS (
      |  SELECT doc_id, trim(unnest(string_split(t, chr(10)))) AS line,
      |         generate_subscripts(string_split(t, chr(10)), 1) AS idx
      |  FROM $rel),
      |cand AS (
      |  SELECT doc_id, line, row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS lineno
      |  FROM lines WHERE line <> ''),
      |title AS (
      |  SELECT doc_id, line AS title,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY strlen(line) DESC, lineno ASC) AS rn
      |  FROM cand
      |  WHERE lineno <= 8 AND strlen(line) > 10 AND strlen(line) < 250
      |    AND NOT regexp_matches(line, '^\\d+$$')
      |    AND NOT regexp_matches(line, '^(?i)(abstract|introduction|page)')),
      |meta AS (
      |  SELECT doc_id, t,
      |         substr(t, 1, strpos(lower(t), 'abstract') - 1) AS pre
      |  FROM $rel),
      |metax AS (
      |  SELECT m.doc_id,
      |         (SELECT title FROM title WHERE title.doc_id = m.doc_id AND rn = 1) AS title,
      |         list_filter(list_transform(
      |           regexp_split_to_array(
      |             regexp_extract(pre, '(?:^|\\n)\\s*([A-Z][a-z]+(?:\\s+[A-Z]\\.?\\s*)?[A-Z][a-z]+(?:\\s*,\\s*[A-Z][a-z]+(?:\\s+[A-Z]\\.?\\s*)?[A-Z][a-z]+)+)', 1),
      |             ',\\s*(?:and\\s+)?'),
      |           x -> trim(x)), x -> x <> '')[1:10] AS authors,
      |         regexp_extract(substr(t, 1, 3000), '\\b(19|20)\\d{2}\\b', 0) AS year,
      |         rtrim(regexp_extract(substr(t, 1, 5000), '(10\\.\\d{4,}/[^\\s]+)', 1), '.') AS doi
      |  FROM meta m)""".stripMargin

  private val metaCtes: String = metaCtesOver("enr")

  val oracles: Map[String, String] = Map(
    "en_clean" ->
      s"""WITH $enrSql
         |SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |  lower(t), '\\b[\\w.-]+?@\\w+?\\.\\w+?\\b', '', 'g'),
         |  '\\[[^\\]]*\\]', '', 'g'),
         |  '[^\\x00-\\x7F]+', '', 'g'),
         |  '<[^>]+>', '', 'g'),
         |  '\\s+', ' ', 'g')) AS clean_text
         |FROM enr""".stripMargin,

    "en_metadata" ->
      s"""WITH $enrSql,
         |$metaCtes
         |SELECT doc_id, title, array_to_string(authors, '|') AS authors, year, doi
         |FROM metax""".stripMargin,

    "en_sections" ->
      s"""WITH $enrSql
         |SELECT doc_id, trim(unnest(regexp_extract_all(t,
         |  '$sectionRegexSql',
         |  2))) AS name
         |FROM enr""".stripMargin,

    "en_figures" ->
      s"""WITH $enrSql,
         |f AS (
         |  SELECT doc_id,
         |         regexp_extract(t, '(?i)(Figure|Fig\\.?)\\s+(\\d+)[.:]?\\s*([^\\n]{0,200})', ['a','b','c']) AS g
         |  FROM enr),
         |tb AS (
         |  SELECT doc_id,
         |         regexp_extract(t, '(?i)(Table)\\s+(\\d+)[.:]?\\s*([^\\n]{0,200})', ['a','b','c']) AS g
         |  FROM enr)
         |SELECT doc_id, 'figure' AS kind, g.a || ' ' || g.b AS title,
         |       trim(regexp_replace(g.c, '\\s+', ' ', 'g')) AS caption FROM f
         |UNION ALL
         |SELECT doc_id, 'table' AS kind, g.a || ' ' || g.b AS title,
         |       trim(regexp_replace(g.c, '\\s+', ' ', 'g')) AS caption FROM tb""".stripMargin,

    "en_terms" ->
      s"""WITH $enrSql,
         |acr AS (
         |  SELECT doc_id, unnest(regexp_extract_all(t, '\\b([A-Z]{2,6})\\b', 1)) AS term FROM enr),
         |acr_f AS (
         |  SELECT doc_id, term, count(*) AS frequency FROM acr
         |  WHERE term NOT IN ('THE','AND','FOR','NOT','BUT','ARE','WAS','HAS','HAD','CAN','MAY','ALL','ANY','ITS')
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |phr AS (
         |  SELECT doc_id, unnest(regexp_extract_all(t, '\\b([A-Z][a-z]+(?:\\s+[A-Z][a-z]+)+)\\b', 1)) AS term FROM enr),
         |phr_f AS (
         |  SELECT doc_id, term, count(*) AS frequency FROM phr
         |  WHERE strlen(term) >= 5 AND strlen(term) <= 60
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |hyp AS (
         |  SELECT doc_id, unnest(regexp_extract_all(t, '\\b([a-z]+-[a-z]+(?:-[a-z]+)*)\\b', 1)) AS term FROM enr),
         |hyp_f AS (
         |  SELECT doc_id, term, count(*) AS frequency FROM hyp
         |  WHERE strlen(term) >= 5 GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT * FROM acr_f UNION ALL SELECT * FROM phr_f UNION ALL SELECT * FROM hyp_f""".stripMargin,

    "en_equations" ->
      s"""WITH $enrSql
         |SELECT doc_id,
         |       trim(regexp_extract(t, '(?im)([A-Z][a-z]*\\([^)]+\\))\\s*=\\s*([^,.\\n]+)', 0)) AS content
         |FROM enr
         |WHERE strlen(trim(regexp_extract(t, '(?im)([A-Z][a-z]*\\([^)]+\\))\\s*=\\s*([^,.\\n]+)', 0))) > 10""".stripMargin,

    "en_stats" ->
      s"""WITH $enrSql
         |SELECT doc_id,
         |       len(list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> '')) AS words,
         |       len(list_filter(regexp_split_to_array(t, '[.!?]+'),
         |           x -> trim(x, ' ' || chr(10) || chr(9)) <> '')) AS sentences,
         |       len(list_filter(string_split(t, chr(10) || chr(10)),
         |           x -> trim(x, ' ' || chr(10) || chr(9)) <> '')) AS paragraphs,
         |       length(t) AS characters
         |FROM enr""".stripMargin,

    "a2_unigram_tf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\b[a-zA-Z]{3,}\\b')) AS token
         |  FROM documents)
         |SELECT doc_id, token, count(*) AS cnt FROM toks
         |WHERE token NOT IN ($stopwordList) AND strlen(token) <= 25
         |GROUP BY 1, 2""".stripMargin,

    "a3_bigram_tf" ->
      s"""WITH toklist AS (
         |  SELECT doc_id, list_filter(regexp_extract_all(lower(text), '\\b[a-zA-Z]{3,}\\b'),
         |           x -> x NOT IN ($stopwordList) AND strlen(x) <= 25) AS toks
         |  FROM documents),
         |bi AS (
         |  SELECT doc_id, unnest(list_filter(
         |    list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
         |      i -> CASE WHEN toks[i] <> toks[i + 1] THEN toks[i] || ' ' || toks[i + 1] END),
         |    x -> x IS NOT NULL)) AS bigram
         |  FROM toklist)
         |SELECT doc_id, bigram, count(*) AS cnt FROM bi GROUP BY 1, 2""".stripMargin,

    "a4_keywords" ->
      s"""WITH ${keywordCtes("documents", "text")}
         |SELECT doc_id, position, keyword FROM kw_pick""".stripMargin,

    "en_summary" ->
      s"""WITH $enrSql,
         |$summaryCte
         |SELECT doc_id, summary FROM summ""".stripMargin,

    "en_relevance_gate" ->
      s"""WITH $enrSql,
         |$summaryCte
         |SELECT doc_id, summary FROM summ WHERE strlen(summary) >= 30""".stripMargin,

    "en_sanitize" ->
      s"""WITH $enrSql
         |SELECT doc_id,
         |       replace(replace(replace(replace(replace(t,
         |         '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
         |         '"', '&quot;'), chr(39), '&#39;') AS sanitized
         |FROM enr""".stripMargin,

    "en_questions" ->
      s"""WITH $enrSql,
         |${keywordCtes("enr", "t")},
         |hits AS (
         |  SELECT doc_id, x.ord, x.q
         |  FROM enr, (VALUES
         |    (1, 'What methodology or approach does this paper use?', '\\b(?:method|methodology|approach)\\b'),
         |    (2, 'What are the main results and findings?', '\\b(?:result|finding|experiment)\\b'),
         |    (3, 'What are the conclusions and limitations?', '\\b(?:conclusion|future work|limitation)\\b'),
         |    (4, 'What are the key contributions of this work?', '\\b(?:contribut|novel|propos)\\b'),
         |    (5, 'How does this approach compare to existing methods?', '\\b(?:compar|baseline|benchmark|state.of.the.art)\\b')
         |  ) AS x(ord, q, re)
         |  WHERE regexp_matches(lower(t), x.re)),
         |kw1 AS (SELECT doc_id, keyword FROM kw_pick WHERE position = 1),
         |allq AS (
         |  SELECT doc_id, ord, q FROM hits
         |  UNION ALL
         |  SELECT doc_id, 6 AS ord,
         |         'Can you explain the role of ''' || keyword || ''' in this paper?' AS q
         |  FROM kw1),
         |fallback AS (
         |  SELECT e.doc_id, x.ord, x.q
         |  FROM enr e, (VALUES
         |    (11, 'What is this paper about?'),
         |    (12, 'What problem does this paper address?')) AS x(ord, q)
         |  WHERE e.doc_id NOT IN (SELECT doc_id FROM allq))
         |SELECT doc_id, position, question FROM (
         |  SELECT doc_id, q AS question,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS position
         |  FROM (SELECT * FROM allq UNION ALL SELECT * FROM fallback))
         |WHERE position <= 5""".stripMargin,

    "s7_report" ->
      s"""WITH $enrSql,
         |$metaCtes,
         |$summaryCte,
         |stats AS (
         |  SELECT doc_id,
         |         len(list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> '')) AS words
         |  FROM enr)
         |SELECT x.doc_id,
         |       '# ' || coalesce(x.title, '(untitled)') ||
         |       chr(10) || 'Authors: ' || array_to_string(x.authors, ', ') ||
         |       chr(10) || 'Year: ' || coalesce(nullif(x.year, ''), '?') ||
         |       chr(10) || 'Words: ' || st.words ||
         |       chr(10) || 'Reading time: ' || greatest(1, ceil(st.words / 250.0))::INT || ' min' ||
         |       chr(10) || 'Summary: ' || sm.summary AS report
         |FROM metax x
         |JOIN stats st ON st.doc_id = x.doc_id
         |JOIN summ sm ON sm.doc_id = x.doc_id""".stripMargin)
}
