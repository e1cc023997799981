package graft.kg

import org.apache.spark.sql.functions.udf

/** Spark UDF surface over the pure kernel (SURVEY §2.10: plain Scala
  * `udf`s first; regex cost dwarfs ser/de overhead — measured before any
  * Expression/codegen upgrade).
  *
  * All functions are deterministic (`asNondeterministic` NOT set), so
  * Catalyst may collapse/reorder them freely and results are stable under
  * repartitioning.
  */
object Udfs {

  /** C1 — byte-identity cleaning kernel. */
  val cleanText = udf((s: String) => if (s == null) "" else RefText.cleanText(s))

  /** K1 — chunker; explode downstream. */
  val chunkText = udf((s: String) =>
    if (s == null) Seq.empty[ChunkOut] else RefText.createChunks(s))

  /** A1 — per-doc stats struct. */
  val docStats = udf((s: String) => {
    val d = RefAnalyzers.computeStats(if (s == null) "" else s)
    (d.words, d.readingTime, d.sentences, d.paragraphs, d.characters)
  })

  /** A2 tokens — keyword tokenizer (lower, alpha≥3, stopword-filtered). */
  val keywordTokens = udf((s: String) =>
    if (s == null) Seq.empty[String] else RefAnalyzers.keywordTokens(s).toSeq)

  /** A4 — full top-20 keyword merge per document. */
  val keywords = udf((s: String) =>
    if (s == null) Seq.empty[String] else RefAnalyzers.extractKeywords(s))

  /** A5/E7-E9 — technical terms (term, frequency, context). */
  val technicalTerms = udf((s: String) =>
    if (s == null) Seq.empty[TechTerm] else RefAnalyzers.extractTechnicalTerms(s))

  /** E6 — figure/table references. */
  val figureRefs = udf((s: String) =>
    if (s == null) Seq.empty[FigureRef] else RefAnalyzers.extractFigureRefs(s))

  /** E1-E4 — paper metadata. */
  val metadata = udf((s: String) => {
    val m = RefAnalyzers.extractMetadata(if (s == null) "" else s)
    (m.title, m.authors, m.year, m.doi)
  })

  /** E5 — section structure. */
  val sections = udf((s: String) =>
    if (s == null) Seq.empty[SectionRef] else RefAnalyzers.extractSections(s))

  /** E10 — equations. */
  val equations = udf((s: String) =>
    if (s == null) Seq.empty[Equation] else RefAnalyzers.extractEquations(s))

  /** E13 — extractive summary. */
  val summary = udf((s: String) =>
    if (s == null) "" else RefAnalyzers.extractSummary(s))

  /** E12 — suggested questions (keywords computed internally like
    * analyze_document does — /root/reference/src/document_analyzer.py:66-95). */
  val suggestedQuestions = udf((s: String) => {
    val t = if (s == null) "" else s
    RefAnalyzers.suggestedQuestions(t, RefAnalyzers.extractKeywords(t))
  })
}
