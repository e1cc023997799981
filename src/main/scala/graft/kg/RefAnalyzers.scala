package graft.kg

import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

final case class FigureRef(kind: String, title: String, caption: String, page: Int)
final case class TechTerm(term: String, frequency: Int, context: String)
final case class PaperMeta(title: Option[String], authors: Seq[String], year: Option[String], doi: Option[String])
final case class SectionRef(number: String, name: String, page: Int, position: Long, preview: String)
final case class Equation(id: Int, content: String, page: Int)
final case class DocStats(words: Int, readingTime: String, sentences: Int, paragraphs: Int, characters: Int)

/** Pure-Scala re-expression of the reference analyzers:
  * DocumentAnalyzer (/root/reference/src/document_analyzer.py),
  * PaperAnalyzer (/root/reference/src/paper_analyzer.py), and the
  * app-level extractors (/root/reference/app_enhanced.py:193-279,695-745).
  * All regex programs replicate the reference's patterns, flags, slice
  * bounds, tie-breaking (insertion order), and caps. Golden-pinned.
  *
  * Anchoring rule for the hot scans (equations, figure/table refs,
  * section headers): a scan tries a start only where its required
  * literal is, never at every char. Candidates come from the literal
  * itself ('=', '(', '\n') or from the `CodePointSet` of the pattern's
  * first atom, enumerated under the pattern's own flags; `matchesAt`
  * tries each with `lookingAt`, so every scan reports exactly what
  * `find()` would (KernelSpec keeps the plain-`find()` forms as oracles).
  */
object RefAnalyzers {

  private def ws(re: String): String = re.replace("\\s", Py.WS_CLASS)

  /** Every code point `[A-Za-z]` matches under `Py.CASE_I`: the ASCII
    * letters and the code points whose case mapping folds onto one. It is
    * the only set enumerated over all code points; each first-atom set of
    * a case-insensitive letter atom is filtered from it, because such an
    * atom matches only code points this class matches (KernelSpec checks
    * every filtered set against a full enumeration). */
  private[kg] val letterFolds = CodePointSet.enumerate("[A-Za-z]", Py.CASE_I)

  // ---------------------------------------------------------------- A1
  private val sentenceSplitStats = Py.pat("[.!?]+")
  private val paragraphSplit = Pattern.compile("\n\n")
  /** Word/sentence/paragraph stats
    * (/root/reference/src/document_analyzer.py:97-117). */
  def computeStats(text: String): DocStats = {
    val wc = Py.split(text).length
    val readingMin = math.max(1, math.ceil(wc / 250.0).toInt)
    val sentences = Py.reSplit(sentenceSplitStats, text).count(s => Py.strip(s).nonEmpty)
    val paragraphs = paragraphSplit.split(text, -1).count(p => Py.strip(p).nonEmpty)
    DocStats(wc, s"$readingMin min", sentences, paragraphs, Py.len(text))
  }

  // ---------------------------------------------------------------- N2
  /** DocumentAnalyzer reversed-fix variant — different constants from the
    * TextProcessor one on purpose
    * (/root/reference/src/document_analyzer.py:119-138). */
  private val analyzerCommonWords: Set[String] = Set(
    "the", "and", "for", "are", "but", "not", "you", "all", "can",
    "had", "was", "one", "our", "has", "his", "how", "its", "may",
    "new", "now", "see", "way", "who", "did", "get", "say", "she",
    "use", "with", "this", "that", "have", "from", "they", "been",
    "each", "which", "their", "will", "other", "about", "many",
    "then", "them", "these", "some", "would", "make", "like",
    "model", "data", "input", "output", "method", "paper")

  def analyzerFixReversed(text: String): String =
    RefText.fixReversedGeneric(text, analyzerCommonWords, minWords = 10, sampleN = 80, minHits = 3)

  // --------------------------------------------------------------- E13
  private val abstractPatterns: Array[Pattern] = Array(
    Py.pat(ws("(?:abstract|summary)\\s*[:\\n]\\s*(.*?)(?:\\n\\s*(?:introduction|keywords|1\\.|1\\s|I\\.))"), Py.CASE_I | Py.DOTALL),
    Py.pat(ws("(?:abstract|summary)\\s*\\n+(.*?)(?:\\n\\s*\\n)"), Py.CASE_I | Py.DOTALL),
    Py.pat(ws("(?:^|\\n)\\s*abstract\\s*\\n(.*?)(?:\\n\\s*\\n)"), Py.CASE_I | Py.DOTALL))
  private val sentenceSplit = Py.pat(ws("(?<=[.!?])\\s+"))

  /** Extractive summary (/root/reference/src/document_analyzer.py:140-169). */
  def extractSummary(text0: String, maxSentences: Int = 5): String =
    summaryOfFixed(analyzerFixReversed(text0), maxSentences)

  /** Same, with the reversed-fix already applied (the fix is one-shot in
    * the reference too — callers that share the fixed text across
    * analyzers avoid recomputing it). */
  def summaryOfFixed(text: String, maxSentences: Int = 5): String = {
    for (p <- abstractPatterns) {
      val m = p.matcher(text)
      if (m.find()) {
        val abs = Py.strip(m.group(1))
        if (Py.len(abs) > 50) {
          val sents = Py.reSplit(sentenceSplit, abs).map(Py.strip).filter(s => Py.len(s) > 20)
          if (sents.nonEmpty) return sents.take(maxSentences).mkString(" ")
        }
      }
    }
    val sents = Py.reSplit(sentenceSplit, text).map(Py.strip).filter(s => Py.len(s) > 30)
    sents.take(maxSentences).mkString(" ")
  }

  // ------------------------------------------------------------ A2-A4
  /** Keyword stopwords (/root/reference/src/document_analyzer.py:31-61). */
  val Stopwords: Set[String] = Set(
    "a", "an", "the", "and", "or", "but", "in", "on", "at", "to", "for",
    "of", "with", "by", "from", "is", "are", "was", "were", "be", "been",
    "being", "have", "has", "had", "do", "does", "did", "will", "would",
    "could", "should", "may", "might", "shall", "can", "need", "dare",
    "ought", "used", "it", "its", "this", "that", "these", "those",
    "i", "me", "my", "we", "our", "you", "your", "he", "she", "they",
    "them", "their", "what", "which", "who", "when", "where", "how",
    "not", "no", "nor", "as", "if", "then", "than", "too", "very",
    "also", "just", "about", "above", "after", "again", "all", "am",
    "any", "because", "before", "below", "between", "both", "each",
    "few", "further", "here", "into", "more", "most", "other", "out",
    "over", "own", "same", "so", "some", "such", "through", "under",
    "until", "up", "while", "during", "et", "al", "fig", "figure",
    "table", "however", "thus", "therefore", "although", "since",
    "using", "based", "two", "one", "three", "four", "five",
    "new", "first", "well", "us", "use", "many",
    "much", "even", "still", "including", "given", "show", "shows",
    "shown", "see", "e", "g", "eg", "ie", "etc", "vs",
    "paper", "section", "method", "approach", "propose", "proposed",
    "present", "presented", "work", "study", "result", "results",
    "number", "set", "order", "case", "high", "low", "large", "small",
    "different", "similar", "previous", "following", "respectively",
    "corresponding", "according", "compared", "example", "consider",
    "note", "able", "get", "got", "take", "taken", "make", "made",
    "provide", "provides", "total", "only", "without",
    "within", "among", "across", "per", "via", "like", "specific",
    "particular", "general", "overall", "left", "right", "end",
    "part", "every", "either", "neither", "rather")

  private val tokenPat = Py.pat("\\b[a-zA-Z]{3,}\\b")

  /** Tokenize exactly like `_extract_keywords`
    * (/root/reference/src/document_analyzer.py:176-180): alpha tokens
    * len≥3 on lowered text, minus stopwords, len 3..25. */
  def keywordTokens(text: String): ArrayBuffer[String] = {
    val lowered = Py.lower(text)
    val m = tokenPat.matcher(lowered)
    val out = ArrayBuffer.empty[String]
    while (m.find()) {
      val w = m.group()
      val l = Py.len(w)
      if (!Stopwords.contains(w) && l >= 3 && l <= 25) out += w
    }
    out
  }

  /** `Counter.most_common` — count desc, ties in first-insertion order. */
  private def mostCommon(items: Iterable[String]): Vector[(String, Int)] = {
    val counts = mutable.LinkedHashMap.empty[String, Int]
    for (it <- items) counts.update(it, counts.getOrElse(it, 0) + 1)
    counts.toVector.sortBy { case (_, c) => -c } // stable sort keeps insertion order for ties
  }

  /** Top-20 keyword extraction with the bigram-preferring merge
    * (/root/reference/src/document_analyzer.py:171-222). */
  def extractKeywords(text0: String, topN: Int = 20): Vector[String] =
    keywordsOfFixed(analyzerFixReversed(text0), topN)

  def keywordsOfFixed(text: String, topN: Int = 20): Vector[String] = {
    val filtered = keywordTokens(text)
    val counter = mostCommon(filtered)
    val bigrams = ArrayBuffer.empty[String]
    var i = 0
    while (i < filtered.length - 1) {
      if (filtered(i) != filtered(i + 1)) bigrams += s"${filtered(i)} ${filtered(i + 1)}"
      i += 1
    }
    val bigramCounter = mostCommon(bigrams)
    val topUnigrams = counter.take(topN * 2).collect { case (w, c) if c >= 2 => w }
    val topBigrams = bigramCounter.take(15).collect { case (b, c) if c >= 3 => b }

    val keywords = ArrayBuffer.empty[String]
    val seenWords = mutable.Set.empty[String]
    for (bg <- topBigrams.take(8)) {
      val bgWords = bg.split(' ')
      if (bgWords.distinct.length == bgWords.length) {
        keywords += bg
        seenWords ++= bgWords
      }
    }
    val vowels = "aeiou".toSet
    for (ug <- topUnigrams) {
      if (!seenWords.contains(ug) && keywords.length < topN) {
        if (ug.exists(vowels.contains)) {
          keywords += ug
          seenWords += ug
        }
      }
    }
    keywords.take(topN).toVector
  }

  // --------------------------------------------------------------- E12
  private val questionTopics: Array[(Pattern, String)] = Array(
    Py.pat("\\b(?:method|methodology|approach)\\b") -> "What methodology or approach does this paper use?",
    Py.pat("\\b(?:result|finding|experiment)\\b") -> "What are the main results and findings?",
    Py.pat("\\b(?:conclusion|future work|limitation)\\b") -> "What are the conclusions and limitations?",
    Py.pat("\\b(?:contribut|novel|propos)\\b") -> "What are the key contributions of this work?",
    Py.pat("\\b(?:compar|baseline|benchmark|state.of.the.art)\\b") -> "How does this approach compare to existing methods?")

  /** Suggested questions (/root/reference/src/document_analyzer.py:224-258). */
  def suggestedQuestions(text: String, keywords: Seq[String]): Vector[String] = {
    val q = ArrayBuffer.empty[String]
    val lower = Py.lower(text)
    for ((p, question) <- questionTopics if p.matcher(lower).find()) q += question
    if (keywords.nonEmpty) q += s"Can you explain the role of '${keywords.head}' in this paper?"
    if (q.isEmpty) {
      q += "What is this paper about?"
      q += "What problem does this paper address?"
    }
    q.take(5).toVector
  }

  // ---------------------------------------------------------------- E6
  private val figurePat = Py.pat(ws("(Figure|Fig\\.?)\\s+(\\d+)[.:]?\\s*([^\\n]{0,200})"), Py.CASE_I)
  private val tablePat = Py.pat(ws("(Table)\\s+(\\d+)[.:]?\\s*([^\\n]{0,200})"), Py.CASE_I)
  private[kg] val figureStart = letterFolds.filter("F", Py.CASE_I)
  private[kg] val tableStart = letterFolds.filter("T", Py.CASE_I)

  /** Figure/table references with first-wins dedup on normalized title and
    * page ≈ cp_start/3000+1 (/root/reference/src/paper_analyzer.py:87-126).
    * Stable page sort keeps figure-then-table pattern order within a page. */
  def extractFigureRefs(text: String): Vector[FigureRef] = {
    val refs = ArrayBuffer.empty[FigureRef]
    val seen = mutable.Set.empty[String]
    for ((p, start, kind) <- Seq((figurePat, figureStart, "figure"), (tablePat, tableStart, "table"))) {
      matchesAt(p, text, start.next(text, _)) { m =>
        val title = s"${m.group(1)} ${m.group(2)}"
        val titleKey = Py.strip(Py.lower(title).replace(".", ""))
        if (!seen.contains(titleKey)) {
          seen += titleKey
          var caption = if (m.group(3) != null) Py.strip(m.group(3)) else ""
          caption = Py.collapseWs(caption)
          if (Py.len(caption) > 200) // dead branch (regex caps at 200); kept for parity
            caption = Py.slice(caption, 200).split(' ').dropRight(1).mkString(" ") + "..."
          val page = math.max(1, Py.cpIndex(text, m.start()) / 3000 + 1)
          refs += FigureRef(kind, title, caption, page)
        }
      }
    }
    refs.sortBy(_.page).toVector // scala sortBy is stable, like Python list.sort
  }

  // ------------------------------------------------------------ A5/E7-E9
  private val AcronymBlacklist = Set(
    "THE", "AND", "FOR", "NOT", "BUT", "ARE", "WAS",
    "HAS", "HAD", "CAN", "MAY", "ALL", "ANY", "ITS")

  /** PaperAnalyzer common words (/root/reference/src/paper_analyzer.py:49-59). */
  val PaperCommonWords: Set[String] = Set(
    "abstract", "introduction", "methods", "methodology", "results",
    "discussion", "conclusion", "references", "acknowledgments",
    "figure", "table", "section", "chapter", "paper", "study",
    "approach", "analysis", "data", "based", "using", "used",
    "proposed", "show", "shown", "however", "therefore",
    "although", "moreover", "furthermore", "respectively", "corresponding",
    "following", "previous", "different", "similar", "various",
    "several", "many", "including", "according", "compared",
    "example", "given", "consider", "note", "also", "well")

  private val acronymPat = Py.pat("\\b([A-Z]{2,6})\\b")
  private val phrasePat = Py.pat(ws("\\b([A-Z][a-z]+(?:\\s+[A-Z][a-z]+)+)\\b"))
  private val hyphenPat = Py.pat("\\b([a-z]+-[a-z]+(?:-[a-z]+)*)\\b")

  def splitSentences(text: String): Array[String] = Py.reSplit(sentenceSplit, text)

  /** Technical-term aggregation with first-context and insertion-order tie
    * break (/root/reference/src/paper_analyzer.py:128-219). */
  def extractTechnicalTerms(text: String, topN: Int = 30): Vector[TechTerm] = {
    // LinkedHashMap = Python dict insertion order (tie-break contract)
    val terms = mutable.LinkedHashMap.empty[String, (String, Int, String)] // key -> (term, count, context)
    val sentences = splitSentences(text)

    def bump(key: String, surface: String, sentence: String): Unit = {
      val cur = terms.get(key)
      cur match {
        case None => terms.update(key, (surface, 1, Py.slice(Py.strip(sentence), 300)))
        case Some((t, c, ctx)) => terms.update(key, (t, c + 1, ctx))
      }
    }

    for (s <- sentences) {
      val m = acronymPat.matcher(s)
      while (m.find()) {
        val a = m.group(1)
        if (!AcronymBlacklist.contains(a)) bump(a.toUpperCase(java.util.Locale.ROOT), a, s)
      }
    }
    for (s <- sentences) {
      val m = phrasePat.matcher(s)
      while (m.find()) {
        val phrase = m.group(1)
        // Python str.split() (any whitespace): the phrase regex allows
        // \s+ separators, so "Results\nDiscussion" must split into two
        // words for the all-common-words check, not stay one token
        val words = Py.split(Py.lower(phrase))
        val l = Py.len(phrase)
        if (!words.forall(PaperCommonWords.contains) && l >= 5 && l <= 60)
          bump(Py.lower(phrase), phrase, s)
      }
    }
    for (s <- sentences) {
      val m = hyphenPat.matcher(s)
      while (m.find()) {
        val term = m.group(1)
        if (Py.len(term) >= 5) bump(Py.lower(term), term, s)
      }
    }

    terms.values.toVector
      .filter(_._2 >= 2)
      .sortBy { case (_, c, _) => -c } // stable: insertion order for ties
      .take(topN)
      .map { case (t, c, ctx) => TechTerm(t, c, ctx) }
  }

  // ------------------------------------------------------------- E1-E4
  private val digitsOnly = Py.pat("^\\d+$")
  private val titleExclude = Py.pat("^(abstract|introduction|page)", Py.CASE_I)
  private val yearPat = Py.pat("\\b(19|20)\\d{2}\\b")
  private val doiPat = Py.pat(ws("(10\\.\\d{4,}/[^\\s]+)"))
  private val abstractWord = Py.pat("\\babstract\\b", Py.CASE_I)
  private val authorsPat = Py.pat(ws(
    "(?:^|\\n)\\s*([A-Z][a-z]+(?:\\s+[A-Z]\\.?\\s*)?[A-Z][a-z]+(?:\\s*,\\s*[A-Z][a-z]+(?:\\s+[A-Z]\\.?\\s*)?[A-Z][a-z]+)+)"))
  private val authorSplit = Py.pat(ws(",\\s*(?:and\\s+)?"))

  /** Paper metadata: title/authors/year/DOI
    * (/root/reference/app_enhanced.py:193-239). */
  def extractMetadata(text: String): PaperMeta = {
    val lines = text.split("\n", -1).map(Py.strip).filter(_.nonEmpty)
    var title: Option[String] = None
    if (lines.nonEmpty) {
      val candidates = lines.take(8).filter { l =>
        val n = Py.len(l)
        n > 10 && n < 250 && !digitsOnly.matcher(l).lookingAt() && !titleExclude.matcher(l).lookingAt()
      }
      if (candidates.nonEmpty) title = Some(candidates.maxBy(Py.len)) // maxBy keeps first max, like Python max
    } else return PaperMeta(None, Nil, None, None)

    val year = {
      val m = yearPat.matcher(Py.slice(text, 3000))
      if (m.find()) Some(m.group(0)) else None
    }
    val doi = {
      val m = doiPat.matcher(Py.slice(text, 5000))
      if (m.find()) Some(m.group(1).reverse.dropWhile(_ == '.').reverse) else None
    }
    val authors = {
      val am = abstractWord.matcher(text)
      val pre = if (am.find()) text.substring(0, am.start()) else Py.slice(text, 2000)
      val m = authorsPat.matcher(pre)
      if (m.find())
        Py.reSplit(authorSplit, m.group(1)).map(Py.strip).filter(_.nonEmpty).take(10).toSeq
      else Nil
    }
    PaperMeta(title, authors, year, doi)
  }

  // ---------------------------------------------------------------- E5
  private val sectionHeaderPat = Py.pat(ws(
    "(?:^|\\n)\\s*" +
      "(\\d+\\.?\\s+)?" +
      "(Abstract|Introduction|Related\\s+Work|Background|" +
      "Method(?:ology|s)?|Approach|Framework|" +
      "Experiment(?:s|al)?(?:\\s+(?:Setup|Results))?|" +
      "Results?(?:\\s+and\\s+Discussion)?|" +
      "Discussion|Analysis|Evaluation|" +
      "Conclusion(?:s)?(?:\\s+and\\s+Future\\s+Work)?|" +
      "Future\\s+Work|Limitations|" +
      "Acknowledgment(?:s)?|References|Appendix)" +
      "\\s*(?:\\n|$)"), Py.CASE_I | Py.MULTI)

  /** The first position ≥ `from` where `(?:^|\n)` can match under
    * MULTILINE and UNIX_LINES, or -1: a '\n', or the start of a line
    * that is not the end of the text. */
  private def lineStart(text: String, from: Int): Int =
    if (from >= text.length) -1
    else if (from == 0 || text.charAt(from - 1) == '\n') from
    else text.indexOf('\n', from)

  /** Section structure (/root/reference/app_enhanced.py:242-279). */
  def extractSections(text: String): Vector[SectionRef] = {
    val out = Vector.newBuilder[SectionRef]
    // a header match starts at a line start or at its '\n'
    matchesAt(sectionHeaderPat, text, lineStart(text, _)) { m =>
      val number = Py.strip(Option(m.group(1)).getOrElse(""))
      val name = Py.strip(m.group(2))
      val cpStart = Py.cpIndex(text, m.start())
      val page = math.max(1, cpStart / 3000 + 1)
      var preview = Py.strip(Py.slice(text.substring(m.end()), 300))
      val dot = preview.lastIndexOf('.')
      if (dot >= 0) preview = preview.substring(0, dot + 1)
      if (Py.len(preview) > 200) {
        val cut = Py.slice(preview, 200)
        val sp = cut.lastIndexOf(' ')
        preview = (if (sp >= 0) cut.substring(0, sp) else cut) + "..."
      }
      out += SectionRef(number, name, page, cpStart.toLong, preview)
    }
    out.result()
  }

  // --------------------------------------------------------------- E10
  private val eqFlags = Py.MULTI | Py.CASE_I
  private val eqNumbered = Py.pat(ws("(?:Equation|Eq\\.?)\\s*\\(?(\\d+)\\)?\\s*[:.]?\\s*([^\\n]+)"), eqFlags)
  private[kg] val eqNumberedStart = letterFolds.filter("E", eqFlags)
  /** Start guard `(?<![A-Z])`, under the pattern's own flags. A match
    * never begins directly after a code point `[A-Z]` matches: its own
    * first code point matches `[A-Z]` too, and under `Py.CASE_I` every
    * such code point also matches `[a-z]` (KernelSpec enumerates both
    * sets), so the start one code point earlier matches the identical
    * continuation through `[a-z]*`, and `find()` tries it first (it is
    * never inside the previous match, which ends before ',', '.', '\n'
    * or the end). The guard is semantics-preserving and makes every
    * start inside a word fail at once. */
  private val eqCall = Py.pat(ws("(?<![A-Z])([A-Z][a-z]*\\([^)]+\\))\\s*=\\s*([^,.\\n]+)"), eqFlags)
  private val eqNamed = Py.pat(ws("((?:Attention|Loss|Softmax|ReLU|BLEU)\\s*\\([^)]*\\))\\s*=\\s*([^\\n]+)"), eqFlags)
  private[kg] val eqNamedStart = letterFolds.filter("A|L|S|R|B", eqFlags)
  /** Two of the reference's seven scans are not run, because neither can
    * ever emit (the same dead code is in the reference):
    *  - the second equation scan, `(\([0-9]+\))\s*$.*?([A-Za-z].*?=.*?)(?:\n|$)`:
    *    after its `$` the next char is '\n' or there is none, and
    *    neither `.` nor `[A-Za-z]` matches '\n', so it never matches;
    *  - the third math scan, the glyph alternation
    *    `∑|∏|∫|√|∂|∇|α|β|γ|θ|λ|σ|μ`: each match is one code point, which
    *    the `Py.len(content) > 5` check rejects. */
  private val mathCall = Py.pat(ws("[A-Za-z]+\\s*=\\s*(?:softmax|sigmoid|tanh|exp|log|sum|max|min)\\s*\\([^)]+\\)"))
  private val mathArith = Py.pat(ws("[A-Za-z]+\\s*=\\s*\\d+\\s*[×*/+-]\\s*[A-Za-z0-9]+"))

  /** The first position ≥ `from` where `eqCall` can start, or -1. Its
    * `[A-Z][a-z]*\(` is a run of `letterFolds` code points ending at a
    * '(', so from each '(' walk back over that set, to `from` at most.
    * Every position of the run is a candidate; the start guard rejects
    * at once each one that follows an `[A-Z]` code point. */
  private def callStart(text: String, from: Int): Int = {
    var paren = text.indexOf('(', from)
    while (paren >= 0) {
      var start = paren
      while (start > from && letterFolds.contains(text.codePointBefore(start)))
        start -= Character.charCount(text.codePointBefore(start))
      if (start < paren) return start
      paren = text.indexOf('(', paren + 1)
    }
    -1
  }

  private def isAsciiLetter(c: Char): Boolean = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  /** The first position ≥ `from` where `[A-Za-z]+\s*=` can start, or
    * -1. Such a match is a maximal ASCII-letter run (it cannot end early:
    * the next char would be a letter, neither whitespace nor '='), then
    * whitespace, then '='; so from each '=' walk back over `Py.isPyWs`,
    * then over ASCII letters, to the run start. A run that starts before
    * `from` is skipped, as `find()` skips it: there every later letter
    * follows a letter, so no start inside it can be a run start. This
    * is the math scans' former `(?<![A-Za-z])` guard, applied before the
    * regex runs. */
  private def assignmentStart(text: String, from: Int): Int = {
    var eq = text.indexOf('=', from)
    while (eq >= 0) {
      var end = eq
      while (end > 0 && Py.isPyWs(text.charAt(end - 1))) end -= 1
      var start = end
      while (start > 0 && isAsciiLetter(text.charAt(start - 1))) start -= 1
      if (start < end && start >= from) return start
      eq = text.indexOf('=', eq + 1)
    }
    -1
  }

  /** Equation extraction with exact-content dedup, first-wins ids, cap 20
    * (/root/reference/app_enhanced.py:695-745). */
  def extractEquations(text: String): Vector[Equation] = {
    // Each scan tries a start only where its required literal is: the
    // `Equation`/`Eq` and named-function scans at their first atom's code
    // points, the call scan at the letter run before each '(', the math
    // scans at the letter run before each '='. All but the first need a
    // literal '=', so a page without one runs only the first.
    val out = ArrayBuffer.empty[Equation]
    val seen = mutable.Set.empty[String]
    def emit(minLen: Int, cap: Int)(m: Matcher): Unit = {
      val content = Py.strip(m.group(0))
      if (!seen.contains(content) && Py.len(content) > minLen) {
        seen += content
        out += Equation(out.length + 1, Py.slice(content, cap), math.max(1, Py.cpIndex(text, m.start()) / 3000 + 1))
      }
    }
    val eq = emit(10, 200) _
    matchesAt(eqNumbered, text, eqNumberedStart.next(text, _))(eq)
    if (text.indexOf('=') >= 0) {
      matchesAt(eqCall, text, callStart(text, _))(eq)
      matchesAt(eqNamed, text, eqNamedStart.next(text, _))(eq)
      matchesAt(mathCall, text, assignmentStart(text, _))(emit(5, 150))
      matchesAt(mathArith, text, assignmentStart(text, _))(emit(5, 150))
    }
    out.take(20).toVector
  }

  /** Every match `p.matcher(text).find()` reports, given that a match can
    * start only at the positions `next` yields (`next(from)`: the first
    * candidate ≥ `from`, or -1). Each candidate is tried with `lookingAt`
    * on a region that starts there, with transparent, non-anchoring
    * bounds, so lookarounds, `^` and `$` see the whole text exactly as
    * under `find()`; positions between candidates are never tried. `p`
    * must not match the empty string (the next search starts at the
    * match end). */
  private def matchesAt(p: Pattern, text: String, next: Int => Int)(f: Matcher => Unit): Unit = {
    val m = p.matcher(text).useTransparentBounds(true).useAnchoringBounds(false)
    var at = next(0)
    while (at >= 0) {
      m.region(at, text.length)
      at = if (m.lookingAt()) { f(m); next(m.end()) } else next(at + 1)
    }
  }

  /** A set of code points, for the anchored scans' candidate tests. */
  private[kg] final class CodePointSet private (val codePoints: Array[Int]) {
    private val members = new java.util.BitSet
    codePoints.foreach(members.set)

    def contains(cp: Int): Boolean = members.get(cp)

    /** The members the one-code-point regex `atom` matches under `flags`. */
    def filter(atom: String, flags: Int): CodePointSet = CodePointSet.matching(atom, flags, codePoints)

    /** First UTF-16 index ≥ `from` whose code point is in the set, or -1.
      * Like `find()` on a pattern without supplementary literals, every
      * char index is a candidate (a lone surrogate is its own code point). */
    def next(s: String, from: Int): Int = {
      var i = from
      while (i < s.length && !members.get(s.codePointAt(i))) i += 1
      if (i < s.length) i else -1
    }
  }

  private[kg] object CodePointSet {
    /** The code points the one-code-point regex `atom` matches under
      * `flags`, found by matching every code point against it, never
      * listed by hand: under `Py.CASE_I` a letter also matches its Unicode
      * case folds (`K` matches U+212A KELVIN SIGN, `S` matches U+017F LONG
      * S), which an ASCII set would drop. */
    def enumerate(atom: String, flags: Int): CodePointSet =
      matching(atom, flags, 0 to Character.MAX_CODE_POINT)

    private def matching(atom: String, flags: Int, candidates: IndexedSeq[Int]): CodePointSet = {
      val m = Py.pat(atom, flags).matcher("")
      new CodePointSet(candidates.filter(cp => m.reset(Character.toString(cp)).matches()).toArray)
    }
  }
}
