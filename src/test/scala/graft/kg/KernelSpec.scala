package graft.kg

import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The extraction scans as plain `find()` loops over the reference's
  * regex forms, exactly as they ran before the literal-anchored kernels:
  * the oracles KernelSpec compares the kernels against, and the scan
  * attribution FuzzSpec's coverage guard uses. */
object SeedKernels {
  private def ws(re: String): String = re.replace("\\s", Py.WS_CLASS)

  /** The equation scans in run order, named as in `RefAnalyzers`;
    * `eqTagged` and `mathGlyph` can never emit, and the kernels drop them. */
  val equationScans: Seq[(String, Pattern)] = Seq(
    "eqNumbered" -> Py.pat(ws("(?:Equation|Eq\\.?)\\s*\\(?(\\d+)\\)?\\s*[:.]?\\s*([^\\n]+)"), Py.MULTI | Py.CASE_I),
    "eqTagged" -> Py.pat(ws("(\\([0-9]+\\))\\s*$.*?([A-Za-z].*?=.*?)(?:\\n|$)"), Py.MULTI | Py.CASE_I),
    "eqCall" -> Py.pat(ws("([A-Z][a-z]*\\([^)]+\\))\\s*=\\s*([^,.\\n]+)"), Py.MULTI | Py.CASE_I),
    "eqNamed" -> Py.pat(ws("((?:Attention|Loss|Softmax|ReLU|BLEU)\\s*\\([^)]*\\))\\s*=\\s*([^\\n]+)"), Py.MULTI | Py.CASE_I),
    "mathCall" -> Py.pat(ws("(?<![A-Za-z])[A-Za-z]+\\s*=\\s*(?:softmax|sigmoid|tanh|exp|log|sum|max|min)\\s*\\([^)]+\\)")),
    "mathArith" -> Py.pat(ws("(?<![A-Za-z])[A-Za-z]+\\s*=\\s*\\d+\\s*[×*/+-]\\s*[A-Za-z0-9]+")),
    "mathGlyph" -> Py.pat("∑|∏|∫|√|∂|∇|α|β|γ|θ|λ|σ|μ"))
  private val mathFrom = 4

  /** Every equation `(scan, id, content, page)` in emission order. */
  def equationsByScan(text: String): Vector[(String, Int, String, Int)] = {
    val out = ArrayBuffer.empty[(String, Int, String, Int)]
    val seen = mutable.Set.empty[String]
    for (((name, p), k) <- equationScans.zipWithIndex) {
      val (minLen, cap) = if (k < mathFrom) (10, 200) else (5, 150)
      val m = p.matcher(text)
      while (m.find()) {
        val content = Py.strip(m.group(0))
        if (!seen.contains(content) && Py.len(content) > minLen) {
          seen += content
          out += ((name, out.length + 1, Py.slice(content, cap), math.max(1, Py.cpIndex(text, m.start()) / 3000 + 1)))
        }
      }
    }
    out.take(20).toVector
  }

  private val figurePat = Py.pat(ws("(Figure|Fig\\.?)\\s+(\\d+)[.:]?\\s*([^\\n]{0,200})"), Py.CASE_I)
  private val tablePat = Py.pat(ws("(Table)\\s+(\\d+)[.:]?\\s*([^\\n]{0,200})"), Py.CASE_I)

  def figureRefs(text: String): Vector[FigureRef] = {
    val refs = ArrayBuffer.empty[FigureRef]
    val seen = mutable.Set.empty[String]
    for ((p, kind) <- Seq((figurePat, "figure"), (tablePat, "table"))) {
      val m = p.matcher(text)
      while (m.find()) {
        val title = s"${m.group(1)} ${m.group(2)}"
        val titleKey = Py.strip(Py.lower(title).replace(".", ""))
        if (!seen.contains(titleKey)) {
          seen += titleKey
          var caption = Py.collapseWs(if (m.group(3) != null) Py.strip(m.group(3)) else "")
          if (Py.len(caption) > 200)
            caption = Py.slice(caption, 200).split(' ').dropRight(1).mkString(" ") + "..."
          refs += FigureRef(kind, title, caption, math.max(1, Py.cpIndex(text, m.start()) / 3000 + 1))
        }
      }
    }
    refs.sortBy(_.page).toVector
  }

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

  def sections(text: String): Vector[SectionRef] = {
    val out = Vector.newBuilder[SectionRef]
    val m = sectionHeaderPat.matcher(text)
    while (m.find()) {
      val cpStart = Py.cpIndex(text, m.start())
      var preview = Py.strip(Py.slice(text.substring(m.end()), 300))
      val dot = preview.lastIndexOf('.')
      if (dot >= 0) preview = preview.substring(0, dot + 1)
      if (Py.len(preview) > 200) {
        val cut = Py.slice(preview, 200)
        val sp = cut.lastIndexOf(' ')
        preview = (if (sp >= 0) cut.substring(0, sp) else cut) + "..."
      }
      out += SectionRef(Py.strip(Option(m.group(1)).getOrElse("")), Py.strip(m.group(2)),
        math.max(1, cpStart / 3000 + 1), cpStart.toLong, preview)
    }
    out.result()
  }

  private val wsRun = Pattern.compile(Py.WS_CLASS + "+")

  def collapseWs(s: String): String = wsRun.matcher(s).replaceAll(" ")

  def split(s: String): Array[String] = {
    if (s.isEmpty) return Array.empty
    val parts = wsRun.split(s)
    if (parts.nonEmpty && parts(0).isEmpty) parts.drop(1) else parts
  }
}

/** Differential test of the literal-anchored extraction kernels
  * (RefAnalyzers' equation, figure/table and section scans; Py's
  * whitespace loops) against `SeedKernels`, on seeded documents built
  * from tools/gen_goldens.py's fuzz fragments plus the code points where
  * Unicode case folding and whitespace differ from ASCII, glued to their
  * neighbours as often as spaced. */
class KernelSpec extends AnyFunSuite {

  private val fragments: Vector[String] = Vector(
    // tools/gen_goldens.py fuzz fragments
    "Loss(x)", "= softmax(Wx + b)", "x = 2 * y", "a=b", "Eq. 3", "Equation (4): z = q",
    "(5)", "word", "The Model", "CNN", "α", "∑", "naïve", "a@b.c", "[12]", "<b>x</b>",
    "Figure 7: cap", "=", "==", "f(x)=g(y)", "A(b)=c,d.", "self-attention", "Abstract",
    "\n", "\t", "  ", ".", "!?", "softmax", "Wx", "(", ")", "x1=2+y", "K = min(a)",
    "İ", "ẞ", "你", "\u000b", "e=exp(k)", "ReLU(z) = max(0,z)", "10.1234/x.1",
    // case folds, whitespace outside ASCII, and glued forms
    "\u212A", "\u017F", "\u0130", "\u0131", "\u00A0", "\u2028", "\u3000", "\u001c", "\r\n",
    "\u017Foftmax() = p, q", "\u212Aey(k)=v, w", "\u0130Loss(x) = y, z", "\u0131(x)=1",
    "Attention(q) = v", "BLEU() = 0.3", "3", "7", "x", "K", "Eq", "EQUATION 9:", "eq.(2)",
    "Fig. 2", "FIGURE 3. big", "Table 4: t", "table", "\n2. Methods\n", "\nResults and Discussion",
    "\nConclusions and Future Work \n", "1 Introduction", "\nreferences", "y = sum(a)",
    "z=3×w", "b = 4 / c", "(12)\n", "sigmoid(t)")
  private val separators = Vector(" ", " ", "", "", "\n", "\u00A0", "\t", "  ", "\u2028")

  private val docs: Vector[String] = {
    val rnd = new scala.util.Random(20260816L)
    val fuzz = Vector.fill(20000) {
      // every 10th doc is long enough to span several 3000-cp pages
      val n = 1 + rnd.nextInt(if (rnd.nextInt(10) == 0) 900 else 60)
      val sb = new StringBuilder
      for (_ <- 0 until n) sb ++= fragments(rnd.nextInt(fragments.size)) ++= separators(rnd.nextInt(separators.size))
      sb.result()
    }
    fuzz ++ (66241200L until 66241700L).map(PagesGen.docText) ++ Vector("", " ", "\n", "=", "(", "E")
  }

  private lazy val seedEquations = docs.map(SeedKernels.equationsByScan)

  test(s"${docs.size} docs: equations equal the seed's find() scans (id, content, page)") {
    for ((d, want) <- docs.zip(seedEquations))
      assert(RefAnalyzers.extractEquations(d).map(e => (e.id, e.content, e.page)) ==
        want.map { case (_, id, content, page) => (id, content, page) }, d)
  }

  test("docs: the dropped equation scans never emit, every kept one does") {
    assert(seedEquations.flatMap(_.map(_._1)).toSet == Set("eqNumbered", "eqCall", "eqNamed", "mathCall", "mathArith"))
  }

  test("docs: figure/table refs and sections equal the seed's find() scans") {
    for (d <- docs) {
      assert(RefAnalyzers.extractFigureRefs(d) == SeedKernels.figureRefs(d), d)
      assert(RefAnalyzers.extractSections(d) == SeedKernels.sections(d), d)
    }
  }

  test("docs: collapseWs and split equal the seed's regex forms") {
    val wsOnly = Vector("", " ", "  ", "\u00A0", " a", "a ", " a  b ", "\u2028\u2029x\u0085", "a\u001c\u001fb", "😀 😀")
    for (d <- docs ++ wsOnly) {
      assert(Py.collapseWs(d) == SeedKernels.collapseWs(d), d)
      assert(Py.split(d).toSeq == SeedKernels.split(d).toSeq, d)
    }
  }

  private def cps(s: String): Seq[Int] = s.codePoints.toArray.toSeq.sorted

  test("anchor sets equal a full enumeration of their atom under the pattern's flags, pinned") {
    val eqFlags = Py.MULTI | Py.CASE_I
    for ((set, atom, flags, pinned) <- Seq(
        (RefAnalyzers.letterFolds, "[A-Za-z]", eqFlags, ('A' to 'Z').mkString + ('a' to 'z').mkString + "\u0130\u0131\u017F\u212A"),
        (RefAnalyzers.eqNumberedStart, "E", eqFlags, "Ee"),
        (RefAnalyzers.eqNamedStart, "A|L|S|R|B", eqFlags, "ABLRSablrs\u017F"),
        (RefAnalyzers.figureStart, "F", Py.CASE_I, "Ff"),
        (RefAnalyzers.tableStart, "T", Py.CASE_I, "Tt"))) {
      assert(set.codePoints.toSeq == RefAnalyzers.CodePointSet.enumerate(atom, flags).codePoints.toSeq, atom)
      assert(set.codePoints.toSeq == cps(pinned), atom)
    }
  }

  test("eqCall start guard: under CASE_I every code point [A-Z] matches also matches [a-z]") {
    val upper = RefAnalyzers.CodePointSet.enumerate("[A-Z]", Py.MULTI | Py.CASE_I).codePoints.toSet
    val lower = RefAnalyzers.CodePointSet.enumerate("[a-z]", Py.MULTI | Py.CASE_I).codePoints.toSet
    assert(upper.subsetOf(lower))
    // the sets differ, so a guard widened to [a-z] (or [A-Za-z]) blocks real starts
    assert((lower -- upper) == Set(0x0130, 0x212a))
  }
}
