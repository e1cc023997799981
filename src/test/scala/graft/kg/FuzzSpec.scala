package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** 250 random adversarial documents with reference-computed outputs
  * (tools/gen_goldens.py `fuzz` section) — guards the optimized kernel
  * paths (dead-pattern skipping, literal-anchored equation scans) against any
  * semantic drift. */
class FuzzSpec extends AnyFunSuite {

  private val fuzz: List[(String, JValue)] = {
    val is = getClass.getResourceAsStream("/goldens.json")
    val txt = scala.io.Source.fromInputStream(is, "UTF-8").mkString
    (JsonMethods.parse(txt) \ "fuzz").asInstanceOf[JObject].obj
  }

  private def str(v: JValue): String = v.asInstanceOf[JString].s

  test(s"${fuzz.size} fuzz docs: clean_text byte-identical") {
    for ((name, c) <- fuzz) {
      assert(RefText.cleanText(str(c \ "input")) == str(c \ "clean"), name)
    }
  }

  test("fuzz docs: equations identical (id, content, page)") {
    for ((name, c) <- fuzz) {
      val got = RefAnalyzers.extractEquations(str(c \ "input"))
        .map(e => (e.id, e.content, e.page))
      val want = (c \ "equations").asInstanceOf[JArray].arr.map { e =>
        def i(f: String) = (e \ f) match {
          case JInt(x) => x.toInt
          case JLong(x) => x.toInt
          case x => fail(s"$x")
        }
        (i("id"), str(e \ "content"), i("page"))
      }
      assert(got == want, s"$name input=${str(c \ "input").take(120)}")
    }
  }

  test("fuzz docs: every anchored equation scan emits on some doc") {
    val emitting = fuzz.flatMap { case (_, c) => SeedKernels.equationsByScan(str(c \ "input")).map(_._1) }.toSet
    for (scan <- Seq("eqNumbered", "eqCall", "eqNamed", "mathCall", "mathArith"))
      assert(emitting.contains(scan), s"no golden fuzz doc makes $scan emit")
  }

  test("fuzz docs: technical terms identical (term, freq)") {
    for ((name, c) <- fuzz) {
      val got = RefAnalyzers.extractTechnicalTerms(str(c \ "input"))
        .map(t => (t.term, t.frequency))
      val want = (c \ "terms").asInstanceOf[JArray].arr.map { t =>
        val arr = t.asInstanceOf[JArray].arr
        (str(arr(0)), arr(1) match {
          case JInt(x) => x.toInt
          case JLong(x) => x.toInt
          case x => fail(s"$x")
        })
      }
      assert(got == want, name)
    }
  }

  test("fuzz docs: keywords identical") {
    for ((name, c) <- fuzz) {
      val got = RefAnalyzers.extractKeywords(str(c \ "input")).toList
      val want = (c \ "keywords").asInstanceOf[JArray].arr.map(str)
      assert(got == want, name)
    }
  }

  test("fuzz docs: process() chunks identical") {
    for ((name, c) <- fuzz) {
      val got = RefText.process(str(c \ "input")).toList
      val want = (c \ "chunks").asInstanceOf[JArray].arr.map(str)
      assert(got == want, name)
    }
  }
}
