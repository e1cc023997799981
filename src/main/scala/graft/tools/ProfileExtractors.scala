package graft.tools

import graft.kg.{PagesGen, Pipeline, Py, RefAnalyzers, RefText}
import graft.kg.Schema.Page

/** Single-threaded per-extractor microbenchmark over the synthetic corpus
  * (finds the CPU hotspots that dominate docs/sec/core at scale):
  *
  *   runMain graft.tools.ProfileExtractors [n=2000] [firstDocId=0]
  *
  * times each extractor over PagesGen docs [firstDocId, firstDocId + n):
  * 3 untimed passes over all n docs let the JIT settle, then each line
  * reports the median of 5 timed passes. `rawText` runs on the same docs
  * as html-only pages (text null), the path every 50th page takes. */
object ProfileExtractors {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 2000
    val first = if (args.length > 1) args(1).toLong else 0L
    val ids = (first until first + n).toArray
    val docs = ids.map(PagesGen.docText)
    val htmlOnly = ids.zip(docs).map { case (id, t) => Page(PagesGen.url(id), null, PagesGen.html(t), null, "en") }

    def time[T](name: String, in: Array[T])(f: T => Any): Unit = {
      def passMs(): Double = { val t0 = System.nanoTime(); in.foreach(f); (System.nanoTime() - t0) / 1e6 }
      for (_ <- 0 until 3) passMs()
      val ms = Array.fill(5)(passMs()).sorted.apply(2)
      println(f"$name%-22s ${ms / n}%8.3f ms/doc  (${n / (ms / 1000)}%8.0f docs/sec/core)")
    }

    time("cleanText", docs)(RefText.cleanText)
    time("collapseWs", docs)(Py.collapseWs)
    time("Py.split", docs)(Py.split)
    time("rawText (html-only)", htmlOnly)(Pipeline.rawText)
    time("createChunks", docs)(t => RefText.createChunks(RefText.cleanText(t)))
    time("computeStats", docs)(RefAnalyzers.computeStats)
    time("extractSummary", docs)(RefAnalyzers.extractSummary(_))
    time("extractKeywords", docs)(RefAnalyzers.extractKeywords(_))
    time("technicalTerms", docs)(RefAnalyzers.extractTechnicalTerms(_))
    time("figureRefs", docs)(RefAnalyzers.extractFigureRefs)
    time("metadata", docs)(RefAnalyzers.extractMetadata)
    time("sections", docs)(RefAnalyzers.extractSections)
    time("equations", docs)(RefAnalyzers.extractEquations)
    time("ALL (triplesForDoc)", docs)(t => Pipeline.triplesForDoc("u", t))
  }
}
