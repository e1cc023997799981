package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.kg.PagesGen
import graft.kg.Schema.Page

/** Seeded inputs: a window of doc ids over the public PagesGen corpus,
  * written as a many-file parquet `pages` table. The program under test
  * only ever reads that table. */
object Inputs {

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** First doc id of the window for (seed, salt). A multiple of 100, so
    * every window of n·100 docs has the corpus's exact mix of hot,
    * media, html-only and reversed-text pages (their id periods divide
    * 100); the seed moves which docs, not what kind of docs. */
  def base(seed: Long, salt: Long): Long =
    Math.floorMod(mix(seed * 1000003L + salt), 1000000L) * 100L

  /** A seeded draw in [0, n). */
  def pick(seed: Long, k: Long, n: Int): Int = Math.floorMod(mix(seed * 7919L + k), n.toLong).toInt

  private val epoch = 1767225600000L

  /** The page for doc `id`, built exactly as `PagesGen.pages` builds it. */
  def page(id: Long): Page = {
    val text = PagesGen.docText(id)
    val html = ("<html><body><p>" + text + "</p></body></html>").getBytes(StandardCharsets.UTF_8)
    Page(PagesGen.url(id), new Timestamp(epoch + id * 1000L), html,
      if (id % 50 == 49) null else text, if (id % 20 == 7) "xx" else "en")
  }

  /** Write docs [base, base + n) as `files` parquet files. */
  def write(spark: SparkSession, dir: String, base: Long, n: Int, files: Int): Unit = {
    import spark.implicits._
    spark.range(base, base + n).map(id => page(id)).repartition(files).write.parquet(dir)
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else if (f.isFile) Seq(f) else Nil

  /** Bytes of every file under `dir`. */
  def dirBytes(dir: String): Long = walk(new File(dir)).map(_.length()).sum

  /** Parquet data files under `dir`. */
  def dataFiles(dir: String): Int = walk(new File(dir)).count(_.getName.startsWith("part-"))

  /** Properties of a written window, for the run artifact. */
  def props(dir: String, base: Long, n: Int): Map[String, Any] = {
    val ids = base until base + n
    def share(p: Long => Boolean) = ids.count(p).toDouble / n
    Map("first_doc_id" -> base, "docs" -> n, "files" -> dataFiles(dir), "bytes" -> dirBytes(dir),
      "hot_entity_share" -> share(_ % 5 == 0),
      "media_share" -> share(_ % 10 == 3),
      "html_only_share" -> share(_ % 50 == 49),
      "reversed_text_share" -> share(_ % 100 == 99),
      "lang_xx_share" -> share(_ % 20 == 7))
  }
}
