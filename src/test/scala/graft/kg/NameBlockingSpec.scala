package graft.kg

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

/** Name blocking as it ran before the one-pass bucket kernel: the
  * generic Dedup composition (narrow MinHash kernel → bands → capped
  * candidate self-join → join-based exact Jaccard over xxhash64 shingle
  * proxies). The oracle NameBlockingSpec compares
  * `EntityLinking.nameSimilarityEdges` against. */
object SeedNameBlocking {
  def edges(keys: DataFrame): DataFrame = {
    val named = keys.select(col("entity_key")).distinct()
    val sigs = Dedup.minhashShingles(named, "entity_key", "entity_key", 8, 4)
    val pairs = Dedup.candidatePairs(Dedup.minhashBands(sigs, "entity_key", 2),
      "entity_key", metricName = "namesim_buckets")
    val sh = Dedup.charShingles(named, "entity_key", "entity_key", 4)
      .withColumnRenamed("shingle", "token")
    Dedup.jaccardVerify(pairs, sh, "entity_key")
      .where(col("jaccard") >= 0.7)
      .select(col("id1").as("key_a"), col("id2").as("key_b"))
  }
}

/** Differential test of the one-pass name-blocking kernel against
  * `SeedNameBlocking`: same edge set, same `namesim_buckets` observe
  * values, on the concept keys a PagesGen corpus links and on fuzz keys
  * that pin code-point shingles and Spark's binary string order. */
class NameBlockingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (edges, namesim_buckets row) of one blocking plan over `keys`. */
  private def run(blocking: DataFrame => DataFrame, keys: Seq[String]): (Set[(String, String)], Row) = {
    val df = blocking(keys.toDF("entity_key"))
    // collect `df` itself: its own query execution carries the metrics
    val edges = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val metrics = df.queryExecution.observedMetrics.get("namesim_buckets")
    assert(metrics.exists(m => !m.isNullAt(0) && !m.isNullAt(1)), s"no namesim_buckets values: $metrics")
    (edges, metrics.get)
  }

  private def assertSame(keys: Seq[String]): (Set[(String, String)], Row) = {
    val (got, gotM) = run(EntityLinking.nameSimilarityEdges(_), keys)
    val (want, wantM) = run(SeedNameBlocking.edges(_), keys)
    assert(got == want, s"only kernel: ${got -- want}; only oracle: ${want -- got}")
    assert(gotM == wantM, s"namesim_buckets kernel $gotM, oracle $wantM")
    (got, gotM)
  }

  test("PagesGen concept keys of 3,000 docs: same edges and bucket metrics as the Dedup composition") {
    val keys = (0L until 3000L).flatMap { id =>
      Pipeline.triplesForDoc(PagesGen.url(id), PagesGen.docText(id))
        .filter(t => t.pred == "mentionsEntity" && t.kind == "concept")
        .map(t => Py.lower(t.obj))
    }.distinct
    assert(keys.size >= 10, keys.mkString(","))
    assert(assertSame(keys)._1.nonEmpty, "the corpus plants plural variants; no edge was found")
  }

  test("fuzz keys: short, non-BMP, U+E000-U+FFFF, variants and one crowded bucket") {
    val rnd = new scala.util.Random(20261019L)
    // alphabets whose UTF-16 and code-point views differ (non-BMP), and
    // whose UTF-16 order differs from Spark's binary (code-point) order
    // (U+E000-U+FFFF sorts above the surrogates in UTF-16, below them in
    // code points)
    val alphabets = Vector(
      "abcdefghijklmnopqrstuvwxyz ",
      "\uD835\uDD38\uD835\uDD39\uD835\uDD3B\uD83D\uDE00\uD83D\uDE01 ab",
      "\uE000\uE001\uFFFD\uFF21\uFF22 ab",
      "ab\uD83D\uDE00\uFF21 \u00E9\u4F60")
    def word(alpha: String): String = {
      val cps = alpha.codePoints().toArray
      val n = 1 + rnd.nextInt(14)
      new String(Array.fill(n)(cps(rnd.nextInt(cps.length))), 0, n)
    }
    def cpEdit(s: String): String = {
      val cps = s.codePoints().toArray
      if (cps.isEmpty) s
      else {
        val i = rnd.nextInt(cps.length)
        rnd.nextInt(3) match {
          case 0 => new String(cps.patch(i, Nil, 1), 0, cps.length - 1)
          case 1 => new String(cps.updated(i, "\uD83D\uDE00".codePointAt(0)), 0, cps.length)
          case _ => new String(cps.updated(i, '\uFF21'.toInt), 0, cps.length)
        }
      }
    }
    val bases = Vector.fill(160)(word(alphabets(rnd.nextInt(alphabets.size))))
    val variants = bases.flatMap(b => Seq(b, b + "s", b + "es", cpEdit(b), cpEdit(b + "s")))
    // one crowded bucket: every window of length >= 8 of a period-5
    // string has the same 5 shingles, so 115 keys share every band
    val periodic = "q\uD83D\uDE00r\uFF21s" * 8
    val crowd = for (start <- 0 until 5; len <- 8 to 30) yield {
      val cps = periodic.codePoints().toArray
      new String(cps, start, len)
    }
    val short = Seq("", "a", "ab", "abc", "abcd", "abcde", "\uD83D\uDE00", "\uD83D\uDE00a",
      "\uD83D\uDE00\uD83D\uDE01\uD83D\uDE02\uD83D\uDE03", "\uE000", "\uFF21\uFF22\uFF23\uFF24")
    // the same near-pair in both high ranges pins the pair orientation:
    // U+FF21 < U+1F600 in binary order, the reverse in UTF-16 order
    val ordered = Seq("convolutional network\uFF21", "convolutional network\uD83D\uDE00")
    val keys = (variants ++ crowd ++ short ++ ordered).distinct
    val (edges, metrics) = assertSame(keys)
    assert(metrics.getAs[Long]("max_bucket") >= crowd.size, metrics)
    assert(edges.contains((ordered(0), ordered(1))), edges.filter(_._1.startsWith("conv")))
    assert(edges.count { case (a, b) => crowd.contains(a) && crowd.contains(b) } ==
      crowd.size * (crowd.size - 1) / 2)
  }

  test("a null key counts in its buckets and pairs with nothing, as in the composition") {
    // null hashes as "": the two share all 4 buckets, the only blocks of
    // 2. The result is empty, and adaptive execution then replaces the
    // executed subtree, observe node included, by an empty relation in
    // its final plan, so the metrics read only with it off.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (edges, metrics) =
      try assertSame(Seq[String](null, "", "abcd", "wxyz"))
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(edges.isEmpty)
    assert(metrics.getAs[Long]("max_bucket") == 2L && metrics.getAs[Long]("capped_buckets") == 0L, metrics)
    assert(assertSame(Seq[String](null, "graph network", "graph networks"))._1 ==
      Set(("graph network", "graph networks")))
  }
}
