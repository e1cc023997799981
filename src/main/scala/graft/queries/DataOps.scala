package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Cdc, Curation, Dedup, Layout, Multimodal, Packing, Retrieval, Similarity, TextAnalysis}

/** Training-data pipeline operators as driver-contract queries with
  * DuckDB oracles: deduplication (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard), similarity search (brute-force cosine top-k,
  * hyperplane-LSH buckets + ANN), text analysis (lang-ID, quality,
  * token counts, fingerprints), and multimodal binary plumbing.
  *
  * The documents table has no duplicates, so `ddInput` deterministically
  * plants exact copies (doc_id+1000000, every 25th) and near-duplicates
  * (doc_id+2000000, every 20th, with an appended tail) — the same
  * derivation is inlined in each oracle's CTE. */
object DataOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** The doc ids the synthetic media lanes encode and decode from,
    * spread over the session: the per-row encode+decode is CPU-fat,
    * and over a one-split input the whole lane runs on a single task
    * (measured: 11 s single-task vs ~1.5 s spread). */
  private def docIds(s: SparkSession, dir: String): Dataset[Long] = {
    import s.implicits._
    Layout.spread(docs(s, dir).select(col("doc_id").cast("long")).as[Long])
  }

  /** The canonical WARC page derivation shared by the batch round-trip
    * (`src_warc_roundtrip`), the CDX index (`src_cdx_index`) and the
    * streaming ingest lane (`st_warc_ingest`, whose oracle is ALIASED to
    * the round-trip's) — these must stay byte-identical, so there is
    * exactly one copy. */
  private[queries] def warcPages(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").where(col("text").isNotNull)
      .select(
        concat(lit("https://crawl.example.org/"), col("source"), lit("/"),
          col("doc_id")).as("url"),
        concat(lit("2024-01-0"), pmod(col("doc_id"), lit(9)) + 1,
          lit("T00:00:00Z")).as("warc_date"),
        encode(col("text"), "UTF-8").as("payload"),
        pmod(col("doc_id"), lit(32)).as("shard"))

  /** The synthesized nav/article/footer page shared by `wt_main_content`
    * and `src_wet_convert` — their oracles encode the same expectation
    * (the article paragraph survives, the chrome drops). */
  private[queries] def navFooterPage(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit("<html><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
        "<a href=\"/c\">Contact</a> <a href=\"/b\">Blog</a></nav>"),
      lit("<p>"), text, lit("</p>"),
      lit("<footer>© 2024 Site</footer></body></html>"))

  private val nearDupTail = " additional tail content for near duplicate testing"
  private val decontTail = " extra trailing content appended after the contaminated span"

  /** The planted decontamination corpus of `cu_decontaminate` and
    * `cu_fuzzy_decontam`: bench = doc_id % 97 == 0, and the corpus is
    * the other docs plus one contaminated copy of each bench doc (its
    * text + `decontTail`, doc_id + 3000000). Returns (corpus, bench). */
  private def decontCorpus(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
    val bench = base.where(col("doc_id") % 97 === 0)
    val contaminated = bench.select((col("doc_id") + 3000000L).as("doc_id"),
      concat(col("text"), lit(decontTail)).as("text"))
    (base.where(col("doc_id") % 97 =!= 0).union(contaminated), bench)
  }

  /** The 2-epoch SCD2 history of `tb_time_travel` and `tb_scd2_merge`:
    * every customer open at its segment from 0, plus a pre-closed OLD
    * version over [-10, 0) for keys % 10 == 0. */
  private def scd2History(c: DataFrame): DataFrame =
    c.where(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("k"), lit("OLD").as("segment"),
        lit(-10L).as("valid_from"), lit(0L).as("valid_to"))
      .unionAll(c.select(col("c_custkey").as("k"), col("c_mktsegment").as("segment"),
        lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to")))

  /** The mutated customer snapshot of `tb_scd2_merge` and
    * `tb_snapshot_diff`: deletes keys % 7, changes the segment of keys
    * % 5, adds keys % 11 shifted by 100000 — all four merge arms. */
  private def mutatedSnapshot(c: DataFrame): DataFrame =
    c.where(col("c_custkey") % 7 =!= 0)
      .select(col("c_custkey").as("k"),
        when(col("c_custkey") % 5 === 0, lit("CHANGED"))
          .otherwise(col("c_mktsegment")).as("segment"))
      .unionAll(c.where(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + 100000L).as("k"), lit("NEWSEG").as("segment")))


  /** Deterministic crawl-page synthesis for the wt_* webgraph queries:
    * 3 absolute anchors per page over a 23-host universe plus a
    * relative anchor that must NOT extract; the identical derivation is
    * inlined in the oracles' CTEs. */
  private def hostPages(s: SparkSession, dir: String): DataFrame = {
    def host(e: org.apache.spark.sql.Column) =
      concat(lit("host"), e, lit(".example.com"))
    val html = concat(
      lit("<html><body><p>intro</p>"),
      lit("<a href=\"https://"), host(pmod(col("doc_id") * 7 + 1, lit(23))), lit("/p1\">l1</a>"),
      lit("<a href=\"http://"), host(pmod(col("doc_id") * 7 + 2, lit(23))), lit("/p2?q=1\">l2</a>"),
      lit("<a href=\"https://"), host(pmod(col("doc_id") * 3, lit(23))), lit("/\">l3</a>"),
      lit("<a href=\"/relative/path\">rel</a></body></html>"))
    docs(s, dir).select(col("doc_id"),
      host(pmod(col("doc_id"), lit(23))).as("src_host"), html.as("html"))
  }

  /** Deterministic anchor-text synthesis for wt_anchor_alias: two named
    * anchors over a 9-entity × 23-host universe (several hosts per
    * entity name → the alias argmax has real competition), a relative
    * anchor and a whitespace-only anchor that must both drop. */
  private def anchorPages(s: SparkSession, dir: String): DataFrame = {
    def host(e: org.apache.spark.sql.Column) =
      concat(lit("host"), e, lit(".example.com"))
    val html = concat(
      lit("<a href=\"https://"), host(pmod(col("doc_id") * 7 + 1, lit(23))),
      lit("/p\">Entity "), pmod(col("doc_id") * 5 + 1, lit(9)), lit("</a>"),
      lit("<a href=\"http://"), host(pmod(col("doc_id") * 3, lit(23))),
      lit("/\">entity "), pmod(col("doc_id") * 5 + 2, lit(9)), lit(" homepage</a>"),
      lit("<a href=\"/rel\">skip me</a>"),
      lit("<a href=\"https://"), host(pmod(col("doc_id"), lit(23))),
      lit("/x\">   </a>"))
    docs(s, dir).select(col("doc_id"), html.as("html"))
  }

  /** documents ∪ planted exact dups ∪ planted near dups. */
  /** The dd_* suite's exact/near-dup expansion of a (doc_id, text)
    * shard — row-local (a doc's planted copies always travel WITH it),
    * so the streaming lane can apply it per micro-batch and accumulate
    * exactly the batch corpus (st_delta_pairs relies on this). */
  private[queries] def ddExpand(base: DataFrame): DataFrame = {
    val exact = base.where(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val near = base.where(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(nearDupTail)).as("text"))
    base.union(exact).union(near)
  }

  private def ddInput(s: SparkSession, dir: String): DataFrame =
    ddExpand(docs(s, dir).select(col("doc_id"), col("text")))

  /** MinHash-verified near-dup pairs of `input` (the Spark side of
    * `minhashPairCtesWith`): 8×8 signatures → 4-row bands →
    * `candidates` → exact Jaccard over char-8 shingles, kept at ≥ 0.5.
    * Signatures come from the narrow single-pass kernel (zero shuffle);
    * only the verification needs the shingle table. */
  private def verifiedMinhashPairs(input: DataFrame)(
      candidates: DataFrame => DataFrame): DataFrame = {
    val sigs = Dedup.minhashShingles(input, "doc_id", "text", 8, 8)
    val pairs = candidates(Dedup.minhashBands(sigs, "doc_id", 4))
    val sh = Dedup.charShingles(input, "doc_id", "text", 8)
      .withColumnRenamed("shingle", "token")
    Dedup.jaccardVerify(pairs, sh, "doc_id").where(col("jaccard") >= 0.5)
  }

  /** Banded hyperplane-LSH candidate CTE over `embeddings` (mirrors
    * Similarity.lshBands + Dedup.candidatePairs: 4 bands × 8 planes, bucket
    * cap, pairs distinct'd before scoring). Yields `cand(id1, id2)`. */
  private val bandedCandSql: String =
    """dims AS (
      |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
      |         generate_subscripts(embedding, 1) - 1 AS i
      |  FROM embeddings),
      |dots AS (
      |  SELECT vec_id, p,
      |         sum(x * (strpos('0123456789abcdef',
      |                         substr(md5(p::VARCHAR || ':' || i::VARCHAR), (i % 32)::INT + 1, 1)) - 1 - 7.5)) AS dot
      |  FROM dims, generate_series(0, 31) AS t(p) GROUP BY 1, 2),
      |bands AS (
      |  SELECT vec_id, (p // 8)::INT AS band,
      |         string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
      |  FROM dots GROUP BY 1, 2),
      |kept AS (
      |  SELECT band, bucket FROM bands GROUP BY 1, 2 HAVING count(*) <= 100000),
      |inb AS (SELECT b.vec_id, b.band, b.bucket FROM bands b JOIN kept USING (band, bucket)),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      |  FROM inb a JOIN inb b USING (band, bucket) WHERE a.vec_id < b.vec_id)""".stripMargin

  /** DuckDB form of the Dedup.MinhashP/A/B universal-hash MinHash: one
    * md5 per unit, hash k = (a_k·(x mod p) + b_k) mod p over the unsigned
    * 32-bit md5 prefix. `unit` is a SQL expression for the hashed value.
    * Shared by the dd_minhash_* oracles and the kg name-blocking CTEs. */
  private[queries] def minhashHashSql(unit: String): String =
    s"(((1103515245::BIGINT * (seed + 1) + 12345) % 2147483647) * " +
      s"(('0x' || substr(md5($unit), 1, 8))::BIGINT % 2147483647) + " +
      s"((69069::BIGINT * (seed + 1) + 362437) % 2147483647)) % 2147483647"

  /** Host-edges derivation shared by the wt_host_edges oracle and (as a
    * subquery) wt_host_rank's PageRank recurrence. */
  private val hostEdgesOracleSql: String =
    """WITH pages AS (
      |  SELECT doc_id,
      |         'host' || (doc_id % 23) || '.example.com' AS src_host,
      |         '<html><body><p>intro</p>'
      |         || '<a href="https://host' || ((doc_id * 7 + 1) % 23) || '.example.com/p1">l1</a>'
      |         || '<a href="http://host' || ((doc_id * 7 + 2) % 23) || '.example.com/p2?q=1">l2</a>'
      |         || '<a href="https://host' || ((doc_id * 3) % 23) || '.example.com/">l3</a>'
      |         || '<a href="/relative/path">rel</a></body></html>' AS html
      |  FROM documents),
      |links AS (
      |  SELECT src_host, lower(h) AS dst_host FROM (
      |    SELECT src_host,
      |           unnest(regexp_extract_all(html, 'href="https?://([^/"]+)', 1)) AS h
      |    FROM pages))
      |SELECT src_host, dst_host, count(*) AS n_links
      |FROM links GROUP BY 1, 2""".stripMargin

  /** DuckDB form of Graph.hits: the max-renormalized integer recurrence
    * unrolled CTE-per-half-sweep, generated from the SAME (iters, scale)
    * params as the Spark call (the pageRankSql no-drift idiom). The
    * score CTEs are referenced twice (join + scalar max) → MATERIALIZED. */
  private def hitsSql(edgesSql: String, iters: Int, scale: Long, topK: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH e AS MATERIALIZED ($edgesSql),\n")
    sb.append("verts AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),\n")
    sb.append(s"h0 AS (SELECT v, ${scale}::BIGINT AS h FROM verts),\n")
    for (k <- 1 to iters) {
      sb.append(s"a${k}r AS MATERIALIZED (SELECT verts.v, coalesce(s.a, 0)::BIGINT AS a FROM verts LEFT JOIN\n")
      sb.append(s"  (SELECT e.dst AS v, sum(h.h * e.w)::BIGINT AS a FROM e JOIN h${k - 1} h ON h.v = e.src GROUP BY 1) s USING (v)),\n")
      sb.append(s"a$k AS MATERIALIZED (SELECT v, a // greatest((SELECT max(a) FROM a${k}r) // $scale, 1) AS a FROM a${k}r),\n")
      sb.append(s"h${k}r AS MATERIALIZED (SELECT verts.v, coalesce(s.h, 0)::BIGINT AS h FROM verts LEFT JOIN\n")
      sb.append(s"  (SELECT e.src AS v, sum(a.a * e.w)::BIGINT AS h FROM e JOIN a$k a ON a.v = e.dst GROUP BY 1) s USING (v)),\n")
      sb.append(s"h$k AS MATERIALIZED (SELECT v, h // greatest((SELECT max(h) FROM h${k}r) // $scale, 1) AS h FROM h${k}r),\n")
    }
    sb.setLength(sb.length - 2)
    sb.append(s"\nSELECT v AS vertex, h AS hub, a AS auth FROM h$iters JOIN a$iters USING (v) " +
      s"ORDER BY auth DESC, vertex ASC LIMIT $topK")
    sb.toString
  }

  /** DuckDB form of Graph.ssspDistances: Bellman-Ford rounds unrolled,
    * per-vertex min over (carry ∪ relaxed) each round. */
  private def ssspSql(edgesSql: String, source: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH e AS MATERIALIZED ($edgesSql),\n")
    sb.append(s"d0 AS (SELECT '$source' AS v, 0::BIGINT AS dist),\n")
    for (k <- 1 to rounds) {
      sb.append(s"d$k AS MATERIALIZED (SELECT v, min(dist)::BIGINT AS dist FROM (\n")
      sb.append(s"  SELECT v, dist FROM d${k - 1} UNION ALL\n")
      sb.append(s"  SELECT e.dst AS v, d.dist + e.w AS dist FROM d${k - 1} d JOIN e ON e.src = d.v) GROUP BY 1),\n")
    }
    sb.setLength(sb.length - 2)
    sb.append(s"\nSELECT v AS vertex, dist FROM d$rounds")
    sb.toString
  }

  /** The ir_bm25_topk oracle program — a val so the RRF-fusion oracle
    * embeds THE SAME ranking derivation instead of a drift-prone copy.
    * Constants are pre-folded to the exact doubles bm25TopK receives
    * (2.2 = k1+1; 0.25 = 1−b) — folding them in SQL instead would go
    * through DuckDB DECIMAL arithmetic and drift in the last ulp. */
  private val bm25TopkSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS term FROM documents),
      |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
      |       WHERE term IN ('spark', 'join', 'hash', 'window') GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |         round(sum(ln(1.0::DOUBLE + (s.n_docs - d.df + 0.5::DOUBLE) / (d.df + 0.5::DOUBLE)) *
      |                   tf.tf * 2.2::DOUBLE /
      |                   (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl.dl / s.avgdl))), 4) AS score
      |  FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
      |  GROUP BY 1)
      |SELECT doc_id, score, rank FROM (
      |  SELECT doc_id, score,
      |         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      |  FROM scored) WHERE rank <= 20""".stripMargin

  private val ddInputSql: String =
    s"""dd_input AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, text || '$nearDupTail' AS text
       |  FROM documents WHERE doc_id % 20 = 0)""".stripMargin

  /** Char-8-gram shingles CTE (token sets are useless here: 31-word
    * vocab ⇒ near-total token overlap across docs). */
  private val shinglesSql: String =
    """shingles AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(generate_series(1, greatest(1, strlen(text) - 7)),
      |                               i -> substr(text, i::int, 8))) AS shingle
      |  FROM dd_input)""".stripMargin

  /** MinHash-LSH candidate + shingle-intersection CTEs (sigs → bands →
    * cands → sizes/inter), shared by the dd_minhash_pairs and
    * dd_dedup_clusters oracles. */
  /** The sigs→bands CTE pair over `shingles`, shared by the pair oracles
    * (rowsPerBand = 4) and the meta-blocking oracle (rowsPerBand = 1 —
    * the dense redundancy-positive blocking meta-blocking exists for). */
  private def sigBandCtes(rowsPerBand: Int): String =
    s"""sigs AS (
       |  SELECT doc_id, seed, min(${minhashHashSql("shingle")}) AS minhash
       |  FROM shingles, generate_series(0, 7) AS t(seed) GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, (seed // $rowsPerBand)::INT AS band,
       |         md5(string_agg(minhash::VARCHAR, ':' ORDER BY seed)) AS bucket
       |  FROM sigs GROUP BY 1, 2)""".stripMargin

  private def minhashPairCtesWith(candsSql: String): String =
    s"""${sigBandCtes(4)},
       |cands AS (
       |$candsSql),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
       |inter AS (
       |  SELECT c.id1, c.id2, count(*) AS i
       |  FROM cands c
       |  JOIN shingles s1 ON s1.doc_id = c.id1
       |  JOIN shingles s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
       |  GROUP BY 1, 2)""".stripMargin

  private val minhashPairCtes: String = minhashPairCtesWith(
    """  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM bands a JOIN bands b USING (band, bucket)
      |  WHERE a.doc_id < b.doc_id""".stripMargin)

  /** Delta variant of `cands`: the a-side is restricted to the incoming
    * shard (ids ≥ 2000000 in the dd_input construction), so pairs carry
    * ≥1 new member — pre-existing corpus×corpus pairs are excluded,
    * mirroring `Dedup.deltaCandidatePairs`. */
  private val minhashDeltaPairCtes: String = minhashPairCtesWith(
    """  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
      |         greatest(a.doc_id, b.doc_id) AS id2
      |  FROM bands a JOIN bands b USING (band, bucket)
      |  WHERE a.doc_id >= 2000000 AND a.doc_id <> b.doc_id""".stripMargin)

  /** One deterministic snippet per language for `ta_langid_scripts`
    * (doc_id % 12 picks the row's language). Non-ASCII is written as
    * \u escapes here and emitted as chr() calls on the DuckDB side
    * (`sqlText`), so neither source file carries non-ASCII literals. */
  private val LangSnippets: Seq[(String, String)] = Seq(
    "en" -> "the cat and the dog is in the house for it",
    "de" -> "der hund und die katze ist nicht mit ein zu",
    "fr" -> "le chat et la maison est dans les que pour",
    "es" -> "el gato y los perros es una se con por",
    // ru: the ru profile words themselves
    "ru" -> ("\u0438 \u0432 \u043d\u0435 \u043d\u0430 \u0447\u0442\u043e " +
      "\u043a\u0430\u043a \u044d\u0442\u043e \u043e\u043d \u043d\u043e \u043f\u043e"),
    // uk: the uk profile words
    "uk" -> ("\u0456 \u0432 \u043d\u0435 \u043d\u0430 \u0449\u043e " +
      "\u044f\u043a \u0446\u0435 \u0432\u0456\u043d \u0430\u043b\u0435 \u043f\u043e"),
    // ja: hiragana + han ("this is japanese; kanji too")
    "ja" -> "\u3053\u308c\u306f\u65e5\u672c\u8a9e \u6f22\u5b57\u3082\u3042\u308b",
    // zh: pure han ("this is chinese text, no kana")
    "zh" -> "\u8fd9\u662f\u4e2d\u6587\u6587\u672c \u6ca1\u6709\u5047\u540d",
    // el: greek ("this is greek")
    "el" -> "\u03b1\u03c5\u03c4\u03cc \u03b5\u03af\u03bd\u03b1\u03b9 \u03b5\u03bb\u03bb\u03b7\u03bd\u03b9\u03ba\u03cc",
    // ar: arabic ("this is arabic text")
    "ar" -> "\u0647\u0630\u0627 \u0646\u0635 \u0639\u0631\u0628\u064a",
    // ko: hangul ("korean text")
    "ko" -> "\ud55c\uad6d\uc5b4 \ud14d\uc2a4\ud2b8",
    // no profile hit in any language → 'und'
    "und" -> "xyzzy qwerty asdf plugh")

  /** Shared BPE merge-learning CTE chain (`TextAnalysis.bpeTrain`'s SQL
    * twin): weighted word dict → double-space symbol encoding → per
    * round, pair counts / (count DESC, p1, p2) argmax (`b<r>`) / literal
    * replace applying the merge (`w<r>`). Ends at `w<nMerges>`, no
    * trailing comma; every CTE MATERIALIZED (each w_r is read by both
    * p_{r+1} and w_{r+1}). Used by the ta_bpe_train oracle (selects the
    * b_r rows) and ta_bpe_encode (applies the b_r merges to every
    * corpus word). */
  private def bpeCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH wd AS MATERIALIZED (
         |  SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |  WHERE regexp_matches(word, '^[a-z]+$$')
         |  GROUP BY 1 HAVING count(*) >= 1),
         |w0 AS MATERIALIZED (
         |  SELECT cnt, ' ' || trim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS w
         |  FROM wd),
         |""".stripMargin)
    for (r <- 1 to nMerges) {
      sb.append(
        s"""p$r AS MATERIALIZED (
           |  SELECT s1, ss[i + 1] AS s2, sum(cnt)::BIGINT AS c FROM (
           |    SELECT cnt, ss, unnest(ss) AS s1, generate_subscripts(ss, 1) AS i
           |    FROM (SELECT cnt, string_split(trim(w), '  ') AS ss FROM w${r - 1}))
           |  WHERE i < len(ss)
           |  GROUP BY 1, 2),
           |b$r AS MATERIALIZED (
           |  SELECT $r AS round, s1 AS p1, s2 AS p2, c AS cnt FROM p$r
           |  ORDER BY c DESC, s1 ASC, s2 ASC LIMIT 1),
           |w$r AS MATERIALIZED (
           |  SELECT w${r - 1}.cnt,
           |         CASE WHEN b.p1 IS NULL THEN w
           |              ELSE replace(w, ' ' || b.p1 || '  ' || b.p2 || ' ',
           |                              ' ' || b.p1 || b.p2 || ' ') END AS w
           |  FROM w${r - 1} LEFT JOIN b$r b ON TRUE),
           |""".stripMargin)
    }
    sb.setLength(sb.length - 2)
    sb.toString
  }

  /** DuckDB expression reproducing a Scala string without putting
    * non-ASCII bytes in the SQL text: ASCII runs stay quoted literals,
    * every other codepoint becomes chr(cp). */
  private def sqlText(s: String): String = {
    val parts = scala.collection.mutable.Buffer[String]()
    val sb = new StringBuilder
    def flush(): Unit =
      if (sb.nonEmpty) { parts += "'" + sb.toString.replace("'", "''") + "'"; sb.clear() }
    s.codePoints().forEach { cp =>
      if (cp >= 32 && cp < 127) sb.append(cp.toChar)
      else { flush(); parts += s"chr($cp)" }
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString("||")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup ----
    "dd_exact" -> ((s, dir) =>
      Dedup.exactGroups(ddInput(s, dir), "doc_id", "text")),

    "dd_minhash_sig" -> ((s, dir) =>
      Dedup.minhashShingles(ddInput(s, dir), "doc_id", "text", 8, 8)),

    "dd_minhash_pairs" -> ((s, dir) =>
      verifiedMinhashPairs(ddInput(s, dir))(Dedup.candidatePairs(_, "doc_id"))),

    // ER meta-blocking (SparkER WNP): pairs scored by shared-block count
    // over the SAME band table the LSH dedup uses, pruned by the exact
    // integer local-mean test — the verifier-volume reducer
    // rowsPerBand = 1 (each minhash its own block): the dense
    // redundancy-positive blocking graph where pruning has teeth —
    // WNP keeps ~18% of the candidates. Even-id half of dd_input
    // (dd_ngram precedent: candidate count is quadratic in block
    // density, so the DEMO is bounded; the planted dup groups survive
    // intact because the synthetic id offsets are even)
    "dd_meta_blocking" -> ((s, dir) => {
      val half = ddInput(s, dir).where(col("doc_id") % 2 === 0)
      val sigs = Dedup.minhashShingles(half, "doc_id", "text", 8, 8)
      Dedup.metaBlocking(Dedup.minhashBands(sigs, "doc_id", 1), "doc_id",
        metricName = "dd_meta_blocking_buckets")
    }),

    // DELTA dedup: the near-dup shard (ids ≥ 2000000) plays the newly
    // ingested batch, checked against corpus ∪ delta without re-pairing
    // the corpus — corpus×corpus pairs (the planted exact dups, already
    // found when those shards landed) must NOT re-emit. In production
    // the band index is persisted (ir_index_build pattern) and only the
    // shard is fingerprinted; the stateless contract recomputes it here
    "dd_delta_pairs" -> ((s, dir) =>
      verifiedMinhashPairs(ddInput(s, dir))(
        Dedup.deltaCandidatePairs(_, col("doc_id") >= 2000000L, "doc_id"))),

    // end-to-end dedup artifact: verified LSH pairs → CC over the pair
    // graph → min-id cluster labels + the canonical-doc flag training
    // actually filters on (same pair scheme as dd_minhash_pairs)
    "dd_dedup_clusters" -> ((s, dir) => {
      val input = ddInput(s, dir)
      Dedup.dedupClusters(input, "doc_id",
        verifiedMinhashPairs(input)(Dedup.candidatePairs(_, "doc_id")))
    }),

    // training-sequence packing: per-shard concat-and-chunk layout into
    // 1024-token context windows
    "pk_pack" -> ((s, dir) =>
      Packing.packSequences(docs(s, dir), "doc_id", "text", 1024L, 8)),

    "dd_simhash" -> ((s, dir) =>
      Dedup.simhash(ddInput(s, dir), "doc_id", "text")),

    // pairing runs on SHINGLE simhash: token simhash degenerates on the
    // 31-word vocabulary (near-identical fingerprints → mega-buckets →
    // quadratic candidate blow-up: 97.9s in BENCH_r01); char-8 shingles
    // keep fingerprints spread (max bucket ~3 here), and the narrow
    // single-pass kernel fingerprints with zero shuffle
    "dd_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(
        Dedup.simhashShingles(ddInput(s, dir), "doc_id", "text", 8), "doc_id", 3)),

    "dd_ngram_jaccard" -> ((s, dir) => {
      // all-pairs verification on a doc_id % 4 == 0 subset — the exact
      // quadratic check is the SMALL-BLOCK tool; LSH (dd_minhash_pairs)
      // is the scale path. Planted near-dups (% 20) stay in the subset.
      val input = ddInput(s, dir).where(col("doc_id") % 4 === 0)
      Dedup.jaccardFromUnits(Dedup.charShingles(input, "doc_id", "text", 8),
        "doc_id", "shingle", 0.5)
    }),

    // asymmetric containment over the same %4 subset bound as
    // dd_ngram_jaccard. The oracle computes UNCAPPED intersections, so
    // the contract query must never actually trigger the df cap at ANY
    // scale factor — a per-doc-distinct shingle's df is bounded by the
    // doc count, so MaxValue disarms it exactly (a fixed "big" cap
    // would silently diverge from the oracle once the corpus outgrew
    // it); OpsSpec pins the cap behavior on synthetic hot shingles
    "dd_containment" -> ((s, dir) => {
      val input = ddInput(s, dir).where(col("doc_id") % 4 === 0)
      Dedup.containmentPairs(input, "doc_id", "text", 8, Int.MaxValue, 0.9)
    }),

    // exact-substring dedup, discovery half: every token 8-gram occurring
    // in >= 2 distinct docs of the planted-dup corpus, top 50 — one
    // partial-agg shuffle on the gram, >= 2 filter before the top-k
    "dd_span_dedup" -> ((s, dir) =>
      Dedup.spanInventory(ddInput(s, dir), "doc_id", "text", n = 8, topK = 50)),

    // ---- similarity ----
    "sim_cosine_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.cosineTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", 10)
    }),

    "sim_lsh_buckets" -> ((s, dir) =>
      Similarity.lshBuckets(emb(s, dir), "vec_id", "embedding", 8)),

    "sim_ann_topk" -> ((s, dir) =>
      Similarity.annTopK(emb(s, dir), "vec_id", "embedding", 5, 4, 8)),

    // max pairwise cosine in the synthetic embeddings is ~0.51 → 0.35
    // keeps the near-dup path exercised with a non-empty result
    "sim_cosine_neardups" -> ((s, dir) =>
      Similarity.cosineNearDups(emb(s, dir), "vec_id", "embedding", 0.35, 4, 8)),

    // R4 incremental add: index the delta only, union with the base index
    // (≡ full rebuild — deterministic planes)
    "sim_incremental_add" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.incrementalIndex(
        e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", 8)
    }),

    // IVF-flat ANN: coarse-quantizer scale path (8 lists, probe 2,
    // farthest-point seeding, 2 materialized Lloyd steps); integer-exact
    // assignment math — the oracle recomputes it verbatim
    "sim_ivf_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", 5,
        nClusters = 8, nProbe = 2, lloydSteps = 2)
    }),

    // int8 embedding compression (4 B → 1 B per dim at 100 TB)
    "sim_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(emb(s, dir), "vec_id", "embedding")),

    // SemDeDup-style semantic dedup: IVF k-means partition (same model
    // params as sim_ivf_topk) bounds the pair enumeration to
    // within-cluster; exact cosine >= 0.35 keeps the verified pairs
    "dd_semantic_pairs" -> ((s, dir) =>
      Similarity.semanticNearDups(emb(s, dir), "vec_id", "embedding",
        threshold = 0.35, nClusters = 8, lloydSteps = 2)),

    // ---- retrieval scoring ----
    "ir_bm25_topk" -> ((s, dir) =>
      Retrieval.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "hash", "window"), 20)),

    // long-doc retrieval: BM25 over overlapping passages (same windows
    // as ir_passage_windows), doc scored by its BEST passage (MaxP) —
    // passage-local length normalization vs the whole-doc ir_bm25_topk
    "ir_passage_maxp" -> ((s, dir) =>
      Retrieval.bm25MaxP(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "hash", "window"), 20, size = 40, stride = 25)),

    // materialized inverted index (build once, serve queries with zero
    // corpus scans; bm25FromIndex equality is OpsSpec-pinned)
    "ir_index_build" -> ((s, dir) =>
      Retrieval.buildIndex(docs(s, dir), "doc_id", "text")),

    // hybrid retrieval: the sparse BM25 list and the dense cosine list
    // (probe = vec 0; vec_id ≡ doc_id in the testdata universe) fused
    // by reciprocal rank — rank-only fusion needs no score
    // normalization across the incomparable BM25/cosine scales
    "ir_rrf_fusion" -> ((s, dir) => {
      val sparse = Retrieval.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "hash", "window"), 20)
        .select(col("doc_id"), col("rank"))
      val e = emb(s, dir)
      val dense = Similarity.cosineTopK(e, e.where(col("vec_id") === 0),
        "vec_id", "embedding", 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(sparse, dense), "doc_id", "rank", topK = 15)
    }),

    // exact per-stratum quotas (vs hashSample's binomial sizes): the 25
    // smallest md5(doc_id) per language — bottom-k-stable, rerun-proof
    "cu_quota_sample" -> ((s, dir) =>
      graft.ops.Curation.quotaSample(docs(s, dir), "doc_id", "lang", 25)),

    // temperature-scaled (T=2) language mixing: each language's share of
    // a 300-doc budget ∝ sqrt(count) — integer-exact allocation, then
    // the deterministic bottom-quota per language
    "cu_temperature_mix" -> ((s, dir) =>
      graft.ops.Curation.temperatureMix(docs(s, dir), "doc_id", "lang", 300L)),

    // sparse TF-IDF cosine doc pairs (the lexical near-dup detector):
    // postings self-joined per term, stopword terms (df > 100) pruned
    // loudly, top 50 pairs by rounded cosine
    "ir_sparse_sim" -> ((s, dir) =>
      Retrieval.sparseCosinePairs(docs(s, dir), "doc_id", "text",
        k = 50, maxDf = 100L)),

    // ---- corpus curation ----
    // deterministic stratified sampling: en in full, de at 25%, the
    // long tail at 5% — stable under reruns and repartitioning
    "cu_hash_sample" -> ((s, dir) =>
      Curation.hashSample(docs(s, dir), "doc_id", "lang",
        Seq("en" -> 10000, "de" -> 2500), 500)),

    // per-source cap: top 20 docs per source by length
    "cu_source_cap" -> ((s, dir) =>
      Curation.capPerGroup(docs(s, dir), "doc_id", "source", "n_chars", 20)),

    // decontamination: bench set = doc_id % 97 == 0; planted contaminated
    // copies (bench text + tail, doc_id + 3000000) must be flagged at
    // containment 1.0; natural overlap maxes at ~0.32 at the oracle
    // scale (sf0.01), so 0.5 isolates the plants there (tiny sf0.001
    // benchmark docs can be near-covered naturally — OpsSpec handles it)
    "cu_decontaminate" -> ((s, dir) => {
      val (corpus, bench) = decontCorpus(s, dir)
      Curation.decontaminate(corpus, bench, "doc_id", "text", 8, 0.5)
    }),

    // fuzzy decontamination: MinHash-LSH banding on BOTH sides (the
    // bench-too-big-to-broadcast shape), verified from the signatures'
    // agreement fraction — same planted contamination as cu_decontaminate
    "cu_fuzzy_decontam" -> ((s, dir) => {
      val (corpus, bench) = decontCorpus(s, dir)
      Curation.fuzzyDecontaminate(corpus, bench, "doc_id", "text",
        nHashes = 8, shingleN = 8, rowsPerBand = 4, minJaccardPpm = 500000L)
    }),

    // Bloom-filter decontamination PRE-filter: the membership sketch
    // that makes exact-match decontamination 100-TB-shaped — the bench
    // set's d·w-bit table broadcasts, the corpus streams past it with
    // zero shuffle, and only the maybe-present sliver (true copies +
    // deterministic, oracle-mirrored false positives) goes on to the
    // expensive verify (cu_decontaminate's containment join)
    "cu_bloom_prefilter" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("fp"))
      val bench = base.where(col("doc_id") % 97 === 0)
      val corpus = base.where(col("doc_id") % 97 =!= 0)
        .union(bench.select((col("doc_id") + 4000000L).as("doc_id"), col("fp")))
      val bits = graft.ops.Sketches.bloomBuild(bench, "fp", 3, 4096)
      graft.ops.Sketches.bloomMightContain(bits, corpus, "fp", 3, 4096)
    }),

    // deterministic train/val/test assignment — the id-hash companion
    // to cu_hash_sample: a doc's split never changes across reruns or
    // corpus growth
    "cu_split" -> ((s, dir) =>
      Curation.assignSplits(docs(s, dir), "doc_id", 9000, 500)),

    // C4-style boilerplate line removal: every doc carries two planted
    // per-source footer lines (doc freq = docs/source >> 10) plus its
    // original text and a unique closing line; the footers must drop
    // from every doc and the survivors reassemble in order
    "cu_boilerplate" -> ((s, dir) => {
      val lined = docs(s, dir).select(col("doc_id"),
        concat_ws("\n", col("text"),
          concat(lit("subscribe to "), col("source"), lit(" newsletter today")),
          concat(lit("all rights reserved by "), col("source")),
          concat(lit("doc "), col("doc_id"), lit(" unique closing line"))).as("txt"))
      Curation.removeBoilerplate(lined, "doc_id", "txt", 10L)
    }),

    // PII redaction: deterministic planted email/phone/IP per doc-id
    // residue class (some docs carry none); placeholders + per-type
    // counts must match the oracle's identical regex program
    "cu_pii_redact" -> ((s, dir) => {
      val withPii = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@mail.example.org now")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4)) === 1,
            concat(lit(" call 555-"),
              lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
              lit("-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
              lit(" today")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 2,
            concat(lit(" from 10."), pmod(col("doc_id"), lit(200)),
              lit(".0."), pmod(col("doc_id"), lit(250)), lit(" net")))
            .otherwise(lit(""))).as("txt"))
      Curation.redactPii(withPii, "doc_id", "txt")
    }),

    // per-doc TF-IDF term salience: top-5 terms by tf*ln(N/df) —
    // identical IEEE program on both engines (the BM25 oracle already
    // pins ln parity)
    // RAG passage chunking: overlapping token windows (size 40, stride
    // 25 → 15-token overlap), one window per stride multiple, remainder
    // windows capped at the end
    "ir_passage_windows" -> ((s, dir) =>
      Retrieval.passageWindows(docs(s, dir), "doc_id", "text", 40, 25)),

    // serving-side context packing: per query, admit top-scored
    // candidates while the running token total fits the budget
    // (stop-at-first-overflow prefix; deterministic synthetic scores)
    "ir_context_pack" -> ((s, dir) => {
      val cands = docs(s, dir).select(
        (col("doc_id") % 10).as("query_id"),
        col("doc_id"),
        (col("doc_id") * 37 % 100).as("score"),
        (lit(10) + col("doc_id") % 50).as("n_tokens"))
      Retrieval.contextPack(cands, "query_id", "doc_id", "score", "n_tokens", 120L)
    }),

    "ir_tfidf_terms" -> ((s, dir) =>
      Retrieval.tfIdfTerms(docs(s, dir), "doc_id", "text", 5)),

    // deterministic KMV (k-minimum-values) distinct sketch — the
    // theta-sketch family member that, unlike HLL, is a pure function
    // of a portable hash and so sits under the hash-exact oracle gate;
    // per-group k-smallest via WindowGroupLimit, mergeable at 100 TB
    "ev_kmv_distinct" -> ((s, dir) =>
      graft.ops.Sketches.kmvDistinct(
        s.read.parquet(s"$dir/events.parquet"), "event_type", "event_id", 64)),

    // Morton z-value layout key: bit-interleaved (l_partkey, l_suppkey)
    // — the clustering column a 100-TB table writes `repartitionByRange
    // + sortWithinPartitions` on so parquet/Iceberg min-max envelopes
    // prune files for predicates on EITHER dimension (Layout.zOrderWrite
    // + fileSkipStats carry the skip evidence; OpsSpec pins it). The
    // oracle is GENERATED from the same (bits, scale) parameters as the
    // Scala program, so the two bit-interleave programs cannot drift
    "lo_zorder" -> ((s, dir) =>
      graft.ops.Layout.zValue(
        s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")),
        "l_partkey", "l_suppkey", 8)),

    // small-file compaction plan (Iceberg rewrite_data_files binpack
    // analog): a synthetic file inventory from documents (path ordered
    // by doc_id, size = n_chars) chunked into ~100 KB rewrite bins by
    // the running-sum rule
    "lo_compaction" -> ((s, dir) =>
      graft.ops.Layout.compactionPlan(
        docs(s, dir).select(
          concat(lit("f"), lpad(col("doc_id").cast("string"), 8, "0")).as("path"),
          col("n_chars").as("size_bytes")),
        "path", "size_bytes", 100000L)),

    // deterministic negative sampling for contrastive pairs: 3
    // negatives per (query, positive) pair, hash-drawn, positive-bumped
    "cu_neg_samples" -> ((s, dir) => {
      val d = docs(s, dir)
      val n = d.count()
      graft.ops.Curation.sampleNegatives(
        d.select(col("doc_id").as("query_id"),
          ((col("doc_id") * 7 + 3) % n).as("pos_id")),
        "query_id", "pos_id", n, k = 3)
    }),

    // mergeable fixed-bin histogram quantiles (the deterministic
    // t-digest stand-in): p50/p90/p99 of events.value from a 200-cell
    // histogram — each partition ships 200 longs, never values
    "ev_hist_quantiles" -> ((s, dir) =>
      graft.ops.Sketches.histQuantiles(
        s.read.parquet(s"$dir/events.parquet"), "value", 200,
        Seq(0.5, 0.9, 0.99))),

    // count-min heavy hitters: the exact top-20 whitespace tokens with
    // their CMS point estimates alongside (est_n ≥ n_exact always —
    // collisions only add). The sketch is the mergeable-artifact story:
    // occurrences fold map-side into ≤ d·w cells, ONE cell shuffle, and
    // the few-KB sketch broadcasts to the probe side. The exact counts
    // here are the demo's ground truth — at 100 TB you'd keep ONLY the
    // sketch
    "ev_cms_heavy" -> ((s, dir) => {
      val toks = docs(s, dir).where(col("text").isNotNull)
        .select(explode(filter(split(col("text"), " "), t => t =!= "")).as("token"))
      val sketch = graft.ops.Sketches.cmsBuild(toks, "token", 4, 1024)
      val top = toks.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token").asc).limit(20)
      graft.ops.Sketches.cmsEstimate(sketch, top, "token", 4, 1024)
        .select(col("token"), col("n_exact"), col("est_n"))
    }),

    // ordered funnel signup→view→click→purchase: ONE shuffle (groupBy
    // user collects the sorted step-event list, a codegen'd aggregate
    // lambda folds it) vs the oracle's textbook k-pass min-ts chain —
    // same greedy-earliest semantics, different program
    "ev_funnel" -> ((s, dir) =>
      graft.ops.Events.funnel(
        s.read.parquet(s"$dir/events.parquet"), "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"))),

    // WARC ingest round-trip: documents → per-record-gzipped .warc.gz
    // file blobs (the Common Crawl layout) → parsed back out; output is
    // per-record header fields + payload digest, recomputable by the
    // oracle straight off the documents table
    "src_warc_roundtrip" -> ((s, dir) => {
      val files = graft.sources.Warc.writeFiles(
        warcPages(s, dir), "url", "warc_date", "payload", col("shard"))
      graft.sources.Warc.readPages(files, "warc")
        .select(col("url"), col("warc_date"), col("content_length"),
          md5(col("payload")).as("payload_md5"))
    }),

    // WARC response records carrying real HTTP messages: status line +
    // headers + body, split back out per record
    "src_warc_http" -> ((s, dir) => {
      val d = docs(s, dir).where(col("text").isNotNull)
      val statusLine = when(pmod(col("doc_id"), lit(7)) === 0,
        lit("HTTP/1.1 404 Not Found")).otherwise(lit("HTTP/1.1 200 OK"))
      val ct = when(pmod(col("doc_id"), lit(3)) === 0,
        lit("text/plain; charset=utf-8")).otherwise(lit("text/html; charset=utf-8"))
      val pages = d.select(
        concat(lit("https://crawl.example.org/"), col("source"), lit("/"),
          col("doc_id")).as("url"),
        lit("2024-01-01T00:00:00Z").as("warc_date"),
        encode(concat(statusLine, lit("\r\nContent-Type: "), ct,
          lit("\r\nX-Doc: "), col("doc_id"), lit("\r\n\r\n"), col("text")),
          "UTF-8").as("payload"),
        pmod(col("doc_id"), lit(32)).as("shard"))
      val files = graft.sources.Warc.writeFiles(
        pages, "url", "warc_date", "payload", col("shard"))
      graft.sources.Warc.readResponses(files, "warc")
        .select(col("url"), col("status"), col("content_type"),
          col("content_length"), md5(col("body")).as("body_md5"))
    }),

    // charset sniff (BOM > meta tag > utf-8 default) + transcode over
    // pages deterministically encoded 4 ways
    "src_charset_decode" -> ((s, dir) => {
      val d = docs(s, dir).where(col("text").isNotNull)
      val v = pmod(col("doc_id"), lit(4))
      val meta = when(v <= 1, lit("<meta charset=\"utf-8\">"))
        .when(v === 2, lit(""))
        .otherwise(lit("<meta charset=\"iso-8859-1\">"))
      val html = concat(lit("<html><head>"), meta, lit("</head><body>"),
        col("text"), lit("</body></html>"))
      val bytes = when(v === 0, encode(html, "UTF-8"))
        .when(v === 1, concat(unhex(lit("EFBBBF")), encode(html, "UTF-8")))
        .when(v === 2, concat(unhex(lit("FFFE")), encode(html, "UTF-16LE")))
        .otherwise(encode(html, "ISO-8859-1"))
      val raw = d.select(col("doc_id"), bytes.as("raw"))
      graft.sources.Charsets.decodePages(raw, "doc_id", "raw")
        .select(col("id").as("doc_id"), col("charset"),
          md5(encode(col("text"), "UTF-8")).as("html_md5"))
    }),

    // robots-exclusion gate: pages against per-host robots.txt covering
    // exact-agent-group precedence, longest-match, allow-wins-ties,
    // $-anchors and * wildcards; expected decisions recomputed per
    // variant by the oracle
    "wt_robots_filter" -> ((s, dir) => {
      val d = docs(s, dir)
      val host = concat(lit("host"), pmod(col("doc_id"), lit(23)), lit(".example.com"))
      val path = when(pmod(col("doc_id"), lit(5)) === 0, "/")
        .when(pmod(col("doc_id"), lit(5)) === 1, "/public/a")
        .when(pmod(col("doc_id"), lit(5)) === 2, "/private/x")
        .when(pmod(col("doc_id"), lit(5)) === 3, "/private/ok")
        .otherwise("/tmp/file.html")
      val pages = d.select(concat(lit("https://"), host, path).as("url"))
      val robots = s.range(0, 23).select(
        concat(lit("host"), col("id"), lit(".example.com")).as("host"),
        when(pmod(col("id"), lit(3)) === 0,
          "User-agent: *\nDisallow: /private\nAllow: /private/ok$")
          .when(pmod(col("id"), lit(3)) === 1,
            "User-agent: *\nDisallow: /tmp/*.html\n\nUser-agent: graftbot\nDisallow:")
          .otherwise("User-agent: *\nDisallow: /").as("robots_txt"))
      graft.ops.Robots.filterAllowed(pages, "url", robots, "host", "robots_txt", "graftbot")
    }),

    // SURT index keys over urls exercising case, www, port, fragment,
    // and param order; the oracle CONSTRUCTS the expected key directly
    "wt_surt_key" -> ((s, dir) => {
      val d = docs(s, dir)
      val url = concat(lit("https://WWW.Host"), pmod(col("doc_id"), lit(23)),
        lit(".Example.com:443/P"), pmod(col("doc_id"), lit(5)),
        lit("?z=9&a="), pmod(col("doc_id"), lit(23)), lit("&m=2#frag"))
      d.select(col("doc_id"), graft.ops.Web.surtKey(url).as("surt"))
    }),

    // RFC 3986 reference resolution across the 8 ref shapes a crawler
    // meets; expected resolutions are literal in the oracle
    "wt_resolve_links" -> ((s, dir) => {
      val d = docs(s, dir)
      val v = pmod(col("doc_id"), lit(8))
      val ref = when(v === 0, "https://other.example.org/abs/page")
        .when(v === 1, "//cdn.example.net/lib/app.js")
        .when(v === 2, "/rooted/img.png")
        .when(v === 3, "rel/sub.html")
        .when(v === 4, "../up.html")
        .when(v === 5, "?only=query")
        .when(v === 6, "#frag")
        .otherwise("./here.css")
      d.select(col("doc_id"), ref.as("ref"),
        graft.ops.Web.resolveRefCol(
          lit("https://www.base.example.com/dir1/dir2/page.html"), ref)
          .as("resolved"))
    }),

    // politeness-bounded fetch rounds over a scored frontier: ≤3 urls
    // per host per round, highest priority first
    "wt_fetch_rounds" -> ((s, dir) => {
      val d = docs(s, dir)
      val frontier = d.select(
        concat(lit("https://host"), pmod(col("doc_id"), lit(23)),
          lit(".example.com/p"), col("doc_id")).as("url"),
        concat(lit("host"), pmod(col("doc_id"), lit(23)),
          lit(".example.com")).as("host"),
        pmod(col("doc_id") * 7, lit(100)).as("priority"))
      graft.ops.Crawl.scheduleRounds(frontier, "url", "host", "priority", 3)
    }),

    // sitemap <url> block extraction: loc mandatory, lastmod/priority
    // optional (null when absent), whitespace inside tags tolerated
    "wt_sitemap_parse" -> ((s, dir) => {
      val d = docs(s, dir)
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        lit("<url><loc> https://s"), col("doc_id"),
        lit(".com/a </loc><lastmod>2024-0"), pmod(col("doc_id"), lit(9)) + 1,
        lit("-01</lastmod><priority>0.8</priority></url>"),
        lit("<url>\n  <loc>https://s"), col("doc_id"), lit(".com/b</loc>\n</url>"),
        lit("</urlset>"))
      graft.ops.Web.sitemapEntries(d.select(xml.as("xml")), col("xml"))
    }),

    // density-based main-content extraction: article text survives, the
    // nav/footer chrome (link-dominated or short blocks) drops. NULL
    // texts are excluded on BOTH sides: the engine propagates NULL
    // through mainContent while the oracle's CASE would fall to '' —
    // the generated tables hold no NULL text today, but the gate must
    // not depend on that
    "wt_main_content" -> ((s, dir) =>
      docs(s, dir).where(col("text").isNotNull).select(col("doc_id"),
        graft.ops.Web.mainContent(navFooterPage(col("text"))).as("main"))),

    // CDX index generation: Spark MEASURES each record's byte span by
    // parsing the segment files; the oracle RECONSTRUCTS the same spans
    // arithmetically from the framing definition — a cross-check of the
    // whole container format
    "src_cdx_index" -> ((s, dir) => {
      val files = graft.sources.Warc.writeFiles(
        warcPages(s, dir), "url", "warc_date", "payload", col("shard"))
      graft.sources.Warc.indexRecords(files, "shard", "warc")
        .select(col("shard"), graft.ops.Web.surtKey(col("url")).as("surt"),
          col("url"), col("warc_date"), col("offset"), col("length"), col("digest"))
    }),

    // the FULL ingest chain composed end to end: response segments →
    // HTTP split → density main-content extract → WET-style conversion
    // records (extracted text re-framed as WARC) → parsed back; the
    // oracle recomputes the expected main text straight off documents
    "src_wet_convert" -> ((s, dir) => {
      val d = docs(s, dir).where(col("text").isNotNull)
      val page = navFooterPage(col("text"))
      val pages = d.select(
        concat(lit("https://crawl.example.org/"), col("source"), lit("/"),
          col("doc_id")).as("url"),
        lit("2024-01-01T00:00:00Z").as("warc_date"),
        encode(concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
          page), "UTF-8").as("payload"),
        pmod(col("doc_id"), lit(32)).as("shard"))
      val responses = graft.sources.Warc.readResponses(
        graft.sources.Warc.writeFiles(pages, "url", "warc_date", "payload",
          col("shard")), "warc")
      val wet = responses.select(col("url"), col("warc_date"),
        encode(graft.ops.Web.mainContent(decode(col("body"), "UTF-8")), "UTF-8")
          .as("payload"),
        pmod(regexp_extract(col("url"), "/([0-9]+)$", 1).cast("long"), lit(32))
          .as("shard"))
      graft.sources.Warc.readPages(
        graft.sources.Warc.writeFiles(wet, "url", "warc_date", "payload",
          col("shard")), "warc")
        .select(col("url"), col("content_length"),
          md5(col("payload")).as("text_md5"))
    }),

    // host-name spam signals over a mixed universe: human-named hosts
    // (hostK) vs DGA-looking md5-derived labels for every 5th doc
    "wt_host_signals" -> ((s, dir) => {
      val d = docs(s, dir)
      val label = when(pmod(col("doc_id"), lit(5)) === 0,
        substring(md5(encode(col("doc_id").cast("string"), "UTF-8")), 1, 16))
        .otherwise(concat(lit("host"), pmod(col("doc_id"), lit(23))))
      val host = concat(label, lit(".example.com"))
      graft.ops.Web.hostNameSignals(d.select(host.as("host")).distinct(), "host")
    }),

    // recrawl-rate estimation over synthesized revisit histories:
    // n = 3..5 visits per url, the first (doc_id % n) of them changed
    "wt_change_rate" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), (pmod(col("doc_id"), lit(3)) + 3).as("n"))
        .withColumn("x", pmod(col("doc_id"), col("n")))
      val hist = base
        .select(concat(lit("https://h/"), col("doc_id")).as("url"),
          explode(sequence(lit(1), col("n"))).as("i"), col("x"))
        .select(col("url"), (col("i") <= col("x")).cast("int").as("changed"))
      graft.ops.Crawl.changeRate(hist, "url", "changed")
    }),

    // mirror-site detection: a planted mirror carries host0's exact
    // path set (containment 1.0); ordinary host pairs share ~55% of the
    // 40 path slots and stay far under the 0.9 bar
    "wt_mirror_hosts" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = d.select(
        concat(lit("host"), pmod(col("doc_id"), lit(23)), lit(".example.com")).as("host"),
        concat(lit("/p"), pmod(col("doc_id"), lit(40))).as("path"))
      val mirror = d.where(pmod(col("doc_id"), lit(23)) === 0).select(
        lit("mirror.example.com").as("host"),
        concat(lit("/p"), pmod(col("doc_id"), lit(40))).as("path"))
      graft.ops.Web.mirrorHosts(base.unionAll(mirror), "host", "path", 0.9)
    }),

    // weekly cohort retention matrix over the event log
    "ev_retention" -> ((s, dir) =>
      graft.ops.Events.retention(
        s.read.parquet(s"$dir/events.parquet"), "user_id", "ts")),

    // Flesch reading-ease curation band over documents
    "ta_readability" -> ((s, dir) =>
      TextAnalysis.readability(docs(s, dir), "doc_id", "text")),

    // rolling z-score spike detection on per-type hourly event counts:
    // integer-exact x > mean + 2σ over the trailing 24 observed buckets
    "ev_rolling_anomaly" -> ((s, dir) =>
      graft.ops.Events.rollingAnomalies(
        s.read.parquet(s"$dir/events.parquet"), "event_type", "ts",
        lookback = 24, zNum = 2L, zDen = 1L, minPrev = 8)),

    // first-order Markov transition matrix over per-user event
    // sequences, conditional probabilities as exact integer ppm
    "ev_transitions" -> ((s, dir) =>
      graft.ops.Events.transitionMatrix(
        s.read.parquet(s"$dir/events.parquet"), "user_id", "ts", "event_type")),

    // ---- text analysis ----
    "ta_langid" -> ((s, dir) =>
      TextAnalysis.langId(docs(s, dir), "doc_id", "text")),
    // multi-script language ID over a synthesized 12-language corpus
    // (doc_id % 12 routes each row to one language's snippet): Latin
    // langs split by function-word argmax, Cyrillic ru/uk by
    // orthography-distinct profile halves, el/ar/ko by script, ja/zh by
    // kana presence, and a no-hit Latin row lands 'und'
    "ta_langid_scripts" -> ((s, dir) => {
      val textCol = LangSnippets.zipWithIndex.tail
        .foldLeft(when(col("doc_id") % 12 === 0, lit(LangSnippets.head._2))) {
          case (acc, ((_, t), i)) => acc.when(col("doc_id") % 12 === i, lit(t))
        }.otherwise(lit(""))
      TextAnalysis.langIdScripts(
        docs(s, dir).select(col("doc_id"), textCol.as("text")), "doc_id", "text")
    }),
    // BPE tokenizer training: 8 merge rounds learned from the corpus's
    // weighted word dictionary; the oracle unrolls the same rounds
    // (pair-count argmax + literal replace) as CTEs
    "ta_bpe_train" -> ((s, dir) =>
      TextAnalysis.bpeTrain(docs(s, dir), "text", 8)),
    // BPE encode: learn the 8 merges, then tokenize the corpus with
    // them (driver-side model fold into a narrow column program)
    "ta_bpe_encode" -> ((s, dir) => {
      val merges = TextAnalysis.bpeTrain(docs(s, dir), "text", 8)
        .orderBy(col("round"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(docs(s, dir), "doc_id", "text", merges)
    }),
    // NFC normalization: even rows get a deterministic "dirty" tail
    // (combining acute/diaeresis to compose, a BEL control to strip, an
    // fi-ligature NFC must NOT fold); odd rows pass through unchanged so
    // the `changed` flag is exercised both ways
    "ta_nfc" -> ((s, dir) =>
      TextAnalysis.nfcNormalize(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(col("text"), lit(" e\u0301cole A\u0308, \uFB01n\u0007al")))
            .otherwise(col("text")).as("text")),
        "doc_id", "text")),
    // Unicode script profile: %4 rows become Cyrillic-only (dominant
    // flips), others get Han+Hangul / Greek+Arabic tails or stay plain
    // Latin; same chr codes on the DuckDB side
    "ta_script" -> ((s, dir) =>
      TextAnalysis.scriptProfile(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            lit("\u041F\u0440\u0438\u0432\u0435\u0442 123"))
            .when(col("doc_id") % 4 === 1,
              concat(col("text"), lit(" \u4E2D\u6587 \uD55C\uAE00")))
            .when(col("doc_id") % 4 === 2,
              concat(col("text"), lit(" \u03B1\u03B2 \u0627\u0644")))
            .otherwise(col("text")).as("text")),
        "doc_id", "text")),
    "ta_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text").drop("toks")),
    "ta_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")),
    "ta_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir), "doc_id", "text")),
    "ta_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(docs(s, dir), "doc_id", "text")),

    // skip-gram PMI co-occurrence pairs (the word2vec/GloVe prep
    // statistic): window-3 unordered pairs, count >= 3, top 100 by PMI
    "ta_pmi_pairs" -> ((s, dir) =>
      TextAnalysis.pmiPairs(docs(s, dir), "doc_id", "text",
        window = 3, minPairCount = 3L, topK = 100)),

    // corpus unigram-LM surprisal (the KenLM-style quality filter):
    // integer-floored per-token surprisal so per-doc sums hash-exact
    "ta_lm_surprisal" -> ((s, dir) =>
      TextAnalysis.lmSurprisal(docs(s, dir), "doc_id", "text")),

    // vocabulary coverage: per-doc OOV occurrence rate against the
    // corpus top-300 (count >= 2) vocab
    "ta_vocab_oov" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.oovRate(d,
        TextAnalysis.buildVocab(d, "doc_id", "text", minCount = 2, maxVocab = 300),
        "doc_id", "text")
    }),

    // ---- web graph ----
    // host-level link graph (the crawl webgraph map step): html is
    // synthesized identically in both engines — 3 absolute anchors per
    // page over a 23-host universe (hot host pairs exercise the map-side
    // combine) plus a relative anchor that must NOT extract
    "wt_host_edges" -> ((s, dir) => {
      val p = hostPages(s, dir)
      graft.ops.Web.hostEdges(p, col("src_host"), col("html"))
    }),

    // host authority: integer PageRank over the synthesized host graph
    // (hostEdges → Graph.pageRank composition — the crawl-prioritization
    // ranking a webgraph exists for), top 15 by (pr desc, host asc)
    "wt_host_rank" -> ((s, dir) => {
      val e = graft.ops.Web.hostEdges(hostPages(s, dir), col("src_host"), col("html"))
      graft.ops.Graph.pageRank(e, "src_host", "dst_host", "n_links", iters = 3)
        .orderBy(col("pr").desc, col("vertex").asc).limit(15)
    }),

    // anchor-text alias table (the crawl's entity-alias source): per
    // anchor text, the host the web most often labels with it — argmax
    // via max(struct), no per-anchor window for a hot anchor to straggle
    "wt_anchor_alias" -> ((s, dir) =>
      graft.ops.Web.anchorAliases(
        graft.ops.Web.anchorPairs(anchorPages(s, dir), col("html")))),

    // HITS hubs/authorities over the host graph (PageRank's directed
    // companion — the max-renormalized integer recurrence), top 15 by
    // (auth desc, host asc)
    "wt_host_hits" -> ((s, dir) => {
      val e = graft.ops.Web.hostEdges(hostPages(s, dir), col("src_host"), col("html"))
      graft.ops.Graph.hits(e, "src_host", "dst_host", "n_links", iters = 3)
        .orderBy(col("auth").desc, col("vertex").asc).limit(15)
    }),

    // weighted SSSP over the directed host graph (Bellman-Ford rounds,
    // cost = link count): every host reachable from host0 within 4 hops
    "wt_host_sssp" -> ((s, dir) => {
      val e = graft.ops.Web.hostEdges(hostPages(s, dir), col("src_host"), col("html"))
      graft.ops.Graph.ssspDistances(
        e, "src_host", "dst_host", "n_links", "host0.example.com", rounds = 4)
    }),

    // deterministic random walks (the node2vec/DeepWalk corpus
    // generator) over the mirrored part↔supplier bipartite graph
    // (suppliers negated so the id spaces can't collide): 2 hash-driven
    // walks of length 4 from each part node < 20
    "gr_random_walks" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val fwd = li.select(col("l_partkey").as("src"), (-col("l_suppkey")).as("dst"))
      val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.Graph.randomWalks(edges, "src", "dst",
        fwd.where(col("src") < 20).select(col("src")), "src",
        walkLength = 4, walksPerNode = 2)
    }),

    // ---- table maintenance ----
    // one-scan column profiler (ingest-gate data-quality summary):
    // counts, nulls, KMV distinct estimate, lexicographic min/max per
    // column — the double column (o_totalprice) deliberately excluded
    // per the documented float-string caveat
    "tb_profile" -> ((s, dir) =>
      graft.ops.Profile.profileColumns(
        s.read.parquet(s"$dir/orders.parquet"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
          "o_orderpriority"))),

    // incremental materialized-view refresh: base summary over 80% of
    // the facts + one delta fold over the other 20% ≡ a full recompute —
    // two measures exercise the null paths (m2 is null on every
    // user_id%5==0 row, so some groups are all-null on one or both sides)
    "tb_mv_refresh" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
          (col("event_id") % 97).as("m1"), expr("nullif(user_id % 5, 0)").as("m2"),
          col("event_id"))
      val keys = Seq("event_type", "hour")
      val ms = Seq("m1", "m2")
      val base = Cdc.aggregateSummary(ev.where(col("event_id") % 10 < 8), keys, ms)
      Cdc.refreshSummary(base, ev.where(col("event_id") % 10 >= 8), keys, ms)
    }),

    // SCD2 time travel: the same 2-epoch history as tb_scd2_merge read
    // AS OF an instant in each epoch — half-open intervals, so the OLD
    // epoch serves ts=-5 and the current epoch serves ts=5
    "tb_time_travel" -> ((s, dir) => {
      val history = scd2History(s.read.parquet(s"$dir/customer.parquet"))
      Cdc.snapshotAsOf(history, "valid_from", "valid_to", -5L)
        .select(lit(-5L).as("asof"), col("k"), col("segment"))
        .unionAll(Cdc.snapshotAsOf(history, "valid_from", "valid_to", 5L)
          .select(lit(5L).as("asof"), col("k"), col("segment")))
    }),

    // SCD2 snapshot fold (the MERGE INTO shape on plain checkpoints):
    // the 2-epoch history folded with the mutated snapshot at ts=100,
    // exercising all four merge arms in one query
    "tb_scd2_merge" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      Cdc.scd2Merge(scd2History(c), mutatedSnapshot(c), "k", Seq("segment"), 100L)
    }),

    // CDC extract between two snapshots: delta-sized (insert/update/
    // delete) rows only — the mutation scheme of tb_scd2_merge reused
    "tb_snapshot_diff" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val older = c.select(col("c_custkey").as("k"), col("c_mktsegment").as("segment"))
      Cdc.snapshotDiff(older, mutatedSnapshot(c), "k", Seq("segment"))
    }),

    // registered-domain extraction (the per-source curation key):
    // subdomains collapse, two-label public suffixes keep three labels,
    // bare hosts and IPv4 literals pass through
    "wt_reg_domain" -> ((s, dir) => {
      val id = col("doc_id")
      val host = when(pmod(id, lit(6)) === 0,
          concat(lit("www.site"), pmod(id, lit(50)), lit(".com")))
        .when(pmod(id, lit(6)) === 1,
          concat(lit("a.b.site"), pmod(id, lit(50)), lit(".co.uk")))
        .when(pmod(id, lit(6)) === 2,
          concat(lit("site"), pmod(id, lit(50)), lit(".com.au")))
        .when(pmod(id, lit(6)) === 3,
          concat(lit("cdn.site"), pmod(id, lit(50)), lit(".io")))
        .when(pmod(id, lit(6)) === 4,
          concat(lit("10.0."), pmod(id, lit(50)), lit(".1")))
        .otherwise(lit("localhost"))
      docs(s, dir).select(col("doc_id"), host.as("host"),
        graft.ops.Web.registeredDomain(host).as("domain"))
    }),

    // url canonicalization (the per-url dedup/join key normalizer):
    // messy urls synthesized identically in both engines — mixed-case
    // scheme/host, default ports, tracking params in every position,
    // empty paths, fragments
    "wt_url_normalize" -> ((s, dir) => {
      val id = col("doc_id")
      val url = concat(
        when(pmod(id, lit(2)) === 0, lit("HTTP")).otherwise(lit("https")),
        lit("://WWW.Example"), pmod(id, lit(5)), lit(".COM"),
        when(pmod(id, lit(3)) === 0,
          when(pmod(id, lit(2)) === 0, lit(":80")).otherwise(lit(":443")))
          .otherwise(lit("")),
        when(pmod(id, lit(7)) === 0, lit(""))
          .otherwise(concat(lit("/Path/"), id)),
        when(pmod(id, lit(4)) === 0, concat(lit("?utm_source=x&id="), id))
          .when(pmod(id, lit(4)) === 1, concat(lit("?id="), id, lit("&utm_campaign=y")))
          .when(pmod(id, lit(4)) === 2, lit("?utm_medium=z"))
          .otherwise(lit("")),
        when(pmod(id, lit(5)) === 0, lit("#frag")).otherwise(lit("")))
      docs(s, dir).select(col("doc_id"), url.as("url"))
        .withColumn("url_norm", graft.ops.Web.normalizeUrl(col("url")))
    }),

    // ---- multimodal plumbing ----
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(docs(s, dir), "doc_id", "text", 5, 100)),
    "mm_decode_stub" -> ((s, dir) => {
      // binary column from text bytes; mapPartitions stub decoder. The
      // embedding is projected as its integer numerators (e*128 — exact:
      // the stub divides a small int by a power of two) so the oracle
      // never compares float formatting.
      val bin = docs(s, dir).select(col("doc_id"), encode(col("text"), "utf-8").as("media"))
      Multimodal.decodeFeatures(s, bin, "doc_id", "media").toDF()
        .select(col("id"), col("n_bytes"), col("format"), col("width"),
          col("height"), col("n_frames"),
          concat_ws(",", transform(col("embedding"), e => (e * 128).cast("int"))).as("emb_q"))
    }),

    // REAL image decode, end to end: encode a deterministic PNG per doc
    // with dimensions derived from doc_id (ImageIO.write), then run the
    // production decodeFeatures path — magic-byte sniff dispatches to the
    // REAL ImageIO decoder, whose pixel dimensions must round-trip to the
    // arithmetic the oracle predicts. A stubbed decoder cannot pass this:
    // the stub's pseudo-dimensions are functions of the PNG byte stream,
    // not of the encoded image.
    // REAL audio metadata, end to end: encode a spec-conformant PCM WAV
    // per doc with parameters derived from doc_id, then run the
    // production header parse — sniff + RIFF chunk walk must round-trip
    // channels/rate/bits/frames to the oracle's arithmetic
    "mm_wav_meta" -> ((s, dir) => {
      import s.implicits._
      val wavs = docIds(s, dir)
        .mapPartitions(_.map { id =>
          val rate = (8000 + (id % 5) * 4000).toInt
          val channels = (1 + id % 2).toInt
          val frames = (1000 + id % 500).toInt
          (id, Multimodal.syntheticWav(rate, channels, frames))
        })
        .toDF("doc_id", "audio")
      Multimodal.wavFeatures(s, wavs, "doc_id", "audio").toDF()
        .withColumnRenamed("id", "doc_id")
    }),

    // REAL container metadata, end to end: a spec-conformant synthetic
    // AVI / lossless WebP / ANIMATED GIF per doc (round-robin on
    // doc_id), parsed back by the production decodeFeatures dispatch —
    // the RIFF chunk walks (nested avih header, VP8L packed dims) and
    // the GIF block walk (frame COUNT across image descriptors) must
    // round-trip the oracle's arithmetic
    "mm_media_meta" -> ((s, dir) => {
      import s.implicits._
      val media = docIds(s, dir)
        .mapPartitions(_.map { id =>
          val w = (16 + id % 16).toInt
          val h = (16 + id % 8).toInt
          val bytes = (id % 3) match {
            case 0 => Multimodal.syntheticAvi(w, h, (10 + id % 90).toInt, 33333)
            case 1 => Multimodal.syntheticWebp(w, h)
            case _ => Multimodal.syntheticGif(w, h, (1 + id % 4).toInt, id)
          }
          (id, bytes)
        }).toDF("doc_id", "media")
      Multimodal.decodeFeatures(s, media, "doc_id", "media").toDF()
        .select(col("id"), col("format"), col("width"), col("height"), col("n_frames"))
    }),

    "mm_decode_real" -> ((s, dir) => {
      import s.implicits._
      val pngs = docIds(s, dir)
        .mapPartitions(_.map { id =>
          val w = (16 + id % 32).toInt
          val h = (16 + (id + 7) % 32).toInt
          (id, Multimodal.syntheticPng(w, h, id))
        })
        .toDF("doc_id", "img")
      Multimodal.decodeFeatures(s, pngs, "doc_id", "img").toDF()
        .select(col("id"), col("format"), col("width"), col("height"), col("n_frames"))
    }),

    // REAL image embedding, end to end: encode a deterministic PNG per
    // doc (dims divisible by 8, derived from doc_id), decode it back
    // with ImageIO and compute the 8×8 block-luminance embedding on the
    // production mapPartitions path. Exploded to (doc_id, cell, lum)
    // integer rows so the oracle reproduces every cell with exact
    // integer arithmetic from the encoder's pixel formula — a stubbed
    // embedding cannot pass: the values are functions of the DECODED
    // pixels, not of the PNG byte stream.
    "mm_embed" -> ((s, dir) => {
      import s.implicits._
      val pngs = docIds(s, dir)
        .mapPartitions(_.map { id =>
          val w = (16 + (id % 4) * 8).toInt
          val h = (8 + (id % 3) * 8).toInt
          (id, Multimodal.syntheticPng(w, h, id))
        }).toDF("doc_id", "img")
      Multimodal.imageEmbedDf(s, pngs, "doc_id", "img")
        .select(col("id").as("doc_id"), posexplode(col("embedding")))
        .select(col("doc_id"), col("pos").as("cell"), col("col").cast("long").as("lum"))
    }),

    // Image near-dup dedup off the REAL embedding: two PNG variants per
    // doc — variant 1 perturbs the seed slightly (id%3==0: +2, a
    // near-duplicate image) or heavily (+77777, a different image) —
    // aHash64 each decoded raster, and measure the Hamming distance
    // between the variants' fingerprints. The oracle recomputes both
    // fingerprints bit-by-bit from the pixel formula and counts
    // disagreeing cells (≡ bit_count(xor), no packed-sign hazard).
    "dd_image_neardups" -> ((s, dir) => {
      import s.implicits._
      val hashed = docIds(s, dir)
        .mapPartitions(_.flatMap { id =>
          val pert = if (id % 3 == 0) 2L else 77777L
          for {
            ha <- Multimodal.aHash64(Multimodal.syntheticPng(32, 16, id))
            hb <- Multimodal.aHash64(Multimodal.syntheticPng(32, 16, id + pert))
          } yield (id, ha, hb)
        }).toDF("doc_id", "ha", "hb")
      hashed.select(col("doc_id"),
          expr("bit_count(ha ^ hb)").cast("int").as("hamming"))
        .withColumn("near_dup", col("hamming") <= 6)
    }))

  /** IVF oracle generator — mirrors `Similarity.ivfTopK` step for step:
    * ×1000 integer quantization, farthest-point seeding over the
    * deterministic md5-bucket sample (one argmin CTE pair per seed),
    * `lloydSteps` unrolled Lloyd refinements (integer centroid sums),
    * probe lists from the final assignment ranking, exact float
    * re-rank. All dots are BIGINT sums (< 2^53) and every double is
    * derived from them by the same IEEE ops in the same order as the
    * Spark side, so seeds and assignments are bit-identical. Probes are
    * `vec_id < 10` (the driver query's probe set). */
  /** The IVF model re-derivation (quantize → sample → farthest-point
    * seeds → `lloydSteps` Lloyd refinements) as a CTE chain ending in
    * the final assignment table `a<lloydSteps>` (vec_id, cid) — shared
    * verbatim by the ivfTopK and semanticNearDups oracles, which differ
    * only in what they do WITH the assignments. */
  private def ivfAssignCtes(nClusters: Int, lloydSteps: Int,
      sampleBp: Int): String = {
    // Every CTE here is MATERIALIZED: the farthest-point chain makes
    // t_j reference ALL of s_1..s_{j-1}, and each Lloyd step reads the
    // previous assignment — DuckDB inlines plain CTEs per reference, so
    // the un-annotated chain re-evaluated the seeding tree once per
    // reference (sim_ivf_topk was 57 s at sf0.01; materialized it is
    // sub-second with identical rows).
    val sb = new StringBuilder
    sb.append(
      s"""WITH qd AS MATERIALIZED (
         |  SELECT vec_id, i, round(x * 1000)::BIGINT AS q FROM (
         |    SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
         |           generate_subscripts(embedding, 1) - 1 AS i
         |    FROM embeddings)),
         |vnorm AS MATERIALIZED (SELECT vec_id, sqrt((sum(q*q))::DOUBLE) AS nrm FROM qd GROUP BY 1),
         |samp AS MATERIALIZED (
         |  SELECT vec_id FROM vnorm
         |  WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT % 10000 < $sampleBp),
         |alld AS MATERIALIZED (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2, (sum(a.q * b.q))::BIGINT AS dot
         |  FROM qd a JOIN qd b USING (i)
         |  WHERE b.vec_id IN (SELECT vec_id FROM samp) GROUP BY 1, 2),
         |allc AS MATERIALIZED (
         |  SELECT d.v1, d.v2, d.dot::DOUBLE / (n1.nrm * n2.nrm) AS c
         |  FROM alld d JOIN vnorm n1 ON n1.vec_id = d.v1 JOIN vnorm n2 ON n2.vec_id = d.v2),
         |s1 AS MATERIALIZED (SELECT vec_id AS cid FROM samp ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 1),
         |""".stripMargin)
    for (j <- 2 to nClusters) {
      val prev = (1 until j).map(x => s"SELECT cid FROM s$x").mkString(" UNION ALL ")
      sb.append(s"t$j AS MATERIALIZED (SELECT v1 AS vec_id, max(c) AS maxc FROM allc " +
        s"WHERE v1 IN (SELECT vec_id FROM samp) AND v2 IN ($prev) GROUP BY 1),\n")
      sb.append(s"s$j AS MATERIALIZED (SELECT vec_id AS cid FROM t$j " +
        s"ORDER BY maxc ASC, md5(vec_id::VARCHAR), vec_id LIMIT 1),\n")
    }
    val allSeeds = (1 to nClusters).map(x => s"SELECT cid FROM s$x").mkString(" UNION ALL ")
    sb.append(s"seeds AS MATERIALIZED ($allSeeds),\n")
    // seed assignment: a seed's centroid vector IS its own quantized
    // vector, so the pairwise table already holds every needed cosine
    sb.append(
      """a0 AS MATERIALIZED (SELECT v1 AS vec_id, v2 AS cid FROM (
        |  SELECT c.v1, c.v2, row_number() OVER (PARTITION BY c.v1 ORDER BY c.c DESC, c.v2 ASC) AS rn
        |  FROM allc c JOIN seeds s ON s.cid = c.v2) WHERE rn = 1),
        |""".stripMargin)
    for (step <- 1 to lloydSteps) {
      val prevA = s"a${step - 1}"
      sb.append(s"cs$step AS MATERIALIZED (SELECT $prevA.cid, qd.i, (sum(qd.q))::BIGINT AS cq\n")
      sb.append(s"       FROM qd JOIN $prevA ON $prevA.vec_id = qd.vec_id GROUP BY 1, 2),\n")
      sb.append(s"cn$step AS MATERIALIZED (SELECT cid, sqrt((sum(cq*cq))::DOUBLE) AS cnrm FROM cs$step GROUP BY 1),\n")
      sb.append(s"d$step AS MATERIALIZED (SELECT qd.vec_id, cs$step.cid, (sum(qd.q * cs$step.cq))::BIGINT AS dot\n")
      sb.append(s"       FROM qd JOIN cs$step USING (i) GROUP BY 1, 2),\n")
      sb.append(s"r$step AS MATERIALIZED (SELECT d$step.vec_id, d$step.cid,\n")
      sb.append(s"              row_number() OVER (PARTITION BY d$step.vec_id\n")
      sb.append(s"                ORDER BY d$step.dot::DOUBLE / (v.nrm * c.cnrm) DESC, d$step.cid ASC) AS rn\n")
      sb.append(s"       FROM d$step JOIN vnorm v ON v.vec_id = d$step.vec_id " +
        s"JOIN cn$step c ON c.cid = d$step.cid),\n")
      sb.append(s"a$step AS MATERIALIZED (SELECT vec_id, cid FROM r$step WHERE rn = 1),\n")
    }
    sb.toString
  }

  /** DuckDB form of Graph.randomWalks over the mirrored part↔supplier
    * graph (the gr_random_walks driver query): `steps` hash-argmin walk
    * steps unrolled as CTE pairs (candidates cN → chosen sN), the same
    * md5(start:wid:step:neighbor) hash and (h, neighbor) tie order as
    * the Scala program. */
  private def randomWalksSql(steps: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH edges AS (
        |  SELECT l_partkey AS src, -l_suppkey AS dst FROM lineitem
        |  UNION ALL SELECT -l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |s0 AS (
        |  SELECT start, wid, 0 AS step, start AS node
        |  FROM (SELECT DISTINCT l_partkey AS start FROM lineitem WHERE l_partkey < 20),
        |       (SELECT unnest([0, 1]) AS wid)),
        |""".stripMargin)
    for (s <- 1 to steps) {
      sb.append(
        s"""c$s AS (
           |  SELECT p.start, p.wid, e.dst AS nxt,
           |         ('0x' || substr(md5(concat_ws(':', p.start, p.wid, $s, e.dst)), 1, 8))::BIGINT AS h
           |  FROM s${s - 1} p JOIN edges e ON e.src = p.node),
           |s$s AS MATERIALIZED (
           |  SELECT start, wid, $s AS step, nxt AS node FROM (
           |    SELECT start, wid, nxt,
           |           row_number() OVER (PARTITION BY start, wid ORDER BY h, nxt) AS rn
           |    FROM c$s) WHERE rn = 1),
           |""".stripMargin)
    }
    sb.append((0 to steps).map(s => s"SELECT start, wid, step, node FROM s$s")
      .mkString("u AS (", " UNION ALL ", ")\nSELECT start, wid, step, node FROM u"))
    sb.toString
  }

  private def ivfSql(nClusters: Int, nProbe: Int, lloydSteps: Int, k: Int,
      sampleBp: Int = 2000): String = {
    val sb = new StringBuilder
    sb.append(ivfAssignCtes(nClusters, lloydSteps, sampleBp))
    sb.append(
      s"""pl AS (SELECT vec_id AS probe_id, cid FROM r$lloydSteps WHERE vec_id < 10 AND rn <= $nProbe),
         |cand AS (SELECT pl.probe_id, a$lloydSteps.vec_id AS neighbor_id
         |         FROM pl JOIN a$lloydSteps USING (cid) WHERE a$lloydSteps.vec_id <> pl.probe_id),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |scored AS (
         |  SELECT c.probe_id, c.neighbor_id,
         |         round(list_dot_product(p.e, n.e) /
         |               (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(n.e, n.e))), 4) + 0 AS cos_sim
         |  FROM cand c JOIN v p ON p.vec_id = c.probe_id JOIN v n ON n.vec_id = c.neighbor_id)
         |SELECT probe_id, neighbor_id, cos_sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
         |  FROM scored) WHERE rank <= $k""".stripMargin)
    sb.toString
  }

  /** DuckDB form of Similarity.semanticNearDups: THE SAME assignment
    * CTE chain as the ivfTopK oracle, then within-cluster pairs with
    * exact rounded cosine ≥ threshold. */
  private def semanticNearDupsSql(nClusters: Int, lloydSteps: Int,
      threshold: Double, sampleBp: Int = 2000): String =
    ivfAssignCtes(nClusters, lloydSteps, sampleBp) +
      s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.cid
         |         FROM a$lloydSteps a JOIN a$lloydSteps b USING (cid)
         |         WHERE a.vec_id < b.vec_id)
         |SELECT id1, id2, cos_sim, cid FROM (
         |  SELECT id1, id2,
         |         round(list_dot_product(x.e, y.e) /
         |               (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 4) + 0 AS cos_sim,
         |         cid
         |  FROM cand JOIN v x ON x.vec_id = id1 JOIN v y ON y.vec_id = id2)
         |WHERE cos_sim >= $threshold""".stripMargin

  val oracles: Map[String, String] = Map(
    "dd_exact" ->
      s"""WITH $ddInputSql
         |SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS min_id
         |FROM dd_input GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    "dd_minhash_sig" ->
      s"""WITH $ddInputSql, $shinglesSql
         |SELECT doc_id, seed, min(${minhashHashSql("shingle")}) AS minhash
         |FROM shingles, generate_series(0, 7) AS t(seed)
         |GROUP BY 1, 2""".stripMargin,

    "dd_minhash_pairs" ->
      s"""WITH $ddInputSql, $shinglesSql, $minhashPairCtes
         |SELECT id1, id2, round(i * 1.0 / (z1.sz + z2.sz - i), 4) AS jaccard
         |FROM inter JOIN sizes z1 ON z1.doc_id = id1 JOIN sizes z2 ON z2.doc_id = id2
         |WHERE round(i * 1.0 / (z1.sz + z2.sz - i), 4) >= 0.5""".stripMargin,

    // meta-blocking: pair weight = shared (band, bucket) count; WNP keep
    // test in exact integers (w·deg >= Σw for either endpoint)
    "dd_meta_blocking" ->
      s"""WITH $ddInputSql,
         |dd_half AS (SELECT * FROM dd_input WHERE doc_id % 2 = 0),
         |shingles AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(generate_series(1, greatest(1, strlen(text) - 7)),
         |                               i -> substr(text, i::int, 8))) AS shingle
         |  FROM dd_half),
         |${sigBandCtes(1)},
         |pr AS MATERIALIZED (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*)::BIGINT AS w
         |  FROM bands a JOIN bands b USING (band, bucket)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |nodes AS MATERIALIZED (
         |  SELECT node, sum(w)::BIGINT AS sw, count(*)::BIGINT AS dg
         |  FROM (SELECT id1 AS node, w FROM pr UNION ALL SELECT id2 AS node, w FROM pr)
         |  GROUP BY 1)
         |SELECT id1, id2, w,
         |       (w * n1.dg >= n1.sw OR w * n2.dg >= n2.sw) AS kept
         |FROM pr JOIN nodes n1 ON n1.node = pr.id1 JOIN nodes n2 ON n2.node = pr.id2""".stripMargin,

    // delta-vs-index pairs: same scheme, candidates restricted to pairs
    // touching the incoming shard (a-side new) — verified the same way
    "dd_delta_pairs" ->
      s"""WITH $ddInputSql, $shinglesSql, $minhashDeltaPairCtes
         |SELECT id1, id2, round(i * 1.0 / (z1.sz + z2.sz - i), 4) AS jaccard
         |FROM inter JOIN sizes z1 ON z1.doc_id = id1 JOIN sizes z2 ON z2.doc_id = id2
         |WHERE round(i * 1.0 / (z1.sz + z2.sz - i), 4) >= 0.5""".stripMargin,

    // near-dup clusters: verified pairs → transitive closure (recursive
    // CTE) → min-id cluster labels; every input doc appears, canonical
    // iff its id IS the cluster label
    "dd_dedup_clusters" ->
      s"""WITH RECURSIVE $ddInputSql, $shinglesSql, $minhashPairCtes,
         |vpairs AS (
         |  SELECT id1, id2
         |  FROM inter JOIN sizes z1 ON z1.doc_id = id1 JOIN sizes z2 ON z2.doc_id = id2
         |  WHERE round(i * 1.0 / (z1.sz + z2.sz - i), 4) >= 0.5),
         |esym AS (SELECT id1 AS a, id2 AS b FROM vpairs
         |         UNION SELECT id2, id1 FROM vpairs),
         |walk(a, b) AS (
         |  SELECT a, b FROM esym
         |  UNION
         |  SELECT w.a, e.b FROM walk w JOIN esym e ON w.b = e.a),
         |cc AS (SELECT a AS doc_id, least(a, min(b)) AS comp FROM walk GROUP BY 1)
         |SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS cluster,
         |       (d.doc_id = coalesce(cc.comp, d.doc_id)) AS is_canonical
         |FROM dd_input d LEFT JOIN cc USING (doc_id)""".stripMargin,

    "dd_simhash" ->
      s"""WITH $ddInputSql,
         |tok AS (
         |  SELECT doc_id, tok, count(*) AS cnt, md5(tok) AS h FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM dd_input)
         |  WHERE tok <> '' GROUP BY 1, 2),
         |bits AS (
         |  SELECT doc_id, k,
         |         CASE WHEN sum(cnt * (((strpos('0123456789abcdef', substr(h, (k // 4)::INT + 1, 1)) - 1)
         |                               >> (3 - k % 4) & 1) * 2 - 1)) > 0
         |              THEN '1' ELSE '0' END AS b
         |  FROM tok, generate_series(0, 63) AS t(k) GROUP BY 1, 2)
         |SELECT doc_id, string_agg(b, '' ORDER BY k) AS simhash FROM bits GROUP BY 1""".stripMargin,

    // containment: same subset + shingle CTEs, asymmetric ratios
    "dd_containment" ->
      s"""WITH dd_input0 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, text || '$nearDupTail' AS text
         |  FROM documents WHERE doc_id % 20 = 0),
         |dd_input AS (SELECT * FROM dd_input0 WHERE doc_id % 4 = 0),
         |$shinglesSql,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
         |  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id1, id2, round(i * 1.0 / z1.sz, 4) AS c_1_in_2,
         |       round(i * 1.0 / z2.sz, 4) AS c_2_in_1
         |FROM inter JOIN sizes z1 ON z1.doc_id = id1 JOIN sizes z2 ON z2.doc_id = id2
         |WHERE round(i * 1.0 / z1.sz, 4) >= 0.9 OR round(i * 1.0 / z2.sz, 4) >= 0.9""".stripMargin,

    "dd_ngram_jaccard" ->
      s"""WITH dd_input0 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, text || '$nearDupTail' AS text
         |  FROM documents WHERE doc_id % 20 = 0),
         |dd_input AS (SELECT * FROM dd_input0 WHERE doc_id % 4 = 0),
         |$shinglesSql,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
         |  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id1, id2, round(i * 1.0 / (z1.sz + z2.sz - i), 4) AS jaccard
         |FROM inter JOIN sizes z1 ON z1.doc_id = id1 JOIN sizes z2 ON z2.doc_id = id2
         |WHERE round(i * 1.0 / (z1.sz + z2.sz - i), 4) >= 0.5""".stripMargin,

    "sim_cosine_topk" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |         round(list_dot_product(p.e, c.e) /
        |               (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))), 4) + 0 AS cos_sim
        |  FROM v p, v c WHERE p.vec_id < 10 AND p.vec_id <> c.vec_id)
        |SELECT probe_id, neighbor_id, cos_sim, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        |  FROM scored) WHERE rank <= 10""".stripMargin,

    "sim_lsh_buckets" ->
      """WITH dims AS (
        |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
        |         generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings),
        |dots AS (
        |  SELECT vec_id, p,
        |         sum(x * (strpos('0123456789abcdef',
        |                         substr(md5(p::VARCHAR || ':' || i::VARCHAR), (i % 32)::INT + 1, 1)) - 1 - 7.5)) AS dot
        |  FROM dims, generate_series(0, 7) AS t(p) GROUP BY 1, 2)
        |SELECT vec_id, string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
        |FROM dots GROUP BY 1""".stripMargin,

    "ta_langid" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         |         len(list_filter(string_split(text, ' '),
         |             x -> x IN (${TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(",")}))) AS en_hits
         |  FROM documents)
         |SELECT doc_id, n_tokens, en_hits,
         |       round(CASE WHEN n_tokens > 0 THEN en_hits * 1.0 / n_tokens ELSE 0 END, 4) AS en_ratio,
         |       CASE WHEN round(CASE WHEN n_tokens > 0 THEN en_hits * 1.0 / n_tokens ELSE 0 END, 4) >= 0.05
         |            THEN 'en' ELSE 'und' END AS lang_pred
         |FROM t""".stripMargin,

    // BPE training unrolled: per round, pair counts from the
    // double-space symbol encoding → (count DESC, p1, p2) argmax →
    // literal replace applying the merge — identical literal-replace
    // semantics in both engines (each 2-space boundary donates one
    // space to each neighboring match, so leftmost non-overlapping
    // merging matches BPE exactly); every CTE MATERIALIZED (each w_r
    // is read by both p_{r+1} and w_{r+1})
    "ta_bpe_train" ->
      (bpeCtes(8) + "\n" + (1 to 8).map(r => s"SELECT round, p1, p2, cnt FROM b$r")
        .mkString("\nUNION ALL ")),

    // BPE encode: re-derive the same merge chain, then apply it to every
    // corpus word as the identical nested literal-replace fold (b1..b8
    // cross-joined in — one row each) and count symbols per doc
    "ta_bpe_encode" -> {
      val spaced = "' ' || trim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' '"
      // each step null-safe and each model row LEFT-joined: a round that
      // learned no merge (b_r empty — degenerate corpus) is a no-op on
      // both engines instead of emptying the oracle's row set
      val encoded = (1 to 8).foldLeft(spaced) { (c, r) =>
        s"CASE WHEN b$r.p1 IS NULL THEN $c ELSE " +
          s"replace($c, ' ' || b$r.p1 || '  ' || b$r.p2 || ' ', ' ' || b$r.p1 || b$r.p2 || ' ') END"
      }
      s"""${bpeCtes(8)},
         |docw AS MATERIALIZED (
         |  SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |  WHERE regexp_matches(word, '^[a-z]+$$')),
         |enc AS (
         |  SELECT doc_id, len(string_split(trim($encoded), '  ')) AS n_sym
         |  FROM docw ${(1 to 8).map(r => s"LEFT JOIN b$r ON TRUE").mkString(" ")})
         |SELECT doc_id, count(*) AS n_words, sum(n_sym)::BIGINT AS n_tokens
         |FROM enc GROUP BY 1""".stripMargin
    },

    // multi-script language ID: same snippet construction (chr() codes =
    // the Scala \u escapes via sqlText), same script-count spellings as
    // ta_script plus a kana class, hit counts against the shared
    // LangProfiles word lists, and the same routing/argmax ladders —
    // everything generated from the one Scala source of truth
    "ta_langid_scripts" -> {
      val inputCase = LangSnippets.zipWithIndex.map { case ((_, t), i) =>
        s"WHEN doc_id % 12 = $i THEN ${sqlText(t)}"
      }.mkString("\n         |              ")
      val hitExprs = TextAnalysis.LangProfiles.map { case (lang, words) =>
        s"len(list_filter(string_split(text, ' '), x -> x IN (${words.map(sqlText).mkString(", ")}))) AS ${lang}_hits"
      }.mkString(",\n         |    ")
      val g = "greatest(latin, cyrillic, greek, arabic, han, hangul)"
      val domLadder = TextAnalysis.ScriptClasses.map { case (n, _) =>
        s"WHEN $n > 0 AND $n = $g THEN '$n'"
      }.mkString(" ")
      def argmax(langs: Seq[String]): String = {
        val m = s"greatest(${langs.map(l => s"${l}_hits").mkString(", ")})"
        "CASE " + langs.map(l => s"WHEN ${l}_hits > 0 AND ${l}_hits = $m THEN '$l'")
          .mkString(" ") + " ELSE 'und' END"
      }
      s"""WITH input AS (
         |  SELECT doc_id,
         |         CASE $inputCase
         |              ELSE '' END AS text
         |  FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    length(text) - length(regexp_replace(text, '\\p{Latin}', '', 'g')) AS latin,
         |    length(text) - length(regexp_replace(text, '\\p{Cyrillic}', '', 'g')) AS cyrillic,
         |    length(text) - length(regexp_replace(text, '\\p{Greek}', '', 'g')) AS greek,
         |    length(text) - length(regexp_replace(text, '\\p{Arabic}', '', 'g')) AS arabic,
         |    length(text) - length(regexp_replace(text, '\\p{Han}', '', 'g')) AS han,
         |    length(text) - length(regexp_replace(text, '\\p{Hangul}', '', 'g')) AS hangul,
         |    length(text) - length(regexp_replace(text, '[\\p{Hiragana}\\p{Katakana}]', '', 'g')) AS kana,
         |    $hitExprs
         |  FROM input),
         |d AS (SELECT *, CASE $domLadder ELSE 'none' END AS dominant FROM c)
         |SELECT doc_id, latin, cyrillic, greek, arabic, han, hangul, kana,
         |       en_hits, de_hits, fr_hits, es_hits, ru_hits, uk_hits, dominant,
         |       CASE WHEN dominant = 'latin' THEN ${argmax(TextAnalysis.LatinLangs)}
         |            WHEN dominant = 'cyrillic' THEN ${argmax(TextAnalysis.CyrillicLangs)}
         |            WHEN dominant = 'greek' THEN 'el'
         |            WHEN dominant = 'arabic' THEN 'ar'
         |            WHEN dominant = 'hangul' THEN 'ko'
         |            WHEN dominant = 'han' THEN CASE WHEN kana > 0 THEN 'ja' ELSE 'zh' END
         |            ELSE CASE WHEN kana > 0 THEN 'ja' ELSE 'und' END END AS lang_pred
         |FROM d""".stripMargin
    },

    // NFC via utf8proc — an independent implementation of the Unicode
    // composition the Spark side computes with the JVM's Normalizer, so
    // a hash match pins cross-library agreement; same dirty-tail
    // construction (chr codes = the Scala \u escapes)
    "ta_nfc" ->
      """WITH input AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0
        |              THEN text || ' e' || chr(769) || 'cole A' || chr(776) ||
        |                   ', ' || chr(64257) || 'n' || chr(7) || 'al'
        |              ELSE text END AS text
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, text,
        |         nfc_normalize(regexp_replace(text,
        |           '[\x00-\x08\x0B-\x1F\x7F-\x9F]', '', 'g')) AS nfc_text
        |  FROM input)
        |SELECT doc_id, nfc_text,
        |       nfc_text IS DISTINCT FROM text AS changed
        |FROM n""".stripMargin,

    // RE2's \p{Script} spelling of the same Unicode script property the
    // Spark side counts with Java's \p{IsScript}; dominance CASE ladder
    // mirrors ScriptClasses order (first max wins)
    "ta_script" -> {
      val g = "greatest(latin, cyrillic, greek, arabic, han, hangul)"
      val ladder = graft.ops.TextAnalysis.ScriptClasses.map { case (n, _) =>
        s"WHEN $n > 0 AND $n = $g THEN '$n'"
      }.mkString(" ")
      s"""WITH input AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 0
         |           THEN chr(1055)||chr(1088)||chr(1080)||chr(1074)||chr(1077)||chr(1090)||' 123'
         |         WHEN doc_id % 4 = 1
         |           THEN text || ' ' || chr(20013)||chr(25991)||' '||chr(54620)||chr(44544)
         |         WHEN doc_id % 4 = 2
         |           THEN text || ' ' || chr(945)||chr(946)||' '||chr(1575)||chr(1604)
         |         ELSE text END AS text
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |    length(text) - length(regexp_replace(text, '\\p{Latin}', '', 'g')) AS latin,
         |    length(text) - length(regexp_replace(text, '\\p{Cyrillic}', '', 'g')) AS cyrillic,
         |    length(text) - length(regexp_replace(text, '\\p{Greek}', '', 'g')) AS greek,
         |    length(text) - length(regexp_replace(text, '\\p{Arabic}', '', 'g')) AS arabic,
         |    length(text) - length(regexp_replace(text, '\\p{Han}', '', 'g')) AS han,
         |    length(text) - length(regexp_replace(text, '\\p{Hangul}', '', 'g')) AS hangul
         |  FROM input)
         |SELECT doc_id, n_chars, latin, cyrillic, greek, arabic, han, hangul,
         |       CASE $ladder ELSE 'none' END AS dominant
         |FROM c""".stripMargin
    },
    // WARC round-trip: what comes out of the parser must be exactly the
    // header fields and payload that went in, so the oracle recomputes
    // the expected rows directly from documents (md5 hashes the string's
    // UTF-8 bytes in both engines; strlen is DuckDB's byte length)
    "src_warc_roundtrip" ->
      """SELECT 'https://crawl.example.org/' || source || '/' || doc_id AS url,
        |       '2024-01-0' || ((doc_id % 9) + 1) || 'T00:00:00Z' AS warc_date,
        |       strlen(text) AS content_length,
        |       md5(text) AS payload_md5
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // HTTP split round-trip: status/content-type/body recomputed off
    // documents with the same doc_id-derived variation
    "src_warc_http" ->
      """SELECT 'https://crawl.example.org/' || source || '/' || doc_id AS url,
        |       CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS status,
        |       CASE WHEN doc_id % 3 = 0 THEN 'text/plain; charset=utf-8'
        |            ELSE 'text/html; charset=utf-8' END AS content_type,
        |       strlen(text) AS content_length,
        |       md5(text) AS body_md5
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // charset round-trip: variant → expected detected charset; decoded
    // html is charset-independent (test corpus is ASCII), so its md5 is
    // recomputable from the same string construction
    "src_charset_decode" ->
      """SELECT doc_id,
        |       CASE doc_id % 4 WHEN 2 THEN 'utf-16le' WHEN 3 THEN 'iso-8859-1'
        |            ELSE 'utf-8' END AS charset,
        |       md5('<html><head>'
        |           || CASE WHEN doc_id % 4 <= 1 THEN '<meta charset="utf-8">'
        |                   WHEN doc_id % 4 = 2 THEN ''
        |                   ELSE '<meta charset="iso-8859-1">' END
        |           || '</head><body>' || text || '</body></html>') AS html_md5
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // robots gate: h%3=1 hosts have an exact graftbot group with an
    // empty Disallow (all allowed — exact beats *), h%3=2 disallow
    // everything, h%3=0 disallow /private except the $-anchored allow
    "wt_robots_filter" ->
      """WITH p AS (
        |  SELECT 'host' || (doc_id % 23) || '.example.com' AS host,
        |         CASE doc_id % 5 WHEN 0 THEN '/' WHEN 1 THEN '/public/a'
        |              WHEN 2 THEN '/private/x' WHEN 3 THEN '/private/ok'
        |              ELSE '/tmp/file.html' END AS path,
        |         (doc_id % 23) % 3 AS h
        |  FROM documents)
        |SELECT 'https://' || host || path AS url, host, path,
        |       CASE h WHEN 1 THEN true WHEN 2 THEN false
        |            ELSE NOT (path LIKE '/private%' AND path <> '/private/ok') END AS allowed
        |FROM p""".stripMargin,

    // SURT: expected key constructed outright — reversed host labels,
    // www/port/fragment dropped, lowercased, query params sorted
    "wt_surt_key" ->
      """SELECT doc_id,
        |       'com,example,host' || (doc_id % 23) || ')/p' || (doc_id % 5)
        |       || '?a=' || (doc_id % 23) || '&m=2&z=9' AS surt
        |FROM documents""".stripMargin,

    // reference resolution: expected urls literal per variant
    "wt_resolve_links" ->
      """SELECT doc_id,
        |       CASE doc_id % 8
        |         WHEN 0 THEN 'https://other.example.org/abs/page'
        |         WHEN 1 THEN '//cdn.example.net/lib/app.js'
        |         WHEN 2 THEN '/rooted/img.png'
        |         WHEN 3 THEN 'rel/sub.html'
        |         WHEN 4 THEN '../up.html'
        |         WHEN 5 THEN '?only=query'
        |         WHEN 6 THEN '#frag'
        |         ELSE './here.css' END AS ref,
        |       CASE doc_id % 8
        |         WHEN 0 THEN 'https://other.example.org/abs/page'
        |         WHEN 1 THEN 'https://cdn.example.net/lib/app.js'
        |         WHEN 2 THEN 'https://www.base.example.com/rooted/img.png'
        |         WHEN 3 THEN 'https://www.base.example.com/dir1/dir2/rel/sub.html'
        |         WHEN 4 THEN 'https://www.base.example.com/dir1/up.html'
        |         WHEN 5 THEN 'https://www.base.example.com/dir1/dir2/page.html?only=query'
        |         WHEN 6 THEN 'https://www.base.example.com/dir1/dir2/page.html'
        |         ELSE 'https://www.base.example.com/dir1/dir2/here.css' END AS resolved
        |FROM documents""".stripMargin,

    // fetch rounds: DuckDB's native window formulation
    "wt_fetch_rounds" ->
      """WITH f AS (
        |  SELECT 'https://host' || (doc_id % 23) || '.example.com/p' || doc_id AS url,
        |         'host' || (doc_id % 23) || '.example.com' AS host,
        |         (doc_id * 7) % 100 AS priority
        |  FROM documents)
        |SELECT url, host, priority,
        |       (row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) - 1) // 3 AS round
        |FROM f""".stripMargin,

    // sitemap: expected entries constructed outright, two per document
    "wt_sitemap_parse" ->
      """SELECT 'https://s' || doc_id || '.com/a' AS loc,
        |       '2024-0' || (doc_id % 9 + 1) || '-01' AS lastmod,
        |       CAST(0.8 AS DOUBLE) AS priority
        |FROM documents
        |UNION ALL
        |SELECT 'https://s' || doc_id || '.com/b',
        |       CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
        |FROM documents""".stripMargin,

    // main content: the article paragraph survives iff it clears the
    // 10-word floor (nav is all-link, footer is short — both drop), so
    // the expected output is the whitespace-normalized text itself
    "wt_main_content" ->
      """SELECT doc_id,
        |       CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'),
        |                                 x -> x <> '')) >= 10
        |            THEN trim(regexp_replace(text, '\s+', ' ', 'g'))
        |            ELSE '' END AS main
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    // CDX spans rebuilt arithmetically: record bytes = 87 fixed framing
    // chars + 20-char date + url + Content-Length digits + payload, and
    // a record's offset is the running sum of its shard-file
    // predecessors in the writer's (url, date) sort order
    "src_cdx_index" ->
      """WITH p AS (
        |  SELECT 'https://crawl.example.org/' || source || '/' || doc_id AS url,
        |         '2024-01-0' || (doc_id % 9 + 1) || 'T00:00:00Z' AS warc_date,
        |         strlen(text) AS plen, md5(text) AS digest,
        |         doc_id % 32 AS shard, source, doc_id
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT *, 107 + strlen(url) + strlen(plen::VARCHAR) + plen AS reclen
        |      FROM p)
        |SELECT shard,
        |       'org,example,crawl)/' || source || '/' || doc_id AS surt,
        |       url, warc_date,
        |       coalesce(sum(reclen) OVER (PARTITION BY shard ORDER BY url, warc_date
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS offset,
        |       reclen AS length, digest
        |FROM r""".stripMargin,

    // WET conversion: the chain's output is exactly the main-content
    // rule applied to the synthesized page, recomputed off documents
    "src_wet_convert" ->
      """WITH m AS (
        |  SELECT 'https://crawl.example.org/' || source || '/' || doc_id AS url,
        |         CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'),
        |                                   x -> x <> '')) >= 10
        |              THEN trim(regexp_replace(text, '\s+', ' ', 'g'))
        |              ELSE '' END AS main
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT url, strlen(main) AS content_length, md5(main) AS text_md5
        |FROM m""".stripMargin,

    // host signals: same integer micro-nat entropy recurrence as the
    // ta_lm_surprisal oracle (floor of a double ln, then integer sums)
    "wt_host_signals" ->
      """WITH hosts AS (
        |  SELECT DISTINCT (CASE WHEN doc_id % 5 = 0
        |                        THEN substr(md5(doc_id::VARCHAR), 1, 16)
        |                        ELSE 'host' || (doc_id % 23) END)
        |                  || '.example.com' AS host
        |  FROM documents),
        |lab AS (SELECT host, regexp_extract(host, '^([^.]+)', 1) AS label FROM hosts),
        |cc AS (
        |  SELECT host, label, c, count(*) AS cnt FROM (
        |    SELECT host, label, unnest(regexp_extract_all(label, '.')) AS c FROM lab)
        |  GROUP BY 1, 2, 3),
        |agg AS (SELECT host, sum(cnt)::BIGINT AS n FROM cc GROUP BY 1),
        |ent AS (
        |  SELECT cc.host,
        |         sum(CAST(floor(1000000.0 * cnt * ln(agg.n::DOUBLE / cnt)) AS BIGINT))::BIGINT AS esum
        |  FROM cc JOIN agg USING (host) GROUP BY 1)
        |SELECT lab.host, lab.label, strlen(label) AS label_len,
        |       round(len(regexp_extract_all(label, '[0-9]')) * 1.0 / strlen(label), 4) AS digit_ratio,
        |       (esum // n)::BIGINT AS entropy_micronats
        |FROM lab JOIN agg USING (host) JOIN ent USING (host)""".stripMargin,

    // change rate: the estimator recomputed in closed form per url
    "wt_change_rate" ->
      """WITH p AS (SELECT doc_id, (doc_id % 3 + 3) AS n FROM documents),
        |q AS (SELECT doc_id, n, doc_id % n AS x FROM p)
        |SELECT 'https://h/' || doc_id AS url, n AS n_visits, x AS n_changed,
        |       CAST(floor(1000000.0 * ln(n::DOUBLE / (n - LEAST(x, n - 1)))) AS BIGINT)
        |         AS rate_micronats
        |FROM q""".stripMargin,

    // mirror hosts: uncapped path-set containment recomputed directly
    "wt_mirror_hosts" ->
      """WITH up AS (
        |  SELECT DISTINCT 'host' || (doc_id % 23) || '.example.com' AS host,
        |         '/p' || (doc_id % 40) AS path
        |  FROM documents
        |  UNION
        |  SELECT DISTINCT 'mirror.example.com', '/p' || (doc_id % 40)
        |  FROM documents WHERE doc_id % 23 = 0),
        |sz AS (SELECT host, count(*) AS n FROM up GROUP BY 1),
        |inter AS (
        |  SELECT a.host AS host1, b.host AS host2, count(*) AS shared
        |  FROM up a JOIN up b ON a.path = b.path AND a.host < b.host
        |  GROUP BY 1, 2)
        |SELECT host1, host2, shared AS shared_units,
        |       round(shared * 1.0 / s1.n, 4) AS c_1_in_2,
        |       round(shared * 1.0 / s2.n, 4) AS c_2_in_1
        |FROM inter JOIN sz s1 ON s1.host = host1 JOIN sz s2 ON s2.host = host2
        |WHERE round(shared * 1.0 / s1.n, 4) >= 0.9
        |   OR round(shared * 1.0 / s2.n, 4) >= 0.9""".stripMargin,

    // weekly cohort retention: DuckDB date_trunc('week') yields DATE, so
    // both week columns are cast back to TIMESTAMP to match Spark's
    "ev_retention" ->
      """WITH pu AS (
        |  SELECT user_id AS u,
        |         date_trunc('week', min(ts))::TIMESTAMP AS cohort_week,
        |         list(DISTINCT date_trunc('week', ts)::TIMESTAMP) AS weeks
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |act AS (SELECT cohort_week, unnest(weeks) AS active_week FROM pu),
        |sizes AS (SELECT cohort_week, count(*) AS cohort_users FROM pu GROUP BY 1),
        |agg AS (
        |  SELECT cohort_week, active_week, count(*) AS n_users
        |  FROM act GROUP BY 1, 2)
        |SELECT a.cohort_week, a.active_week, a.n_users, s.cohort_users,
        |       round(a.n_users * 1.0 / s.cohort_users, 4) AS retention
        |FROM agg a JOIN sizes s USING (cohort_week)""".stripMargin,

    // Flesch proxies: regexp_extract_all counts the same non-overlapping
    // matches Spark's regexp_count sees
    "ta_readability" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words,
        |         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
        |         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |       CASE WHEN n_words > 0
        |            THEN round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
        |                       - 84.6 * (n_syllables * 1.0 / n_words), 4)
        |            END AS flesch
        |FROM t""".stripMargin,

    "ta_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, strlen(text) AS n_chars,
         |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, n_chars, len(toks) AS n_words,
         |         len(list_filter(toks, x -> x IN (${TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(",")}))) AS stop_hits,
         |         list_sum(list_transform(toks, x -> strlen(x))) AS tok_chars
         |  FROM t)
         |SELECT doc_id, n_chars, n_words, stop_hits,
         |       round(CASE WHEN n_words > 0 THEN tok_chars * 1.0 / n_words ELSE 0 END, 4) AS mean_word_len,
         |       round(CASE WHEN n_words > 0 THEN stop_hits * 1.0 / n_words ELSE 0 END, 4) AS stop_ratio,
         |       round(least(n_words / 200.0, 1.0) * 0.5 +
         |             least(CASE WHEN n_words > 0 THEN stop_hits * 5.0 / n_words ELSE 0 END, 1.0) * 0.3 +
         |             CASE WHEN round(CASE WHEN n_words > 0 THEN tok_chars * 1.0 / n_words ELSE 0 END, 4)
         |                  BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END, 4) AS quality
         |FROM u""".stripMargin,

    "ta_tokens" ->
      """SELECT doc_id,
        |       len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws_tokens,
        |       len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS n_bpe_tokens,
        |       strlen(text) AS n_chars
        |FROM documents""".stripMargin,

    "ta_fingerprint" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
        |         generate_subscripts(string_split(text, ' '), 1) - 1 AS i
        |  FROM documents)
        |SELECT doc_id,
        |       (sum(('0x' || substr(md5(token), 1, 8))::BIGINT * ((i % 997) + 1)) % 1000000007)::BIGINT AS fingerprint
        |FROM tok WHERE token <> '' GROUP BY 1""".stripMargin,

    // Gopher-style repetition signals; tie-break on the top bigram is
    // (cnt DESC, gram DESC) — the SQL twin of Spark's max(struct(cnt, gram))
    "ta_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |meta AS (SELECT doc_id, len(toks) AS n_tokens FROM toks),
        |tri AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
        |                                        i -> array_to_string(toks[i:i+2], ' '))) AS gram
        |  FROM toks WHERE len(toks) >= 3),
        |tric AS (SELECT doc_id, gram, count(*) AS cnt FROM tri GROUP BY 1, 2),
        |trid AS (
        |  SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_occ
        |  FROM tric GROUP BY 1),
        |bi AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |                                        i -> array_to_string(toks[i:i+1], ' '))) AS gram
        |  FROM toks WHERE len(toks) >= 2),
        |bic AS (SELECT doc_id, gram, count(*) AS cnt FROM bi GROUP BY 1, 2),
        |bitop AS (
        |  SELECT doc_id, cnt AS top_cnt, gram AS top_bigram FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY cnt DESC, gram DESC) AS rn FROM bic)
        |  WHERE rn = 1)
        |SELECT m.doc_id, m.n_tokens,
        |       round(CASE WHEN m.n_tokens >= 3
        |                  THEN coalesce(dup_occ, 0) * 1.0 / (m.n_tokens - 2)
        |                  ELSE 0 END, 4) AS dup_trigram_frac,
        |       coalesce(top_bigram, '') AS top_bigram,
        |       round(CASE WHEN m.n_tokens >= 2
        |                  THEN coalesce(top_cnt, 0) * 1.0 / (m.n_tokens - 1)
        |                  ELSE 0 END, 4) AS top_bigram_frac
        |FROM meta m
        |LEFT JOIN trid USING (doc_id)
        |LEFT JOIN bitop USING (doc_id)""".stripMargin,

    // same (doc, token) partials → unigram model → per-token
    // ⌊1e6·ln(N/cnt)⌋ (double division and ln are IEEE-identical in both
    // engines; the floor makes each term an exact integer, so per-doc
    // sums are order-free)
    "ta_lm_surprisal" ->
      """WITH dt AS (
        |  SELECT doc_id, token, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |    FROM documents) GROUP BY 1, 2),
        |model AS (SELECT token, sum(cnt)::BIGINT AS gcnt FROM dt GROUP BY 1),
        |total AS (SELECT sum(gcnt)::BIGINT AS n FROM model),
        |scored AS (
        |  SELECT dt.doc_id, sum(dt.cnt)::BIGINT AS n_lm_tokens,
        |         sum(floor(1000000.0 * ln(n::DOUBLE / gcnt)) * dt.cnt)::BIGINT AS surprisal_sum
        |  FROM dt JOIN model USING (token) CROSS JOIN total GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_lm_tokens, 0)::BIGINT AS n_lm_tokens,
        |       coalesce(surprisal_sum, 0)::BIGINT AS surprisal_sum,
        |       (CASE WHEN n_lm_tokens IS NOT NULL
        |             THEN surprisal_sum // n_lm_tokens ELSE 0 END)::BIGINT AS mean_surprisal
        |FROM documents d LEFT JOIN scored USING (doc_id)""".stripMargin,

    // vocab = global counts >= 2, top 300 by (cnt desc, token asc) — a
    // total order, so the cut is deterministic in both engines
    "ta_vocab_oov" ->
      """WITH dt AS (
        |  SELECT doc_id, token, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |    FROM documents) GROUP BY 1, 2),
        |vocab AS (
        |  SELECT token FROM (SELECT token, sum(cnt)::BIGINT AS cnt FROM dt GROUP BY 1)
        |  WHERE cnt >= 2 ORDER BY cnt DESC, token ASC LIMIT 300),
        |scored AS (
        |  SELECT dt.doc_id, sum(dt.cnt)::BIGINT AS n_lm_tokens,
        |         sum(CASE WHEN v.token IS NULL THEN dt.cnt ELSE 0 END)::BIGINT AS oov_occ
        |  FROM dt LEFT JOIN vocab v USING (token) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_lm_tokens, 0)::BIGINT AS n_lm_tokens,
        |       coalesce(oov_occ, 0)::BIGINT AS oov_occ,
        |       round(CASE WHEN n_lm_tokens IS NOT NULL
        |                  THEN oov_occ::DOUBLE / n_lm_tokens ELSE 0 END, 4) AS oov_rate
        |FROM documents d LEFT JOIN scored USING (doc_id)""".stripMargin,

    "dd_span_dedup" ->
      s"""WITH $ddInputSql,
         |toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM dd_input),
         |grams AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 7),
         |                                        i -> array_to_string(toks[i:i+7], ' '))) AS gram
         |  FROM toks WHERE len(toks) >= 8)
         |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         |FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY n_docs DESC, n_occ DESC, gram ASC LIMIT 50""".stripMargin,

    "wt_host_edges" -> hostEdgesOracleSql,

    // HITS over the host graph: the unrolled max-renormalized integer
    // recurrence, GENERATED from the same (iters, scale) params as the
    // Spark call so the two programs cannot drift
    "wt_host_hits" -> hitsSql(
      s"SELECT src_host AS src, dst_host AS dst, n_links AS w " +
        s"FROM ($hostEdgesOracleSql)", 3, 1000000L, 15),

    // SSSP over the directed host graph: Bellman-Ford rounds unrolled,
    // min per vertex each round (order-free — hash-exact cross-engine)
    "wt_host_sssp" -> ssspSql(
      s"SELECT src_host AS src, dst_host AS dst, n_links AS w " +
        s"FROM ($hostEdgesOracleSql)", "host0.example.com", 4),

    // pageRank over the host graph: the shared integer-recurrence SQL
    // (KgQueries.pageRankSql) over the host-edges subquery
    "wt_host_rank" -> KgQueries.pageRankSql(
      s"SELECT src_host AS src_url, dst_host AS dst_name, n_links AS weight " +
        s"FROM ($hostEdgesOracleSql)", 3, 1000000000L, 15),

    "wt_anchor_alias" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |         '<a href="https://host' || ((doc_id * 7 + 1) % 23) || '.example.com/p">Entity ' || ((doc_id * 5 + 1) % 9) || '</a>'
        |         || '<a href="http://host' || ((doc_id * 3) % 23) || '.example.com/">entity ' || ((doc_id * 5 + 2) % 9) || ' homepage</a>'
        |         || '<a href="/rel">skip me</a>'
        |         || '<a href="https://host' || (doc_id % 23) || '.example.com/x">   </a>' AS html
        |  FROM documents),
        |tags AS (
        |  SELECT unnest(regexp_extract_all(html,
        |           '<a [^>]*href="https?://[^"]*"[^>]*>[^<]*</a>')) AS tag
        |  FROM pages),
        |pr AS (
        |  SELECT lower(regexp_extract(tag, 'href="https?://([^/"]+)', 1)) AS dst_host,
        |         trim(regexp_extract(tag, '>([^<]*)</a>$', 1)) AS anchor
        |  FROM tags),
        |cnt AS (
        |  SELECT dst_host, anchor, count(*) AS n_refs
        |  FROM pr WHERE anchor <> '' GROUP BY 1, 2)
        |SELECT anchor, dst_host, n_refs FROM (
        |  SELECT *, row_number() OVER (PARTITION BY anchor
        |    ORDER BY n_refs DESC, dst_host DESC) AS rn FROM cnt)
        |WHERE rn = 1""".stripMargin,

    // the MV-refresh gold standard: the incrementally-folded summary
    // must equal a single-pass GROUP BY over ALL the facts
    "tb_mv_refresh" ->
      """WITH ev AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |         event_id % 97 AS m1, nullif(user_id % 5, 0) AS m2
        |  FROM events)
        |SELECT event_type, hour, count(*) AS n_rows,
        |       sum(m1)::BIGINT AS sum_m1, min(m1) AS min_m1, max(m1) AS max_m1,
        |       sum(m2)::BIGINT AS sum_m2, min(m2) AS min_m2, max(m2) AS max_m2
        |FROM ev GROUP BY 1, 2""".stripMargin,

    // time travel: epoch membership recomputed directly per instant
    "tb_time_travel" ->
      """SELECT CAST(-5 AS BIGINT) AS asof, c_custkey AS k, 'OLD' AS segment
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT CAST(5 AS BIGINT), c_custkey, c_mktsegment FROM customer""".stripMargin,

    "tb_scd2_merge" ->
      """WITH hist_open AS (
        |  SELECT c_custkey AS k, c_mktsegment AS segment FROM customer),
        |snap AS (
        |  SELECT c_custkey AS k,
        |         CASE WHEN c_custkey % 5 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS segment
        |  FROM customer WHERE c_custkey % 7 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 100000, 'NEWSEG' FROM customer WHERE c_custkey % 11 = 0),
        |j AS (
        |  SELECT h.k AS hk, h.segment AS hseg, s.k AS sk, s.segment AS sseg
        |  FROM hist_open h FULL OUTER JOIN snap s ON h.k = s.k)
        |SELECT c_custkey AS k, 'OLD' AS segment,
        |       (-10)::BIGINT AS valid_from, 0::BIGINT AS valid_to
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT hk, hseg, 0::BIGINT, 100::BIGINT FROM j
        |WHERE hk IS NOT NULL AND (sk IS NULL OR hseg <> sseg)
        |UNION ALL
        |SELECT hk, hseg, 0::BIGINT, NULL::BIGINT FROM j
        |WHERE hk IS NOT NULL AND sk IS NOT NULL AND hseg = sseg
        |UNION ALL
        |SELECT sk, sseg, 100::BIGINT, NULL::BIGINT FROM j
        |WHERE sk IS NOT NULL AND (hk IS NULL OR hseg <> sseg)""".stripMargin,

    "tb_snapshot_diff" ->
      """WITH sold AS (
        |  SELECT c_custkey AS k, c_mktsegment AS segment FROM customer),
        |snew AS (
        |  SELECT c_custkey AS k,
        |         CASE WHEN c_custkey % 5 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS segment
        |  FROM customer WHERE c_custkey % 7 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 100000, 'NEWSEG' FROM customer WHERE c_custkey % 11 = 0),
        |j AS (
        |  SELECT o.k AS ok, o.segment AS oseg, n.k AS nk, n.segment AS nseg
        |  FROM sold o FULL OUTER JOIN snew n ON o.k = n.k)
        |SELECT CASE WHEN nk IS NOT NULL THEN nk ELSE ok END AS k,
        |       CASE WHEN nk IS NOT NULL THEN nseg ELSE oseg END AS segment,
        |       CASE WHEN ok IS NULL THEN 'insert'
        |            WHEN nk IS NULL THEN 'delete'
        |            ELSE 'update' END AS change_type
        |FROM j WHERE ok IS NULL OR nk IS NULL OR oseg <> nseg""".stripMargin,

    "wt_reg_domain" ->
      """WITH hosts AS (
        |  SELECT doc_id,
        |         CASE doc_id % 6
        |           WHEN 0 THEN 'www.site' || (doc_id % 50) || '.com'
        |           WHEN 1 THEN 'a.b.site' || (doc_id % 50) || '.co.uk'
        |           WHEN 2 THEN 'site' || (doc_id % 50) || '.com.au'
        |           WHEN 3 THEN 'cdn.site' || (doc_id % 50) || '.io'
        |           WHEN 4 THEN '10.0.' || (doc_id % 50) || '.1'
        |           ELSE 'localhost' END AS host
        |  FROM documents)
        |SELECT doc_id, host,
        |       CASE WHEN regexp_matches(host, '^[0-9.]+$')
        |                 OR len(string_split(host, '.')) <= 2 THEN host
        |            WHEN array_to_string(string_split(host, '.')[-2:], '.') IN
        |                 ('co.uk', 'ac.uk', 'gov.uk', 'org.uk', 'co.jp', 'ne.jp',
        |                  'or.jp', 'com.au', 'net.au', 'org.au', 'com.br', 'com.cn',
        |                  'co.in', 'co.kr', 'com.mx', 'co.za', 'com.ar', 'com.tr')
        |            THEN array_to_string(string_split(host, '.')[-3:], '.')
        |            ELSE array_to_string(string_split(host, '.')[-2:], '.') END AS domain
        |FROM hosts""".stripMargin,

    "wt_url_normalize" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
        |         || '://WWW.Example' || (doc_id % 5) || '.COM'
        |         || (CASE WHEN doc_id % 3 = 0
        |                  THEN CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
        |                  ELSE '' END)
        |         || (CASE WHEN doc_id % 7 = 0 THEN '' ELSE '/Path/' || doc_id END)
        |         || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&id=' || doc_id
        |                  WHEN doc_id % 4 = 1 THEN '?id=' || doc_id || '&utm_campaign=y'
        |                  WHEN doc_id % 4 = 2 THEN '?utm_medium=z'
        |                  ELSE '' END)
        |         || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag
        |  FROM urls),
        |p2 AS (
        |  SELECT doc_id, url, nofrag,
        |         lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |         lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
        |         regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
        |  FROM parts),
        |p3 AS (
        |  SELECT doc_id, url, nofrag, scheme,
        |         CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
        |              WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
        |              ELSE auth END AS host,
        |         regexp_extract(rest, '^([^?]*)', 1) AS path,
        |         -- array_to_string of an EMPTY list is NULL in DuckDB
        |         -- (Spark's array_join gives ''): coalesce to match
        |         coalesce(array_to_string(list_filter(string_split(
        |           regexp_extract(rest, '\?(.*)$', 1), '&'),
        |           p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)=')), '&'), '') AS keptq
        |  FROM p2)
        |SELECT doc_id, url,
        |       CASE WHEN scheme = '' THEN nofrag
        |            ELSE scheme || '://' || host
        |                 || (CASE WHEN path = '' THEN '/' ELSE path END)
        |                 || (CASE WHEN keptq = '' THEN '' ELSE '?' || keptq END)
        |       END AS url_norm
        |FROM p3""".stripMargin,

    "mm_frame_sample" ->
      """SELECT doc_id, strlen(text) AS n_bytes, ascii(substr(text, 1, 1)) AS head_byte,
        |       md5(text) AS content_md5,
        |       concat_ws('', substr(text, 1, 1), substr(text, 101, 1), substr(text, 201, 1),
        |                 substr(text, 301, 1), substr(text, 401, 1)) AS frame_sample
        |FROM documents""".stripMargin,

    "dd_simhash_pairs" ->
      s"""WITH $ddInputSql, $shinglesSql,
         |sh AS (
         |  SELECT doc_id, string_agg(b, '' ORDER BY k) AS simhash FROM (
         |    SELECT doc_id, k,
         |           CASE WHEN sum(((strpos('0123456789abcdef', substr(md5(shingle), (k // 4)::INT + 1, 1)) - 1)
         |                          >> (3 - k % 4) & 1) * 2 - 1) > 0
         |                THEN '1' ELSE '0' END AS b
         |    FROM shingles, generate_series(0, 63) AS t(k) GROUP BY 1, 2)
         |  GROUP BY 1),
         |chunks AS (
         |  SELECT doc_id, simhash, c, substr(simhash, c * 16 + 1, 16) AS chunk
         |  FROM sh, generate_series(0, 3) AS t(c)),
         |keptc AS (
         |  SELECT c, chunk FROM chunks GROUP BY 1, 2 HAVING count(*) <= 100000),
         |inb AS (SELECT ch.* FROM chunks ch JOIN keptc USING (c, chunk)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.simhash AS s1, b.simhash AS s2
         |  FROM inb a JOIN inb b USING (c, chunk) WHERE a.doc_id < b.doc_id)
         |SELECT id1, id2,
         |       len(list_filter(generate_series(1, 64), i -> substr(s1, i::int, 1) <> substr(s2, i::int, 1))) AS hamming
         |FROM cand
         |WHERE len(list_filter(generate_series(1, 64), i -> substr(s1, i::int, 1) <> substr(s2, i::int, 1))) <= 3""".stripMargin,

    "sim_ann_topk" ->
      s"""WITH $bandedCandSql,
         |sym AS (SELECT id1 AS probe_id, id2 AS neighbor_id FROM cand
         |        UNION ALL SELECT id2, id1 FROM cand),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |scored AS (
         |  SELECT s.probe_id, s.neighbor_id,
         |         round(list_dot_product(p.e, c.e) /
         |               (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))), 4) + 0 AS cos_sim
         |  FROM sym s JOIN v p ON p.vec_id = s.probe_id JOIN v c ON c.vec_id = s.neighbor_id)
         |SELECT probe_id, neighbor_id, cos_sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
         |  FROM scored) WHERE rank <= 5""".stripMargin,

    "sim_cosine_neardups" ->
      s"""WITH $bandedCandSql,
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
         |SELECT id1, id2,
         |       round(list_dot_product(a.e, b.e) /
         |             (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS cos_sim
         |FROM cand JOIN v a ON a.vec_id = id1 JOIN v b ON b.vec_id = id2
         |WHERE round(list_dot_product(a.e, b.e) /
         |            (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) >= 0.35""".stripMargin,

    "sim_incremental_add" ->
      """WITH dims AS (
        |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
        |         generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings),
        |dots AS (
        |  SELECT vec_id, p,
        |         sum(x * (strpos('0123456789abcdef',
        |                         substr(md5(p::VARCHAR || ':' || i::VARCHAR), (i % 32)::INT + 1, 1)) - 1 - 7.5)) AS dot
        |  FROM dims, generate_series(0, 7) AS t(p) GROUP BY 1, 2)
        |SELECT vec_id, string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket,
        |       CASE WHEN vec_id % 2 = 0 THEN 'base' ELSE 'delta' END AS src
        |FROM dots GROUP BY 1, 3""".stripMargin,

    // IVF mirror of Similarity.ivfTopK: ×1000 long quantization, seed
    // centroids = 8 smallest ids, one Lloyd step with SUM centroids
    // (cosine is scale-invariant → sum ≡ mean, integer-exact), probe 2
    // lists, exact float re-rank. All dots are BIGINT sums (< 2^53) so
    // assignments are bit-identical to Spark's.
    "sim_ivf_topk" -> ivfSql(nClusters = 8, nProbe = 2, lloydSteps = 2, k = 5),

    // the semantic-dedup pairs: the SAME IVF assignment derivation,
    // consumed as a cluster partition instead of an inverted index
    "dd_semantic_pairs" -> semanticNearDupsSql(
      nClusters = 8, lloydSteps = 2, threshold = 0.35),

    "sim_quantize" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS maxabs FROM v)
        |SELECT vec_id, len(e) AS n_dims,
        |       round(maxabs * 1000000)::BIGINT AS scale_q,
        |       array_to_string(list_transform(e, x ->
        |         CASE WHEN maxabs = 0 THEN 0
        |              ELSE floor(x * 127 / maxabs + 0.5)::BIGINT END), ',') AS q_csv
        |FROM m""".stripMargin,

    // constants pre-folded to the exact doubles bm25TopK receives
    // (2.2 = k1+1; 0.25 = 1-b) — folding them in SQL instead would go
    // through DuckDB DECIMAL arithmetic and drift in the last ulp
    "ir_bm25_topk" -> bm25TopkSql,

    // sparse (BM25) + dense (cosine) lists fused by reciprocal rank:
    // both rankings re-derived by their own oracle programs (the BM25
    // CTE chain is THE ir_bm25_topk string — one definition), then
    // integer ⌊1e6/(60+rank)⌋ contributions summed per doc — floor
    // before sum keeps the fused scores order-free and hash-exact
    "ir_rrf_fusion" ->
      s"""WITH sparse AS ($bm25TopkSql),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |dscored AS (
         |  SELECT c.vec_id AS doc_id,
         |         round(list_dot_product(p.e, c.e) /
         |               (sqrt(list_dot_product(p.e, p.e)) * sqrt(list_dot_product(c.e, c.e))), 4) + 0 AS cos_sim
         |  FROM v p, v c WHERE p.vec_id = 0 AND p.vec_id <> c.vec_id),
         |dense AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS rank
         |    FROM dscored) WHERE rank <= 20),
         |u AS (SELECT doc_id, rank FROM sparse UNION ALL SELECT doc_id, rank FROM dense),
         |f AS (SELECT doc_id, sum(1000000 // (60 + rank))::BIGINT AS score,
         |             count(*) AS n_lists
         |      FROM u GROUP BY 1),
         |top AS (SELECT doc_id, score, n_lists FROM f
         |        ORDER BY score DESC, doc_id ASC LIMIT 15)
         |SELECT doc_id, score, n_lists,
         |       row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |FROM top""".stripMargin,

    "cu_hash_sample" ->
      """SELECT doc_id, stratum, bucket FROM (
        |  SELECT doc_id, lang AS stratum,
        |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bucket
        |  FROM documents)
        |WHERE bucket < CASE stratum WHEN 'en' THEN 10000 WHEN 'de' THEN 2500 ELSE 500 END""".stripMargin,

    "cu_source_cap" ->
      """SELECT doc_id, source, n_chars, rank_in_group FROM (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rank_in_group
        |  FROM documents)
        |WHERE rank_in_group <= 20""".stripMargin,

    "cu_split" ->
      """SELECT doc_id, bucket,
        |       CASE WHEN bucket < 9000 THEN 'train'
        |            WHEN bucket < 9500 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bucket
        |      FROM documents)""".stripMargin,

    "cu_boilerplate" ->
      """WITH lined AS (
        |  SELECT doc_id, text || chr(10) ||
        |    'subscribe to ' || source || ' newsletter today' || chr(10) ||
        |    'all rights reserved by ' || source || chr(10) ||
        |    'doc ' || doc_id || ' unique closing line' AS txt
        |  FROM documents),
        |lns AS (
        |  SELECT doc_id,
        |         generate_subscripts(string_split(txt, chr(10)), 1) - 1 AS idx,
        |         unnest(string_split(txt, chr(10))) AS line
        |  FROM lined),
        |flagged AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS doc_freq FROM lns GROUP BY line)
        |  WHERE doc_freq > 10),
        |kept AS (SELECT * FROM lns WHERE line NOT IN (SELECT line FROM flagged)),
        |tot AS (SELECT doc_id, count(*) AS n_total FROM lns GROUP BY doc_id),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS clean_text,
        |               count(*) AS n_kept
        |        FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |       coalesce(a.n_kept, 0)::BIGINT AS n_kept,
        |       (t.n_total - coalesce(a.n_kept, 0))::BIGINT AS n_dropped
        |FROM tot t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "cu_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
      s"""WITH withpii AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0
         |         THEN ' contact user' || doc_id || '@mail.example.org now' ELSE '' END ||
         |    CASE WHEN doc_id % 4 = 1
         |         THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
         |              lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' today' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 2
         |         THEN ' from 10.' || (doc_id % 200) || '.0.' || (doc_id % 250) || ' net'
         |         ELSE '' END AS txt
         |  FROM documents)
         |SELECT doc_id,
         |       regexp_replace(regexp_replace(regexp_replace(txt,
         |         '$email', '[EMAIL]', 'g'),
         |         '$ip', '[IP]', 'g'),
         |         '$phone', '[PHONE]', 'g') AS redacted,
         |       len(regexp_extract_all(txt, '$email'))::INT AS n_emails,
         |       len(regexp_extract_all(txt, '$ip'))::INT AS n_ips,
         |       len(regexp_extract_all(txt, '$phone'))::INT AS n_phones
         |FROM withpii""".stripMargin
    },

    "ir_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df, tfidf, rn FROM (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |         round(t.tf * ln(n.n_docs / d.df), 4) AS tfidf,
        |         row_number() OVER (
        |           PARTITION BY t.doc_id
        |           ORDER BY round(t.tf * ln(n.n_docs / d.df), 4) DESC, t.term ASC) AS rn
        |  FROM tf t JOIN dfq d USING (term), n)
        |WHERE rn <= 5""".stripMargin,

    // same (size=40, stride=25) parameters as the Scala program; DuckDB
    // list slice l[a:b] is 1-based inclusive and end-clamps exactly like
    // Spark's slice(arr, start, length)
    "ir_passage_windows" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 25)) AS s
        |  FROM toks WHERE len(toks) > 0)
        |SELECT doc_id,
        |       (s // 25)::BIGINT AS passage_id,
        |       s::BIGINT AS start_tok,
        |       len(toks[s+1 : s+40])::BIGINT AS n_tokens,
        |       array_to_string(toks[s+1 : s+40], ' ') AS passage
        |FROM st""".stripMargin,

    // the bm25TopkSql program re-based onto the ir_passage_windows
    // passage construction (same size/stride), then max-per-doc (MaxP);
    // per-passage scores round to 4 BEFORE the max, like the Spark side
    "ir_passage_maxp" ->
      """WITH toks0 AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |pass AS MATERIALIZED (
        |  SELECT doc_id, (s // 25)::BIGINT AS passage_id,
        |         array_to_string(tk[s+1 : s+40], ' ') AS passage
        |  FROM (SELECT doc_id, tk, unnest(range(0, len(tk), 25)) AS s
        |        FROM toks0 WHERE len(tk) > 0)),
        |toks AS MATERIALIZED (
        |  SELECT doc_id, passage_id, unnest(regexp_extract_all(passage, '[a-z]+')) AS term
        |  FROM pass),
        |dl AS MATERIALIZED (
        |  SELECT doc_id, passage_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1, 2),
        |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, passage_id, term, count(*)::BIGINT AS tf FROM toks
        |  WHERE term IN ('spark', 'join', 'hash', 'window') GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |pscored AS (
        |  SELECT tf.doc_id, tf.passage_id,
        |         round(sum(ln(1.0::DOUBLE + (s.n_docs - d.df + 0.5::DOUBLE) / (d.df + 0.5::DOUBLE)) *
        |                   tf.tf * 2.2::DOUBLE /
        |                   (tf.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * dl.dl / s.avgdl))), 4) AS score
        |  FROM tf JOIN dfreq d USING (term) JOIN dl USING (doc_id, passage_id) CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |perdoc AS (SELECT doc_id, max(score) AS score FROM pscored GROUP BY 1)
        |SELECT doc_id, score, rank FROM (
        |  SELECT doc_id, score,
        |         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM perdoc) WHERE rank <= 20""".stripMargin,

    "ir_context_pack" ->
      """WITH cands AS (
        |  SELECT doc_id % 10 AS query_id, doc_id,
        |         doc_id * 37 % 100 AS score,
        |         10 + doc_id % 50 AS n_tokens
        |  FROM documents),
        |w AS (
        |  SELECT query_id, doc_id, score, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY query_id
        |             ORDER BY score DESC, doc_id ASC)::BIGINT AS cum_tokens,
        |         row_number() OVER (PARTITION BY query_id
        |             ORDER BY score DESC, doc_id ASC) AS "position"
        |  FROM cands)
        |SELECT query_id, doc_id, score, n_tokens, cum_tokens, "position"
        |FROM w WHERE cum_tokens <= 120""".stripMargin,

    "ev_kmv_distinct" ->
      """WITH uq AS (SELECT DISTINCT event_type, event_id FROM events WHERE event_id IS NOT NULL),
        |h AS (
        |  SELECT event_type,
        |         (('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT)::DOUBLE
        |           / 1152921504606846976.0 AS u
        |  FROM uq),
        |rk AS (
        |  SELECT event_type, u,
        |         row_number() OVER (PARTITION BY event_type ORDER BY u ASC) AS rn
        |  FROM h)
        |SELECT event_type, count(*)::BIGINT AS n_minima,
        |       round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
        |                  ELSE 63 / max(u) END, 4) AS est_distinct
        |FROM rk WHERE rn <= 64 GROUP BY event_type""".stripMargin,

    // the running-sum binning rule re-derived as one window: bin =
    // (cumulative bytes before this file) // target
    "lo_compaction" ->
      """WITH inv AS (
        |  SELECT 'f' || lpad(doc_id::VARCHAR, 8, '0') AS path, n_chars AS size_bytes
        |  FROM documents),
        |c AS (
        |  SELECT path, size_bytes,
        |         coalesce(sum(size_bytes) OVER (ORDER BY path
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS bef
        |  FROM inv)
        |SELECT path, size_bytes, bef // 100000 AS bin, bef % 100000 AS bin_pos
        |FROM c""".stripMargin,

    // the hashSample md5 idiom drawn k=3 times per pair, bumped off the
    // positive; corpus size is the same scalar count in both engines
    "cu_neg_samples" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
        |pairs AS (
        |  SELECT doc_id AS query_id, (doc_id * 7 + 3) % n AS pos_id
        |  FROM documents CROSS JOIN n),
        |ex AS (
        |  SELECT query_id, pos_id, unnest(generate_series(0, 2)) AS neg_rank
        |  FROM pairs),
        |h AS (
        |  SELECT query_id, pos_id, neg_rank, n,
        |         ('0x' || substr(md5(query_id::VARCHAR || ':' || neg_rank::VARCHAR), 1, 8))::BIGINT % n AS hh
        |  FROM ex CROSS JOIN n)
        |SELECT query_id, pos_id, neg_rank,
        |       CASE WHEN hh = pos_id THEN (hh + 1) % n ELSE hh END AS neg_id
        |FROM h""".stripMargin,

    "lo_zorder" -> graft.ops.Layout.zValueSql("lineitem", "l_partkey", "l_suppkey", 8,
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")),

    // same binning + interpolation expression tree, IEEE-identical;
    // `+ 0` normalizes DuckDB's retained -0.0 after round
    "ev_hist_quantiles" ->
      """WITH mm AS (
        |  SELECT min(value)::DOUBLE AS lo, max(value)::DOUBLE AS hi, count(*) AS n
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |              ELSE least(199, greatest(0,
        |                floor((value::DOUBLE - lo) * 200 / (hi - lo))::INT)) END AS bin,
        |         lo, hi, n, count(*) AS nb
        |  FROM events, mm WHERE value IS NOT NULL
        |  GROUP BY 1, 2, 3, 4),
        |cum AS (
        |  SELECT bin, lo, hi, n, nb,
        |         coalesce(sum(nb) OVER (ORDER BY bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |  FROM cells),
        |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
        |SELECT q, round(lo + (bin + (q * n - cumb) / nb) * ((hi - lo) / 200.0), 4) + 0 AS est
        |FROM cum, qs
        |WHERE q * n > cumb AND q * n <= cumb + nb""".stripMargin,

    // CMS cells and probes share the MinHash universal-hash scheme, so
    // the oracle reuses minhashHashSql verbatim (seed = sketch row)
    "ev_cms_heavy" ->
      s"""WITH toks AS (
         |  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
         |  FROM documents WHERE text IS NOT NULL),
         |cells AS (
         |  SELECT seed, (${minhashHashSql("token")}) % 1024 AS bucket, count(*) AS n
         |  FROM toks, generate_series(0, 3) AS t(seed)
         |  GROUP BY 1, 2),
         |top AS (
         |  SELECT token, count(*) AS n_exact FROM toks GROUP BY 1
         |  ORDER BY n_exact DESC, token LIMIT 20),
         |probes AS (
         |  SELECT token, n_exact, seed, (${minhashHashSql("token")}) % 1024 AS bucket
         |  FROM top, generate_series(0, 3) AS t(seed))
         |SELECT p.token, p.n_exact::BIGINT AS n_exact,
         |       min(coalesce(c.n, 0))::BIGINT AS est_n
         |FROM probes p LEFT JOIN cells c USING (seed, bucket)
         |GROUP BY 1, p.n_exact""".stripMargin,

    // one-scan profiler: UNION-ALL unpivot + the ev_kmv_distinct
    // program grouped by column name
    "tb_profile" -> {
      val colsP = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderdate", "o_orderpriority")
      val unp = colsP.map(c =>
        s"SELECT '$c' AS \"column\", $c::VARCHAR AS value FROM orders")
        .mkString("\n  UNION ALL ")
      s"""WITH unp AS (
         |  $unp),
         |counts AS (
         |  SELECT "column", count(*)::BIGINT AS n_rows,
         |         count(value)::BIGINT AS n_nonnull,
         |         min(value) AS min_val, max(value) AS max_val
         |  FROM unp GROUP BY 1),
         |uq AS (SELECT DISTINCT "column", value FROM unp WHERE value IS NOT NULL),
         |h AS (
         |  SELECT "column",
         |         (('0x' || substr(md5(value), 1, 15))::BIGINT)::DOUBLE
         |           / 1152921504606846976.0 AS u
         |  FROM uq),
         |rk AS (
         |  SELECT "column", u,
         |         row_number() OVER (PARTITION BY "column" ORDER BY u ASC) AS rn
         |  FROM h),
         |kmv AS (SELECT "column", count(*)::BIGINT AS n_minima, max(u) AS uk
         |        FROM rk WHERE rn <= 64 GROUP BY 1)
         |SELECT c."column", n_rows, n_nonnull,
         |       coalesce(round(CASE WHEN n_minima < 64 THEN n_minima::DOUBLE
         |                           ELSE 63 / uk END, 4), 0.0) AS est_distinct,
         |       min_val, max_val
         |FROM counts c LEFT JOIN kmv USING ("column")""".stripMargin
    },

    // exact per-stratum quotas: same bottom-k-by-md5 rank program
    "cu_quota_sample" ->
      """SELECT doc_id, stratum, rn FROM (
        |  SELECT doc_id, lang AS stratum,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rn
        |  FROM documents) WHERE rn <= 25""".stripMargin,

    // sqrt is IEEE-correctly-rounded in both engines and the floor
    // collapses it to an integer, so the T=2 allocation is exact;
    // same bottom-quota ordering as cu_quota_sample
    "cu_temperature_mix" ->
      """WITH counts AS (SELECT lang AS src, count(*)::BIGINT AS cnt FROM documents GROUP BY 1),
        |w AS (SELECT src, floor(sqrt(cnt * 1000000.0))::BIGINT AS w FROM counts),
        |tot AS (SELECT sum(w)::BIGINT AS tot_w FROM w),
        |q AS (SELECT src, (w * 300 // (SELECT tot_w FROM tot))::BIGINT AS quota FROM w),
        |r AS (
        |  SELECT doc_id, lang AS src,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.src, r.rn, q.quota
        |FROM r JOIN q USING (src) WHERE r.rn <= q.quota""".stripMargin,

    // sparse TF-IDF cosine pairs: same postings self-join, same single
    // IEEE weight/normalization expression trees
    "ir_sparse_sim" ->
      """WITH dt AS (
        |  SELECT doc_id AS doc, unnest(regexp_extract_all(text, '[a-z]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc, term, count(*)::BIGINT AS tf FROM dt GROUP BY 1, 2),
        |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf
        |          GROUP BY 1 HAVING count(*) <= 100),
        |w AS (SELECT doc, term, tf * ln(n_docs::DOUBLE / df) AS w
        |      FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
        |norms AS (SELECT doc, sum(w * w) AS nsq FROM w GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc AS doc_a, b.doc AS doc_b, sum(a.w * b.w) AS dot,
        |         count(*)::BIGINT AS n_shared_terms
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc < b.doc
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared_terms,
        |       round(dot / (sqrt(na.nsq) * sqrt(nb.nsq)), 4) AS cos_sim
        |FROM pairs JOIN norms na ON na.doc = doc_a JOIN norms nb ON nb.doc = doc_b
        |ORDER BY cos_sim DESC, doc_a, doc_b LIMIT 50""".stripMargin,

    // skip-gram PMI: same linear pair generation (positions pair with
    // the window ahead), same single IEEE ln expression tree
    "ta_pmi_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id AS doc, generate_subscripts(a, 1) AS pos, unnest(a) AS tok
        |  FROM (SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS a FROM documents)),
        |pairs AS (
        |  SELECT least(x.tok, y.tok) AS tok_a, greatest(x.tok, y.tok) AS tok_b
        |  FROM toks x JOIN toks y
        |    ON x.doc = y.doc AND y.pos BETWEEN x.pos + 1 AND x.pos + 3),
        |pc AS (SELECT tok_a, tok_b, count(*)::BIGINT AS n_pair FROM pairs GROUP BY 1, 2),
        |uni AS (SELECT tok, count(*)::BIGINT AS n_tok FROM toks GROUP BY 1),
        |t AS (SELECT sum(n_tok)::BIGINT AS n_total FROM uni),
        |p AS (SELECT sum(n_pair)::BIGINT AS n_pairs FROM pc)
        |SELECT tok_a, tok_b, n_pair,
        |       round(ln((n_pair::DOUBLE * n_total * n_total) /
        |                (n_pairs::DOUBLE * a.n_tok * b.n_tok)), 4) AS pmi
        |FROM pc JOIN uni a ON a.tok = pc.tok_a JOIN uni b ON b.tok = pc.tok_b
        |CROSS JOIN t CROSS JOIN p
        |WHERE n_pair >= 3
        |ORDER BY pmi DESC, tok_a, tok_b LIMIT 100""".stripMargin,

    // per-user lead() sequence -> transition counts -> integer-ppm
    // conditional probabilities; same (ts, type) tie order both engines
    "ev_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS to_type
        |  FROM events),
        |cnt AS (SELECT from_type, to_type, count(*)::BIGINT AS n
        |        FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n)::BIGINT AS n_from FROM cnt GROUP BY 1)
        |SELECT c.from_type, c.to_type, n, n_from,
        |       (n * 1000000 // n_from)::BIGINT AS p_ppm
        |FROM cnt c JOIN tot USING (from_type)""".stripMargin,

    // hash-argmin walk steps unrolled as CTEs; same md5-based step hash,
    // same (h, neighbor) tie order
    "gr_random_walks" -> randomWalksSql(4),

    // the textbook k-pass min-ts chain — a DIFFERENT program computing
    // the same greedy-earliest funnel as the single-shuffle array fold
    // (taking the EARLIEST qualifying event at each level maximizes
    // eligibility for the next level, so min-chain ≡ fold)
    "ev_funnel" ->
      """WITH ev AS (SELECT user_id, ts, event_type FROM events
        |            WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
        |f1 AS (SELECT user_id, min(ts) AS t1 FROM ev
        |       WHERE event_type = 'signup' GROUP BY 1),
        |f2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN f1 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts > f1.t1 GROUP BY 1),
        |f3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e JOIN f2 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > f2.t2 GROUP BY 1),
        |f4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM ev e JOIN f3 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > f3.t3 GROUP BY 1),
        |base AS (SELECT DISTINCT user_id FROM ev)
        |SELECT b.user_id,
        |       CASE WHEN t4 IS NOT NULL THEN 4 WHEN t3 IS NOT NULL THEN 3
        |            WHEN t2 IS NOT NULL THEN 2 WHEN t1 IS NOT NULL THEN 1
        |            ELSE 0 END AS steps_completed,
        |       t1 AS t_first,
        |       coalesce(t4, t3, t2, t1) AS t_last
        |FROM base b LEFT JOIN f1 USING (user_id) LEFT JOIN f2 USING (user_id)
        |     LEFT JOIN f3 USING (user_id) LEFT JOIN f4 USING (user_id)""".stripMargin,

    // integer-exact rolling z-score: same window program, same
    // (x·n−s)²·zDen² > zNum²·(n·ss−s²) comparison — all BIGINT
    "ev_rolling_anomaly" ->
      """WITH b AS (
        |  SELECT event_type AS key, date_trunc('hour', ts) AS bucket_hour,
        |         count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT key, bucket_hour, cnt,
        |         count(*) OVER win::BIGINT AS n_prev,
        |         coalesce(sum(cnt) OVER win, 0)::BIGINT AS sum_prev,
        |         coalesce(sum(cnt * cnt) OVER win, 0)::BIGINT AS ssq_prev
        |  FROM b
        |  WINDOW win AS (PARTITION BY key ORDER BY bucket_hour
        |                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT key, bucket_hour, cnt, n_prev, sum_prev,
        |       (n_prev >= 8 AND cnt * n_prev - sum_prev > 0 AND
        |        (cnt * n_prev - sum_prev) * (cnt * n_prev - sum_prev) >
        |        4 * (n_prev * ssq_prev - sum_prev * sum_prev)) AS is_anomaly
        |FROM w""".stripMargin,

    // the bloom bit/probe buckets reuse minhashHashSql (seed = hash fn)
    "cu_bloom_prefilter" ->
      s"""WITH base AS (SELECT doc_id, md5(coalesce(text, '')) AS fp FROM documents),
         |bench AS (SELECT doc_id, fp FROM base WHERE doc_id % 97 = 0),
         |corpus AS (
         |  SELECT doc_id, fp FROM base WHERE doc_id % 97 <> 0
         |  UNION ALL SELECT doc_id + 4000000 AS doc_id, fp FROM bench),
         |bits AS (
         |  SELECT DISTINCT seed, (${minhashHashSql("fp")}) % 4096 AS bucket
         |  FROM bench, generate_series(0, 2) AS t(seed)),
         |probe AS (
         |  SELECT doc_id, fp, seed, (${minhashHashSql("fp")}) % 4096 AS bucket
         |  FROM corpus, generate_series(0, 2) AS t(seed))
         |SELECT p.doc_id, p.fp FROM probe p JOIN bits b USING (seed, bucket)
         |GROUP BY 1, 2 HAVING count(*) = 3""".stripMargin,

    // same corpus/bench construction as cu_decontaminate; both sides get
    // the shared universal-hash MinHash (minhashHashSql), 2 bands × 4
    // rows, candidates from the band equi-join, estimate = agreeing
    // positions / 8 in exact integer ppm
    "cu_fuzzy_decontam" ->
      s"""WITH bench0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         |corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id, text || '$decontTail' AS text FROM bench0),
         |csh AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(generate_series(1, greatest(1, strlen(text) - 7)),
         |                               i -> substr(text, i::int, 8))) AS shingle
         |  FROM corpus),
         |bsh AS (
         |  SELECT DISTINCT doc_id AS bench_id,
         |         unnest(list_transform(generate_series(1, greatest(1, strlen(text) - 7)),
         |                               i -> substr(text, i::int, 8))) AS shingle
         |  FROM bench0),
         |csig AS MATERIALIZED (
         |  SELECT doc_id, seed, min(${minhashHashSql("shingle")}) AS minhash
         |  FROM csh, generate_series(0, 7) AS t(seed) GROUP BY 1, 2),
         |bsig AS MATERIALIZED (
         |  SELECT bench_id, seed, min(${minhashHashSql("shingle")}) AS minhash
         |  FROM bsh, generate_series(0, 7) AS t(seed) GROUP BY 1, 2),
         |cb AS (
         |  SELECT doc_id, (seed // 4)::INT AS band,
         |         md5(string_agg(minhash::VARCHAR, ':' ORDER BY seed)) AS bucket
         |  FROM csig GROUP BY 1, 2),
         |bb AS (
         |  SELECT bench_id, (seed // 4)::INT AS band,
         |         md5(string_agg(minhash::VARCHAR, ':' ORDER BY seed)) AS bucket
         |  FROM bsig GROUP BY 1, 2),
         |cands AS (SELECT DISTINCT c.doc_id, b.bench_id
         |          FROM cb c JOIN bb b USING (band, bucket)),
         |agree AS (
         |  SELECT a.doc_id, a.bench_id,
         |         sum(CASE WHEN cs.minhash = bs.minhash THEN 1 ELSE 0 END)::BIGINT AS n_agree
         |  FROM cands a
         |  JOIN csig cs ON cs.doc_id = a.doc_id
         |  JOIN bsig bs ON bs.bench_id = a.bench_id AND bs.seed = cs.seed
         |  GROUP BY 1, 2)
         |SELECT doc_id, bench_id, n_agree,
         |       (n_agree * 1000000 // 8)::BIGINT AS est_jaccard_ppm
         |FROM agree WHERE n_agree * 1000000 // 8 >= 500000""".stripMargin,

    "cu_decontaminate" ->
      s"""WITH bench0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         |corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id, text || '$decontTail' AS text FROM bench0),
         |csh AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(generate_series(1, greatest(1, strlen(text) - 7)),
         |                               i -> substr(text, i::int, 8))) AS shingle
         |  FROM corpus),
         |bsh AS (
         |  SELECT DISTINCT doc_id AS bench_id,
         |         unnest(list_transform(generate_series(1, greatest(1, strlen(text) - 7)),
         |                               i -> substr(text, i::int, 8))) AS shingle
         |  FROM bench0),
         |bsz AS (SELECT bench_id, count(*) AS bn FROM bsh GROUP BY 1),
         |ov AS (SELECT c.doc_id, b.bench_id, count(*) AS n_shared
         |       FROM csh c JOIN bsh b USING (shingle) GROUP BY 1, 2)
         |SELECT doc_id, bench_id, n_shared, round(n_shared * 1.0 / bn, 4) AS containment
         |FROM ov JOIN bsz USING (bench_id)
         |WHERE round(n_shared * 1.0 / bn, 4) >= 0.5""".stripMargin,

    "ir_index_build" ->
      """SELECT term, doc_id, count(*)::BIGINT AS tf FROM (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS term FROM documents)
        |GROUP BY 1, 2""".stripMargin,

    // The stub decoder is deterministic byte math (Multimodal.stubDecode):
    // at(i) = byte[(i mod n)]; the docs corpus is pure ASCII (verified —
    // strlen == octet_length), so ascii(substr) IS the byte. PNG/JPEG
    // magic needs bytes >= 0x80, unreachable in ASCII → those sniff
    // branches are provably dead here and omitted.
    "mm_decode_stub" ->
      """WITH b AS (SELECT doc_id, text, strlen(text) AS n FROM documents)
        |SELECT doc_id AS id, n AS n_bytes,
        |       CASE WHEN n = 0 THEN 'empty'
        |            WHEN substr(text, 1, 4) = 'GIF8' THEN 'gif'
        |            WHEN substr(text, 1, 4) = 'RIFF' THEN
        |              CASE WHEN substr(text, 9, 4) = 'WAVE' THEN 'wav'
        |                   WHEN substr(text, 9, 4) = 'AVI ' THEN 'avi'
        |                   WHEN substr(text, 9, 4) = 'WEBP' THEN 'webp'
        |                   ELSE 'riff' END
        |            WHEN substr(text, 1, 1) = '<' THEN 'html'
        |            ELSE 'bin' END AS format,
        |       CASE WHEN n = 0 THEN 16
        |            ELSE 16 + ascii(substr(text, (1 % n) + 1, 1)) % 64 END AS width,
        |       CASE WHEN n = 0 THEN 16
        |            ELSE 16 + ascii(substr(text, (2 % n) + 1, 1)) % 64 END AS height,
        |       CASE WHEN n = 0 THEN 1
        |            ELSE 1 + ascii(substr(text, (3 % n) + 1, 1)) % 8 END AS n_frames,
        |       CASE WHEN n = 0 THEN '-128,-128,-128,-128,-128,-128,-128,-128'
        |            ELSE array_to_string(list_transform(generate_series(0, 7),
        |              i -> (ascii(substr(text, ((i * 7) % n)::INT + 1, 1)) - 128)::VARCHAR), ',')
        |       END AS emb_q
        |FROM b""".stripMargin,

    "pk_pack" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, shard, n_tokens,
        |         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |            ROWS UNBOUNDED PRECEDING))::BIGINT AS tok_end
        |  FROM base)
        |SELECT doc_id, shard, n_tokens, tok_end - n_tokens AS tok_start, tok_end,
        |       (tok_end - n_tokens) // 1024 AS win_start,
        |       greatest(tok_end - 1, tok_end - n_tokens) // 1024 AS win_end
        |FROM cum""".stripMargin,

    "mm_wav_meta" ->
      """SELECT doc_id,
        |       (8000 + (doc_id % 5) * 4000)::INT AS sample_rate,
        |       (1 + doc_id % 2)::INT AS channels,
        |       16 AS bits,
        |       (1000 + doc_id % 500)::INT AS n_frames,
        |       ((1000 + doc_id % 500) * 1000) // (8000 + (doc_id % 5) * 4000) AS duration_ms
        |FROM documents""".stripMargin,

    "mm_media_meta" ->
      """SELECT doc_id AS id,
        |       CASE doc_id % 3 WHEN 0 THEN 'avi' WHEN 1 THEN 'webp' ELSE 'gif' END AS format,
        |       (16 + doc_id % 16)::INT AS width,
        |       (16 + doc_id % 8)::INT AS height,
        |       (CASE doc_id % 3 WHEN 0 THEN 10 + doc_id % 90
        |                        WHEN 1 THEN 1
        |                        ELSE 1 + doc_id % 4 END)::INT AS n_frames
        |FROM documents""".stripMargin,

    "mm_decode_real" ->
      """SELECT doc_id AS id, 'png' AS format,
        |       (16 + doc_id % 32)::INT AS width,
        |       (16 + (doc_id + 7) % 32)::INT AS height,
        |       1 AS n_frames
        |FROM documents""".stripMargin,

    // mm_embed: reproduce every 8×8 cell's luminance sum from the
    // synthetic-PNG pixel formula ((x*31 + y*17 + seed) & 0xffffff,
    // r/g/b unpacked) with pure integer arithmetic — PNG is lossless
    // and ImageIO round-trips TYPE_INT_RGB exactly, so the decoded
    // pixels ARE the formula's values.
    "mm_embed" ->
      """WITH d AS (SELECT doc_id, 16 + (doc_id % 4) * 8 AS w, 8 + (doc_id % 3) * 8 AS h
        |           FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
        |px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        |pv AS (SELECT doc_id, (y // (h // 8)) * 8 + (x // (w // 8)) AS cell,
        |              (x * 31 + y * 17 + doc_id) % 16777216 AS v
        |       FROM px)
        |SELECT doc_id, cell,
        |       sum(((v >> 16) & 255) + ((v >> 8) & 255) + (v & 255))::BIGINT AS lum
        |FROM pv GROUP BY 1, 2""".stripMargin,

    // dd_image_neardups: recompute both variants' aHash bits cell by
    // cell (bit = 64*cellsum > imagesum, integer compare) and count
    // disagreements — identical math to bit_count(ha XOR hb) without
    // packing, so the sign bit of a packed long never matters.
    "dd_image_neardups" ->
      """WITH d AS (SELECT doc_id,
        |                  CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 77777 END AS pert
        |           FROM documents),
        |v AS (SELECT doc_id, 0 AS variant, doc_id AS seed FROM d
        |      UNION ALL SELECT doc_id, 1, doc_id + pert FROM d),
        |xs AS (SELECT doc_id, variant, seed, unnest(generate_series(0, 31)) AS x FROM v),
        |px AS (SELECT doc_id, variant, seed, x, unnest(generate_series(0, 15)) AS y FROM xs),
        |sums AS (SELECT doc_id, variant, (y // 2) * 8 + (x // 4) AS cell,
        |                sum(((((x*31 + y*17 + seed) % 16777216) >> 16) & 255)
        |                  + ((((x*31 + y*17 + seed) % 16777216) >> 8) & 255)
        |                  + (((x*31 + y*17 + seed) % 16777216) & 255)) AS s
        |         FROM px GROUP BY 1, 2, 3),
        |bits AS (SELECT doc_id, variant, cell,
        |                CASE WHEN 64 * s > sum(s) OVER (PARTITION BY doc_id, variant)
        |                     THEN 1 ELSE 0 END AS bit
        |         FROM sums)
        |SELECT a.doc_id,
        |       sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)::INT AS hamming,
        |       sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 6 AS near_dup
        |FROM bits a JOIN bits b
        |  ON a.doc_id = b.doc_id AND a.cell = b.cell AND a.variant = 0 AND b.variant = 1
        |GROUP BY 1""".stripMargin)
    // dd_minhash_pairs included above
}
