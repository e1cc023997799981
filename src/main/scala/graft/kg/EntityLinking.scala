package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import org.apache.commons.codec.digest.DigestUtils
import graft.kg.Schema.{LinkedMention, Triple}

/** Entity linking (north_star: "alias-table + context-similarity entity
  * linking"):
  *
  *  1. Alias discovery — within a url, acronym A pairs with phrase P when
  *     initials(P) == A (urlMentions).
  *  2. Ambiguity split — an acronym whose global pair set holds MORE than
  *     one expansion ("CNN" → convolutional neural network / cable news
  *     network) must NOT become a global alias edge: connected components
  *     would wrongly unify both expansions through the shared acronym.
  *  3. Context-similarity resolution — each ambiguous acronym mention is
  *     resolved per url: candidates are scored by keyword overlap between
  *     the url's extracted keywords and the candidate expansion's global
  *     keyword profile (top keywords of urls that literally mention the
  *     expansion), with a local-co-occurrence bonus (the url containing
  *     the expansion itself decides instantly); ties break
  *     lexicographically. Deterministic.
  *
  * Shuffle shape: one url pass, SparkER's block-by-block resolution with
  * the url as the block. The `mentionsEntity` and `hasKeyword` triples
  * are each read once — a Column filter on `pred` pushed into the
  * parquet scan, never reading `context`, the bulk of a triple row — and
  * their slim projection is shuffled by url once. Each url's block
  * derives its alias pairs, concept keys, mention groups and keyword
  * list, and is persisted: both outputs read it. The only global steps
  * are entity-vocabulary-sized: the ambiguity split and the top-20
  * expansion profiles, joined into one candidate row per ambiguous
  * acronym. They join back with no hint, so AQE broadcasts them at
  * runtime (at 10^12 pages the vocabulary tables can outgrow driver
  * memory, and a forced hint OOMs where AQE degrades to a shuffled
  * join), and the pick then runs inside each url's block with no
  * further exchange. An input with no ambiguous acronym takes the same
  * path and keeps every mention under its own key.
  */
object EntityLinking {

  /** Acronym candidate of a phrase: first letter of each word, uppercased.
    * Word split is Python `str.split()` (Py.split — any whitespace incl.
    * NBSP that survives raw text), consistent with the Py.* semantics used
    * everywhere else. */
  def initialsOf(phrase: String): String =
    Py.split(phrase).map(w => Character.toUpperCase(w.charAt(0))).mkString

  /** MinHash-LSH blocking over entity NAMES (north_star: "canonicalization
    * via MinHash-LSH blocking plus iterative DataFrame connected-
    * components"): near-identical concept surface forms (plural/singular,
    * trailing punctuation, small typos) become alias edges for the CC.
    *
    * Shape is the scale path, never all-pairs, and it is ONE bucket pass
    * (SparkER's block-by-block candidate generation and verification): a
    * narrow UDF computes each distinct key's band buckets, one
    * `groupBy(band, bucket)` gathers the blocks, and each block emits and
    * verifies its own pairs; a final `distinct` drops pairs several
    * blocks share. No join: the pairwise self-join and the two verify
    * joins of a generic candidate/verify composition cost 9 jobs per
    * streaming fold for ~30 keys.
    *
    * Definitions are those of `Dedup.minhashShingles` + `minhashBands` +
    * `candidatePairs` + `jaccardVerify`, so the edge set is theirs:
    *  - signature: `Dedup.minhashKernel` (MinhashP/A/B over distinct
    *    UTF-16 char-`shingleN` shingles, null read as "");
    *  - bucket of band b: md5 hex of the `:`-joined minhashes of seeds
    *    `[b·rowsPerBand, (b+1)·rowsPerBand)` in seed order;
    *  - a block larger than 100,000 keys (candidatePairs' cap) is
    *    dropped, and the `namesim_buckets` observe reports
    *    `capped_buckets` and `max_bucket` so the cap is never silent (a
    *    null key counts in its block but pairs with nothing, as before);
    *  - verification is exact char-`shingleN` shingle Jaccard in code
    *    points (`Dedup.charShingles`: a key of at most `shingleN` code
    *    points is one shingle), `round(inter / union, 4)` HALF_UP
    *    ≥ `minJaccard`. The composition carried xxhash64 proxies of the
    *    shingles, so the two differ only on a 64-bit hash collision.
    *
    * Each block's keys are collected into one row, an over-cap block's
    * too before the filter drops it: the keys are distinct concept names
    * (vocabulary-sized), so the largest row is one list of names.
    *
    * The threshold is deliberately high (0.7): on the planted
    * vocabularies the closest DISTINCT pair ("convolutional..." vs
    * "recurrent neural network") sits at 0.375 while a plural variant
    * sits at 0.958 — and crucially the two CNN expansions ("cable news
    * network", 0.24) can never merge through it. Acronyms are excluded
    * (too short for shingle similarity; their linking is the
    * initials+context machinery above).
    *
    * Input: any DataFrame with an `entity_key` column (concept keys).
    * Output: distinct (key_a, key_b) with key_a < key_b in Spark's binary
    * string order. */
  def nameSimilarityEdges(keys: DataFrame, shingleN: Int = 4,
      nHashes: Int = 8, rowsPerBand: Int = 2, minJaccard: Double = 0.7): DataFrame = {
    val maxBucketSize = 100000L
    val sig = graft.ops.Dedup.minhashKernel(nHashes, shingleN)
    val bandsOf = udf((key: String) =>
      sig(key).grouped(rowsPerBand).zipWithIndex
        .map { case (band, b) => (b, DigestUtils.md5Hex(band.mkString(":"))) }.toSeq)
    val verified = udf { (members: Seq[String]) =>
      val ks = members.toArray
      val sh = ks.map(codePointShingles(_, shingleN))
      val out = Seq.newBuilder[(String, String)]
      for (i <- ks.indices; j <- i + 1 until ks.length) {
        val inter = sh(i).count(sh(j).contains)
        val jaccard = java.math.BigDecimal.valueOf(inter.toDouble / (sh(i).size + sh(j).size - inter))
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
        if (jaccard >= minJaccard)
          out += (if (UTF8String.fromString(ks(i)).compareTo(UTF8String.fromString(ks(j))) < 0)
            (ks(i), ks(j)) else (ks(j), ks(i)))
      }
      out.result()
    }
    keys.select(col("entity_key")).distinct()
      .select(col("entity_key"), explode(bandsOf(col("entity_key"))).as("b"))
      .groupBy(col("b._1").as("band"), col("b._2").as("bucket"))
      .agg(count(lit(1)).as("bucket_n"), collect_list(col("entity_key")).as("members"))
      .observe("namesim_buckets",
        sum(when(col("bucket_n") > maxBucketSize, 1L).otherwise(0L)).as("capped_buckets"),
        max(col("bucket_n")).as("max_bucket"))
      .where(col("bucket_n") > 1 && col("bucket_n") <= maxBucketSize)
      .select(explode(verified(col("members"))).as("p"))
      .select(col("p._1").as("key_a"), col("p._2").as("key_b"))
      .distinct()
  }

  /** Distinct char n-gram shingles in CODE POINTS, as `Dedup.charShingles`
    * computes them with Spark's `length`/`substring`: one per start
    * offset, and the whole key when it is at most n code points. */
  private def codePointShingles(key: String, n: Int): Set[String] = {
    val cps = key.codePoints().toArray
    if (cps.length <= n) Set(key)
    else (0 to cps.length - n).iterator.map(i => new String(cps, i, n)).toSet
  }

  /** The global ambiguity split: every distinct (acr_key, exp_key) pair
    * with its acronym's expansion count `n_exp` — vocabulary-sized. An
    * acronym with one expansion is an alias edge; one with more is
    * ambiguous. One shuffle: the per-acronym expansion set combines
    * map-side, so a hot acronym never loads a single reducer. */
  def splitAmbiguity(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("acr_key")).agg(collect_set(col("exp_key")).as("exps"))
      .select(col("acr_key"), explode(col("exps")).as("exp_key"),
        size(col("exps")).as("n_exp"))

  /** An expansion's global keyword profile: the top-20 keywords by url
    * count (ties in Spark's string order, a null keyword first) across
    * the urls that mention the expansion phrase. Input rows are one url's
    * keyword list each (duplicates counted; a null list is skipped).
    * Combines map-side: a partial buffer holds keyword counts, so a hot
    * expansion's reducer merges one buffer per map partition. */
  private object ExpansionProfile extends Aggregator[Seq[String], Map[String, Long], Seq[String]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], kws: Seq[String]): Map[String, Long] =
      if (kws == null) b else kws.foldLeft(b)((acc, k) => acc.updated(k, acc.getOrElse(k, 0L) + 1))
    def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] =
      y.foldLeft(x) { case (acc, (k, n)) => acc.updated(k, acc.getOrElse(k, 0L) + n) }
    private def before(a: (String, Long), b: (String, Long)): Boolean =
      if (a._2 != b._2) a._2 > b._2
      else if (a._1 == null || b._1 == null) a._1 == null && b._1 != null
      else UTF8String.fromString(a._1).compareTo(UTF8String.fromString(b._1)) < 0
    def finish(b: Map[String, Long]): Seq[String] = b.toSeq.sortWith(before).take(20).map(_._1)
    // kryo: a keyword may be null, which a Spark map key may not
    def bufferEncoder: Encoder[Map[String, Long]] = Encoders.kryo[Map[String, Long]]
    def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder[Seq[String]]()
  }

  private val expansionProfile = udaf(ExpansionProfile)

  /** One url's mentions with one `(entity_key, surface)`: an ambiguous
    * acronym group resolves to ONE row (its first), any other group
    * keeps every row. */
  final case class MentionRow(kind: String, weight: java.lang.Integer)
  final case class MentionGroup(entity_key: String, surface: String, rows: Seq[MentionRow])
  final case class AliasPair(acr_key: String, exp_key: String)
  /** What resolve derives from one url's mentions: its alias pairs, its
    * distinct concept keys and its mention groups. */
  final case class UrlMentions(pairs: Seq[AliasPair], concepts: Seq[String],
      groups: Seq[MentionGroup])

  /** Alias discovery and grouping over one url's mentions `(obj,
    * surface, kind, weight)`: acronym A pairs with phrase P of the same
    * url when initials(P) == A; keys are `Py.lower`ed (Locale.ROOT, never
    * Spark's `lower`, whose non-ASCII path follows the JVM default
    * locale). A group's rows are sorted, so its first is deterministic. */
  def urlMentions(ms: Seq[Row]): UrlMentions = {
    def of(kind: String) = ms.filter(_.getString(2) == kind).map(_.getString(0)).distinct
    val pairs = for {
      a <- of("acronym")
      p <- of("concept")
      if initialsOf(p) == a
    } yield AliasPair(Py.lower(a), Py.lower(p))
    val groups = ms.groupBy(m => (Py.lower(m.getString(0)), m.getString(1))).toSeq
      .map { case ((key, surface), rows) =>
        MentionGroup(key, surface, rows
          .map(m => MentionRow(m.getString(2), m.getAs[java.lang.Integer](3)))
          .sortBy(r => (Option(r.kind), Option(r.weight).map(_.intValue)))) }
    UrlMentions(pairs, of("concept").map(Py.lower).distinct, groups)
  }

  private val urlMentionsUdf = udf(urlMentions _)

  /** resolve's outputs plus the exact DataFrames it persisted, so the
    * caller can `unpersist()` precisely those after checkpointing —
    * never a session-wide `clearCache()` that would wipe unrelated
    * caches a co-resident caller (Bench/Verify) holds. */
  final case class Resolved(
      aliasEdges: DataFrame,
      linked: Dataset[LinkedMention],
      cached: Seq[DataFrame]) {
    def unpersistCached(): Unit = cached.foreach(_.unpersist(false))
  }

  /** Resolve every mention to an entity key: non-acronym mentions and
    * unambiguous acronyms keep their own key (CC merges the latter via
    * alias edges); ambiguous acronyms are resolved per url. */
  def resolve(spark: SparkSession, triples: Dataset[Triple]): Resolved = {
    import spark.implicits._
    // the url pass: one scan per pred, one shuffle by url. Each url
    // block holds its alias pairs, concept keys, mention groups and
    // keyword list. Both outputs read it (three times and once), so it
    // is persisted.
    val mentions = triples.where(col("pred") === "mentionsEntity")
      .select(col("url"),
        struct(col("obj"), col("surface"), col("kind"), col("weight")).as("m"),
        lit(null).cast("struct<kw:string>").as("k"))
    val keywords = triples.where(col("pred") === "hasKeyword")
      .select(col("url"), lit(null).cast(mentions.schema("m").dataType).as("m"),
        struct(col("obj").as("kw")).as("k"))
    val block = mentions.union(keywords)
      .groupBy(col("url"))
      .agg(collect_list(col("m")).as("ms"), collect_list(col("k")).as("ks"))
      .select(col("url"), urlMentionsUdf(col("ms")).as("b"), col("ks.kw").as("kws"))
      .select(col("url"), col("b.pairs").as("pairs"), col("b.concepts").as("concepts"),
        col("b.groups").as("groups"), col("kws"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialized here, in one job: planned over the cache's real size,
    // the pick below broadcasts the vocabulary tables when they are small
    // instead of shuffling the mentions to join them, and neither output
    // query materializes the cache again per scan of it
    block.foreachPartition((_: Iterator[Row]) => ())

    // the vocabulary-sized global steps. No forced broadcast hints
    // anywhere in linking: these tables are usually small, but at 10^12
    // pages "usually" is not a guarantee — a forced hint OOMs when it's
    // wrong, while AQE promotes small sides to broadcast at runtime from
    // observed sizes and degrades to a shuffled join otherwise.
    val split = splitAmbiguity(block.select(explode(col("pairs")).as("p"))
      .select(col("p.acr_key").as("acr_key"), col("p.exp_key").as("exp_key")))
    val unambiguous = split.where(col("n_exp") === 1)
      .select(col("acr_key").as("key_a"), col("exp_key").as("key_b"))
    val ambiguous = split.where(col("n_exp") > 1)
      .select(col("acr_key"), col("exp_key"))
    // each ambiguous acronym with its candidate expansions and their
    // profiles, grouped over a union rather than joined: a join's size
    // estimate is the product of its sides', which would keep the pick
    // below from broadcasting this vocabulary-sized table
    val expConcepts = block.select(explode(col("concepts")).as("exp_key"), col("kws"))
      .join(ambiguous, Seq("exp_key"), "left_semi")
    val cands = ambiguous.select(col("exp_key"), col("acr_key"), lit(null).cast("array<string>").as("kws"))
      .union(expConcepts.select(col("exp_key"), lit(null).cast("string").as("acr_key"), col("kws")))
      .groupBy(col("exp_key"))
      .agg(collect_set(col("acr_key")).as("acrs"), expansionProfile(col("kws")).as("profile"))
      .select(explode(col("acrs")).as("acr_key"),
        struct(col("exp_key"), col("profile")).as("cand"))
      .groupBy(col("acr_key")).agg(collect_list(col("cand")).as("cands"))

    // the pick, inside each url's block: score = |url keywords ∩
    // profile| + 1e6 when the url itself pairs the acronym with the
    // expansion; the least (-score, exp_key) wins
    val scored = transform(col("cands"), c => named_struct(
      lit("s"), -(size(filter(col("kws"), k => array_contains(c("profile"), k))) +
        when(exists(col("pairs"), p => p("acr_key") === col("g.entity_key") &&
          p("exp_key") === c("exp_key")), 1000000L).otherwise(0L)),
      lit("e"), c("exp_key")))
    val linked = block
      .select(explode(col("groups")).as("g"), col("url"), col("kws"), col("pairs"))
      .join(cands, col("g.entity_key") === col("acr_key"), "left")
      .select(col("url"),
        coalesce(array_min(scored)("e"), col("g.entity_key")).as("entity_key"),
        col("g.surface").as("surface"),
        explode(when(col("cands").isNull, col("g.rows"))
          .otherwise(slice(col("g.rows"), 1, 1))).as("r"))
      .select(col("url"), lit("mentionsEntity").as("pred"), col("entity_key"),
        col("surface"), col("r.kind").as("kind"), col("r.weight").as("weight"))

    Resolved(unambiguous, linked.as[LinkedMention], Seq(block))
  }
}
