package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import org.apache.commons.codec.digest.DigestUtils
import graft.kg.Schema.{LinkedMention, Triple}

/** Entity linking (north_star: "alias-table + context-similarity entity
  * linking"):
  *
  *  1. Alias discovery — within a url, acronym A pairs with phrase P when
  *     initials(P) == A (urlAliasPairs).
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
  * Shuffle shape: every read of the triples is a Column filter on `pred`
  * (and `kind`) plus a projection, so parquet pushes the filter into the
  * scan and never reads `context`, the bulk of a triple row; keys are
  * lowered after projection. The ambiguity split is computed ONCE per
  * resolve and persisted — both outputs read it. Profiles, the split and
  * candidate tables are entity-vocabulary-sized — small enough that AQE
  * promotes them to broadcast at runtime; no FORCED broadcast hints (at
  * 10^12 pages the vocabulary tables can outgrow driver memory, and a
  * wrong hint OOMs where AQE degrades to a shuffled join). Only the
  * url-keyword join necessarily shuffles, keyed by url (the natural
  * partitioning).
  */
object EntityLinking {

  /** Python `str.lower()` over a column: the Scala kernel (Locale.ROOT),
    * never Spark's `lower`, whose non-ASCII path follows the JVM default
    * locale. */
  private val pyLower = udf((s: String) => Py.lower(s))

  /** Acronym candidate of a phrase: first letter of each word, uppercased.
    * Word split is Python `str.split()` (Py.split — any whitespace incl.
    * NBSP that survives raw text), consistent with the Py.* semantics used
    * everywhere else. */
  def initialsOf(phrase: String): String =
    Py.split(phrase).map(w => Character.toUpperCase(w.charAt(0))).mkString

  /** Per-url (acr_key, exp_key) candidate pairs — NOT distinct'd, the
    * per-url grain carries the local-co-occurrence signal. */
  def urlAliasPairs(spark: SparkSession, triples: Dataset[Triple]): DataFrame = {
    import spark.implicits._
    val ents = triples
      .where(col("pred") === "mentionsEntity" && col("kind").isin("acronym", "concept"))
      .select(col("url"), col("obj"), col("kind"))
      .as[(String, String, String)]
    ents.groupByKey(_._1)
      .flatMapGroups { (url, it) =>
        val ms = it.toVector
        val acronyms = ms.filter(_._3 == "acronym").map(_._2).distinct
        val phrases = ms.filter(_._3 == "concept").map(_._2).distinct
        for {
          a <- acronyms
          p <- phrases
          if initialsOf(p) == a
        } yield (url, Py.lower(a), Py.lower(p))
      }
      .toDF("url", "acr_key", "exp_key")
  }

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

  /** Global keyword profile per expansion: top-20 keywords (by url count,
    * ties lexicographic) across urls that mention the expansion phrase.
    * `mentions` is resolve's lowered mention projection, `urlKw` its
    * (url, kw) keyword projection. */
  def expansionProfiles(mentions: DataFrame, urlKw: DataFrame, expansions: DataFrame): DataFrame = {
    val expMentions = mentions
      .where(col("kind") === "concept")
      .select(col("url"), col("entity_key").as("exp_key"))
      .join(expansions, Seq("exp_key"), "left_semi")
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("exp_key")).orderBy(col("n").desc, col("kw").asc)
    expMentions.join(urlKw, Seq("url"))
      .groupBy(col("exp_key"), col("kw")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 20)
      .select(col("exp_key"), col("kw"))
  }

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
    // both returned plans (alias edges AND resolved mentions) read the
    // ambiguity split, and the resolved mentions also read the per-url
    // pairs (local bonus). Both are persisted and the isEmpty probe
    // below materializes them, so the caller's two stage writes (run
    // concurrently in Pipeline.run) compute neither again. `cached`
    // lists the split first: it is the cache that depends on pairs.
    val pairs = urlAliasPairs(spark, triples).persist(StorageLevel.MEMORY_AND_DISK)
    val split = splitAmbiguity(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    val cached = Seq(split, pairs)
    val unambiguous = split.where(col("n_exp") === 1)
      .select(col("acr_key").as("key_a"), col("exp_key").as("key_b"))
    val ambiguous = split.where(col("n_exp") > 1)
      .select(col("acr_key"), col("exp_key"))
    val mentions = triples
      .where(col("pred") === "mentionsEntity")
      .select(col("url"), col("pred"), pyLower(col("obj")).as("entity_key"),
        col("surface"), col("kind"), col("weight"))

    if (ambiguous.isEmpty) return Resolved(unambiguous, mentions.as[LinkedMention], cached)

    val urlKw = triples.where(col("pred") === "hasKeyword")
      .select(col("url"), col("obj").as("kw"))
    val profiles = expansionProfiles(mentions, urlKw, ambiguous)

    // candidate grid: every ambiguous-acronym mention × its expansions.
    // No forced broadcast hints anywhere in linking: the ambiguous/profile
    // tables are usually vocabulary-sized, but at 10^12 pages "usually"
    // is not a guarantee — a forced hint OOMs when it's wrong, while AQE
    // promotes small sides to broadcast at runtime from observed sizes.
    val grid = mentions.join(ambiguous, col("entity_key") === col("acr_key"))

    // context score: |url keywords ∩ expansion profile|
    val overlap = urlKw
      .join(profiles, Seq("kw"))
      .groupBy(col("url"), col("exp_key")).agg(count(lit(1)).as("ctx_score"))

    // local bonus: the url itself contains this expansion phrase
    val localPairs = pairs.select(col("url"), col("acr_key"), col("exp_key"))
      .distinct().withColumn("local", lit(1000000L))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url"), col("acr_key"), col("surface"))
      .orderBy(col("score").desc, col("exp_key").asc)
    val resolved = grid
      .join(overlap, Seq("url", "exp_key"), "left")
      .join(localPairs, Seq("url", "acr_key", "exp_key"), "left")
      .withColumn("score", coalesce(col("ctx_score"), lit(0L)) + coalesce(col("local"), lit(0L)))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("url"), col("pred"), col("exp_key").as("entity_key"),
        col("surface"), col("kind"), col("weight"))

    val untouched = mentions.join(ambiguous, col("entity_key") === col("acr_key"), "left_anti")

    Resolved(unambiguous, untouched.unionByName(resolved).as[LinkedMention], cached)
  }
}
