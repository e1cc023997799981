package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
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
    * Shape is the scale path, never all-pairs: char-4 shingle MinHash
    * (narrow single-pass kernel, zero shuffle) → banded buckets →
    * candidate pairs → exact-Jaccard verification ≥ `minJaccard`. The
    * threshold is deliberately high (0.7): on the planted vocabularies the
    * closest DISTINCT pair ("convolutional..." vs "recurrent neural
    * network") sits at 0.375 while a plural variant sits at 0.958 — and
    * crucially the two CNN expansions ("cable news network", 0.24) can
    * never merge through it. Acronyms are excluded (too short for shingle
    * similarity; their linking is the initials+context machinery above).
    *
    * Input: any DataFrame with an `entity_key` column (concept keys).
    * Output: (key_a, key_b) with key_a < key_b. */
  def nameSimilarityEdges(keys: DataFrame, shingleN: Int = 4,
      nHashes: Int = 8, rowsPerBand: Int = 2, minJaccard: Double = 0.7): DataFrame = {
    import graft.ops.Dedup
    val named = keys.select(col("entity_key")).distinct()
    val sigs = Dedup.minhashShingles(named, "entity_key", "entity_key", nHashes, shingleN)
    // distinct metric name: this candidate pass may share a plan with a
    // dedup-side candidatePairs, and observed-metric names must be
    // unique per query
    val pairs = Dedup.candidatePairs(Dedup.minhashBands(sigs, "entity_key", rowsPerBand),
      "entity_key", metricName = "namesim_buckets")
    val sh = Dedup.charShingles(named, "entity_key", "entity_key", shingleN)
      .withColumnRenamed("shingle", "token")
    Dedup.jaccardVerify(pairs, sh, "entity_key")
      .where(col("jaccard") >= minJaccard)
      .select(col("id1").as("key_a"), col("id2").as("key_b"))
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
