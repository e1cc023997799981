package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for a 100-TB training-data pipeline:
  * deterministic hash sampling (stable under reruns and repartitioning —
  * the id-hash pattern production pipelines use instead of `Random` or
  * `sample()`, whose output depends on partition layout), per-source
  * caps (bounding any one domain's share of a crawl), and benchmark
  * decontamination (containment of a held-out eval set's shingles inside
  * corpus docs). All pure column programs with DuckDB oracles. */
object Curation {

  /** Deterministic stratified sampling: keep a row iff its md5 bucket
    * (0..9999, from the first 8 hex chars of md5(id)) falls below its
    * stratum's rate in basis points. Integer compare — engine-exact; a
    * given id is in or out of the sample forever, independent of
    * partitioning, ordering, or rerun (the property `df.sample()` does
    * NOT have). Narrow pass: zero shuffles.
    * Output: (id, stratum, bucket). */
  def hashSample(df: DataFrame, id: String, stratum: String,
      ratesBp: Seq[(String, Int)], defaultBp: Int): DataFrame = {
    val bucket = pmod(conv(substring(md5(col(id).cast("string")), 1, 8), 16, 10)
      .cast("long"), lit(10000L))
    val rate = ratesBp.foldRight(lit(defaultBp).cast("long")) { case ((k, v), acc) =>
      when(col("stratum") === k, lit(v.toLong)).otherwise(acc)
    }
    df.select(col(id), col(stratum).as("stratum"), bucket.as("bucket"))
      .where(col("bucket") < rate)
  }

  /** Deterministic QUOTA sampling: exactly `quota` rows per stratum
    * (or all of a smaller stratum), chosen as the `quota` smallest
    * md5(id) hashes — where [[hashSample]]'s rate produces BINOMIAL
    * stratum sizes, this produces exact ones (the "give me 10k eval
    * docs per language" ask). Same determinism property: a given id's
    * membership depends only on the ids present, never on partitioning
    * or rerun; growing a stratum can only evict the largest hashes
    * (bottom-k stability, the KMV property). The rank filter plans as
    * a WindowGroupLimit (per-partition top-k below the sort — no
    * stratum ever fully sorts). Ties on the 128-bit hash are broken by
    * id. Output: (id, stratum, rn 1..quota). */
  def quotaSample(df: DataFrame, id: String, stratum: String, quota: Int): DataFrame = {
    require(quota >= 1, "quotaSample: need quota >= 1")
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("__h").asc, col(id).asc)
    df.select(col(id), col(stratum).as("stratum"))
      .withColumn("__h", md5(col(id).cast("string")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= quota)
      .select(col(id), col("stratum"), col("rn"))
  }

  /** Temperature-scaled source mixing at T = 2 — the standard
    * multilingual/source rebalancing step of a pretraining mix: each
    * source's share of the `budget` is ∝ √count, so rare sources are
    * upsampled relative to their raw share and megasources can't drown
    * the mix. All arithmetic is engine-exact: weights are
    * ⌊√(count·10⁶)⌋ (IEEE sqrt is correctly rounded in any conformant
    * engine, and the floor collapses it to an integer), the allocation
    * is integral `div` — no float normalization sum whose order could
    * differ across engines. Selection within a source is the
    * deterministic bottom-quota by md5(id) (quotaSample's rerun-proof
    * property). Per-source work: one partial-agg count, a broadcast of
    * the source-sized quota table back, and ONE window whose
    * WindowGroupLimit is capped by the literal `budget` (the constant
    * bound lets Spark push the group limit below the sort; the
    * per-source quota then filters within it).
    * Output: (id, src, rn, quota), rn ≤ quota. */
  def temperatureMix(df: DataFrame, id: String, source: String, budget: Long): DataFrame = {
    require(budget >= 1 && budget <= Int.MaxValue,
      s"temperatureMix: budget must be in [1, 2^31), got $budget")
    val counts = df.groupBy(col(source).as("src")).agg(count(lit(1)).as("cnt"))
    val weights = counts.select(col("src"),
      floor(sqrt(col("cnt").cast("double") * lit(1000000.0))).cast("long").as("w"))
    val tot = weights.agg(sum(col("w")).as("tot_w"))
    val quotas = weights.crossJoin(broadcast(tot))
      .select(col("src"), expr(s"(w * ${budget}L) div tot_w").as("quota"))
    val wdw = Window.partitionBy(col("src"))
      .orderBy(col("__h").asc, col(id).asc)
    df.select(col(id), col(source).as("src"))
      .join(broadcast(quotas), "src")
      .withColumn("__h", md5(col(id).cast("string")))
      .withColumn("rn", row_number().over(wdw))
      .where(col("rn") <= lit(budget.toInt) && col("rn") <= col("quota"))
      .select(col(id), col("src"), col("rn"), col("quota"))
  }

  /** Deterministic negative sampling for contrastive training pairs:
    * for each (query, positive) row, emit `k` pseudo-random negatives
    *   neg_j = h(query_id, j) mod corpusSize,   h = first-8-hex md5
    * bumped by one (mod N) when it collides with the positive. Pure
    * column program — ONE narrow explode, zero shuffles, and the same
    * (query, j) always draws the same negative regardless of
    * partitioning or rerun (the hashSample property, which
    * `rand()`-based sampling lacks — resuming a 100-TB pair-gen job
    * must not reshuffle every epoch's negatives). The draw is with
    * replacement ACROSS j (two j's may collide — standard for in-batch
    * negative mining; dedup downstream if the loss needs it).
    *
    * Contract: ids in [0, corpusSize) and DENSE (the sampled id must
    * exist to join text back) — at scale that's the one-off dense-index
    * materialization every ANN/embedding stack already keeps; enforced
    * here only on the POSITIVE ids (in-plan raise_error rides the
    * explode — a sparse corpus shows up as an out-of-range positive the
    * first time it's used as one).
    * Output: (queryId, posId, neg_rank 0..k-1, neg_id). */
  def sampleNegatives(pairs: DataFrame, queryId: String, posId: String,
      corpusSize: Long, k: Int): DataFrame = {
    require(k >= 1, "sampleNegatives: need k >= 1")
    require(corpusSize >= 2,
      "sampleNegatives: corpusSize must be >= 2 (need a non-positive id to draw)")
    val posG = when(col(posId) < 0L || col(posId) >= corpusSize,
      raise_error(concat(lit(s"sampleNegatives: positive id outside [0, $corpusSize): "),
        col(posId).cast("string"))))
      .otherwise(col(posId))
    val h = pmod(conv(substring(
      md5(concat(col(queryId).cast("string"), lit(":"), col("neg_rank").cast("string"))),
      1, 8), 16, 10).cast("long"), lit(corpusSize))
    pairs
      .select(col(queryId), posG.as(posId),
        explode(sequence(lit(0), lit(k - 1))).as("neg_rank"))
      .withColumn("neg_id",
        when(h === col(posId), pmod(h + 1L, lit(corpusSize))).otherwise(h))
  }

  /** Per-group cap: the top `n` rows per group by (orderCol desc, id
    * asc) — the per-domain cap that stops any single source from
    * dominating a crawl-scale corpus. One shuffle on the group key; the
    * rank filter pushes a group-limit below the sort (Spark's
    * WindowGroupLimit), so no partition ever fully sorts.
    * Output: (id, group, orderCol, rank_in_group). */
  def capPerGroup(df: DataFrame, id: String, group: String, orderCol: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col(group)).orderBy(col(orderCol).desc, col(id).asc)
    df.select(col(id), col(group), col(orderCol))
      .withColumn("rank_in_group", row_number().over(w))
      .where(col("rank_in_group") <= n)
  }

  /** Deterministic train/val/test split assignment — the id-hash
    * companion to [[hashSample]]: the same md5 bucket (0..9999) cut into
    * [0, bpTrain) → train, [bpTrain, bpTrain+bpVal) → val, rest → test.
    * A document's split NEVER changes across reruns, repartitions, or
    * corpus growth (new ids land in splits at the configured rates;
    * existing ids stay put) — the property that keeps eval sets
    * uncontaminated across pipeline versions. Narrow pass, zero
    * shuffles. Output: (id, bucket, split). */
  def assignSplits(df: DataFrame, id: String,
      bpTrain: Int = 9800, bpVal: Int = 100): DataFrame = {
    require(bpTrain > 0 && bpVal >= 0 && bpTrain + bpVal <= 10000)
    val bucket = pmod(conv(substring(md5(col(id).cast("string")), 1, 8), 16, 10)
      .cast("long"), lit(10000L))
    df.select(col(id), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < bpTrain, "train")
          .when(col("bucket") < bpTrain + bpVal, "val")
          .otherwise("test"))
  }

  /** C4-style boilerplate LINE removal: a line occurring in more than
    * `maxDocFreq` distinct documents (nav bars, cookie banners,
    * copyright footers) is dropped from every document. Two-phase doc
    * frequency — distinct (line, id) partials absorb the within-doc
    * repeats before the per-line count — then a join against only the
    * FLAGGED lines (boilerplate is a tiny fraction of distinct lines, so
    * AQE broadcasts it at runtime; never force-hinted) and an ordered
    * per-doc reassembly. Documents whose every line was boilerplate
    * survive with empty clean_text — silently dropping rows is a dedup
    * decision, not a cleaning one.
    * Output: (id, clean_text, n_kept, n_dropped). */
  def removeBoilerplate(df: DataFrame, id: String, text: String,
      maxDocFreq: Long): DataFrame = {
    val lines = df.select(col(id),
      posexplode(split(col(text), "\n")).as(Seq("idx", "line")))
    val flagged = lines.select(col("line"), col(id)).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("doc_freq"))
      .where(col("doc_freq") > maxDocFreq)
      .select(col("line"))
    // ONE reassembly pass: a left join marks boilerplate lines in place
    // and a single per-doc aggregate derives kept text + both counts
    // (collect_list drops the nulled-out flagged entries). ReuseExchange
    // does NOT dedupe multi-branch scans, so a kept/totals branch pair
    // would re-read and re-explode the whole corpus — the doc-frequency
    // branch above is the only second pass over `lines`.
    lines.join(flagged.withColumn("__bp", lit(1)), Seq("line"), "left")
      .groupBy(col(id))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(
            when(col("__bp").isNull, struct(col("idx"), col("line"))))),
          s => s.getField("line"))).as("clean_text"),
        sum(when(col("__bp").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__bp").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
      .select(col(id), col("clean_text"), col("n_kept"), col("n_dropped"))
  }

  /** PII redaction: email / IPv4 / phone patterns replaced with typed
    * placeholders, plus per-type match counts (the audit trail a
    * compliance pass needs). Patterns are deliberately lookaround-free
    * so the exact same regexes run under Java (Spark) and RE2 (DuckDB
    * oracle); counts come from `regexp_extract_all` on the ORIGINAL
    * text. Purely narrow codegen'd column ops — zero shuffles.
    * Output: (id, redacted, n_emails, n_ips, n_phones). */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pat = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  def redactPii(df: DataFrame, id: String, text: String): DataFrame = {
    // email first (it may contain digit runs), then IP (dots), then
    // phone (dashes) — each later pattern cannot match inside an
    // earlier placeholder
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(col(text), EmailPat, "[EMAIL]"),
          Ipv4Pat, "[IP]"),
        PhonePat, "[PHONE]")
    df.select(col(id),
      redacted.as("redacted"),
      size(regexp_extract_all(col(text), lit(EmailPat), lit(0))).as("n_emails"),
      size(regexp_extract_all(col(text), lit(Ipv4Pat), lit(0))).as("n_ips"),
      size(regexp_extract_all(col(text), lit(PhonePat), lit(0))).as("n_phones"))
  }

  /** Fuzzy decontamination at CROSS-CORPUS scale: MinHash-LSH banding on
    * BOTH sides instead of [[decontaminate]]'s broadcast shingle join —
    * the shape for a "benchmark" side too big to broadcast (train/train
    * overlap across sources, a leaked pretraining shard, another crawl).
    * Candidates come from an equi-join on (band, bucket) — each side is
    * shuffled once on its band keys, never replicated — and are verified
    * from the SIGNATURES ALREADY IN HAND: the fraction of agreeing
    * minhash positions is the standard unbiased Jaccard estimate, so no
    * second pass over either corpus's shingles is needed (at 100 TB the
    * re-shingling join IS the bill; `decontaminate` keeps the exact
    * containment path for broadcastable eval sets). Both signature
    * tables are materialized ([[Layout.materialize]]) because the
    * banding path and the verify join of the returned plan both consume
    * them and Catalyst would otherwise recompute the fingerprinting scan
    * per consumer, and a persist here could never be released; a
    * production deployment keeps them as on-disk index tables instead
    * (the `ir_index_build` / `st_delta_pairs` pattern). Bench-side mega
    * buckets (boilerplate collapse) are capped + observed like
    * `Dedup.candidatePairs`; a capped-bucket doc can still match through
    * its other bands. Estimate in exact integer ppm.
    * Output: (id, bench_id, n_agree, est_jaccard_ppm). */
  def fuzzyDecontaminate(corpus: DataFrame, bench: DataFrame, id: String, text: String,
      nHashes: Int = 8, shingleN: Int = 8, rowsPerBand: Int = 4,
      minJaccardPpm: Long = 500000L, maxBucketSize: Long = 100000L,
      metricName: String = "fuzzy_decon_buckets"): DataFrame = {
    require(nHashes % rowsPerBand == 0,
      s"fuzzyDecontaminate: nHashes ($nHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val csig = Layout.materialize(Dedup.minhashShingles(corpus, id, text, nHashes, shingleN))
    val bsig = Layout.materialize(Dedup.minhashShingles(bench, id, text, nHashes, shingleN)
      .withColumnRenamed(id, "bench_id"))
    // BOTH sides are capped + observed: a boilerplate-collapsed mega
    // bucket on the corpus side would otherwise fan out
    // corpus_bucket × bench_bucket candidate rows unboundedly (r5
    // ADVICE) — the 100-TB cross-corpus framing needs the quadratic
    // guard on each side, each under its own metric name
    val cb = Dedup.cappedBuckets(Dedup.minhashBands(csig, id, rowsPerBand),
      Seq("band", "bucket"), maxBucketSize, metricName + "_corpus")
    val bb = Dedup.cappedBuckets(Dedup.minhashBands(bsig, "bench_id", rowsPerBand),
      Seq("band", "bucket"), maxBucketSize, metricName)
    val cands = cb.join(bb, Seq("band", "bucket"))
      .select(col(id), col("bench_id")).distinct()
    cands
      .join(csig, Seq(id))
      .join(bsig.withColumnRenamed("minhash", "bench_minhash"), Seq("bench_id", "seed"))
      .groupBy(col(id), col("bench_id"))
      .agg(sum(when(col("minhash") === col("bench_minhash"), 1L).otherwise(0L)).as("n_agree"))
      .select(col(id), col("bench_id"), col("n_agree"),
        floor(col("n_agree") * lit(1000000L) / lit(nHashes.toLong)).cast("long").as("est_jaccard_ppm"))
      .where(col("est_jaccard_ppm") >= minJaccardPpm)
  }

  /** Benchmark decontamination: char-n-gram containment of each
    * benchmark doc's shingle set inside corpus docs —
    * |shingles(c) ∩ shingles(b)| / |shingles(b)| ≥ threshold flags doc c
    * as contaminated by benchmark doc b. The benchmark side is broadcast
    * (eval sets are tiny next to a 100-TB corpus), so the corpus is
    * never shuffled for the join, and the shingle tables deduplicate
    * per-row (narrow `array_distinct` inside `charShingles`, no global
    * distinct shuffle) — the per-pair count aggregation is the only
    * corpus-sized shuffle. Output: (id, bench_id, n_shared, containment). */
  def decontaminate(corpus: DataFrame, bench: DataFrame, id: String, text: String,
      n: Int, minContainment: Double): DataFrame = {
    // the join carries Dedup.unitKey, so the broadcast side shrinks too
    val cs = Dedup.charShingles(corpus, id, text, n)
      .select(col(id), Dedup.unitKey(col("shingle")).as("shingle"))
    val bs = Dedup.charShingles(bench, id, text, n)
      .select(col(id).as("bench_id"), Dedup.unitKey(col("shingle")).as("shingle"))
    val bsz = bs.groupBy(col("bench_id")).agg(count(lit(1)).as("bn"))
    cs.join(broadcast(bs), Seq("shingle"))
      .groupBy(col(id), col("bench_id")).agg(count(lit(1)).as("n_shared"))
      .join(broadcast(bsz), Seq("bench_id"))
      .select(col(id), col("bench_id"), col("n_shared"),
        round(col("n_shared") / col("bn"), 4).as("containment"))
      .where(col("containment") >= minContainment)
  }
}
