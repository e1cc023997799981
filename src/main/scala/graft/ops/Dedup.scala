package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH (shingle→minhash→band→bucket join),
  * SimHash (bit-majority fingerprints + banded hamming join), and n-gram
  * Jaccard verification.
  *
  * All hash primitives derive from md5 so results are reproducible in
  * any engine (the DuckDB oracle recomputes them exactly); MinHash uses
  * ONE md5 per unit with k universal-hash mixes (MinhashP/A/B) rather
  * than k md5s. The set operators are codegen'd `functions._` — no UDFs
  * in any shuffle path — so whole-stage codegen spans the full plan and
  * Catalyst can push/prune freely; the per-row fingerprint kernels
  * (simhashShingles/minhashShingles) are narrow single-pass loops.
  *
  * Pair finding has one home here: the capped bucket gate, the proxy
  * key of every postings join ([[unitKey]]), and the Jaccard and
  * containment operators; `Similarity`, `Curation` and the queries
  * compose them instead of restating them.
  *
  * Scale notes: the only shuffles are the per-doc token dedup (narrow
  * after a doc-id repartition), the band-bucket self-join (bounded: bucket
  * sizes are tiny under uniform hashing; AQE skew-join covers adversarial
  * buckets), and the candidate-pair verification join (candidates only —
  * never all-pairs). At 100 TB the postings all-pairs Jaccard
  * (`jaccardFromUnits`) is for small blocks only; LSH is the scale path.
  */
object Dedup {

  /** Exact-duplicate groups: md5 over raw text, keep groups of ≥2.
    * Output: (text_md5, n_docs, min_id) — min_id is the canonical
    * representative (first by id). */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.select(md5(col(text)).as("text_md5"), col(id))
      .groupBy(col("text_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col(id)).as("min_id"))
      .where(col("n_docs") >= 2)

  /** Universal-hash MinHash scheme, shared by every formulation and every
    * DuckDB oracle: each unit is md5'd ONCE (the sole expensive hash);
    * x = its first 8 hex chars as an unsigned 32-bit int, and hash k is
    * the LCG mix (a_k·(x mod p) + b_k) mod p with p = 2^31−1. One md5 +
    * k multiply-adds per unit instead of k md5s (8-16× less hashing —
    * at 100 TB fingerprinting cost IS the dedup bill). All values stay
    * below 2^62, so the arithmetic is exact in any engine's int64. */
  final val MinhashP: Long = 2147483647L // 2^31 - 1
  def minhashA(seed: Int): Long = (1103515245L * (seed + 1) + 12345L) % MinhashP
  def minhashB(seed: Int): Long = (69069L * (seed + 1) + 362437L) % MinhashP

  /** MinHash over any (id, unit) row set. All nHashes hashes are computed
    * per unit into ONE array row and reduced with an elementwise-min
    * array aggregate — the shuffle carries one array row per unit, not
    * nHashes rows (8-16× fewer). Output is still (id, seed, minhash). */
  def minhashOver(units: DataFrame, id: String, unit: String, nHashes: Int): DataFrame = {
    val p = lit(MinhashP)
    val x = pmod(conv(substring(md5(col(unit)), 1, 8), 16, 10).cast("long"), p)
    val hashes = transform(sequence(lit(0), lit(nHashes - 1)),
      s => pmod(pmod(lit(1103515245L) * (s + 1) + lit(12345L), p) * x +
        pmod(lit(69069L) * (s + 1) + lit(362437L), p), p))
    units
      .select(col(id), hashes.as("hs"))
      .groupBy(col(id))
      .agg(aggregate(
        collect_list(col("hs")),
        array_repeat(lit(Long.MaxValue), nHashes),
        (acc, h) => zip_with(acc, h, (a, b) => least(a, b))).as("sig"))
      .select(col(id), posexplode(col("sig")).as(Seq("seed", "minhash")))
  }

  /** LSH band keys: rows-per-band of `rowsPerBand` consecutive minhashes,
    * band bucket = md5 of their ':'-joined concatenation in seed order. */
  def minhashBands(sigs: DataFrame, id: String, rowsPerBand: Int = 4): DataFrame =
    sigs
      .withColumn("band", (col("seed") / rowsPerBand).cast("int"))
      .groupBy(col(id), col("band"))
      .agg(md5(concat_ws(":",
        transform(array_sort(collect_list(struct(col("seed"), col("minhash")))),
          x => x.getField("minhash").cast("string")))).as("bucket"))

  /** THE shared capped+observed bucket gate for every banded self/cross
    * join ([[candidatePairs]], and through it `Similarity.annTopK` and
    * `cosineNearDups`; [[metaBlocking]], [[deltaCandidatePairs]],
    * [[simhashPairs]], `Curation.fuzzyDecontaminate`) — one definition so
    * the cap/observe semantics can't drift (`EntityLinking`'s name blocking
    * gates in its member-collecting pass): (key…) groups larger than
    * `maxBucketSize` are dropped BEFORE any join; dropped-bucket count and
    * the max observed size surface as the `metricName` observe metric so
    * the cap is never silent. Sizes come from a partial-aggregated groupBy
    * joined back — deliberately NOT a window count: a window over the keys
    * must SORT each bucket in one un-splittable task, so the adversarial
    * mega-bucket this cap exists for would become a straggler before the
    * filter could drop it, and AQE cannot split a Window partition; the
    * groupBy's map-side partials keep the mega-bucket's reducer input at
    * one row per distinct key. Returns the rows of `bands` in surviving
    * buckets. */
  private[ops] def cappedBuckets(bands: DataFrame, keys: Seq[String],
      maxBucketSize: Long, metricName: String): DataFrame =
    bands.join(bands
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .observe(metricName,
        sum(when(col("bucket_n") > maxBucketSize, 1L).otherwise(0L)).as("capped_buckets"),
        max(col("bucket_n")).as("max_bucket"))
      .where(col("bucket_n") <= maxBucketSize)
      .select(keys.map(col): _*), keys)

  /** The capped (band, bucket) self-join shared by [[candidatePairs]] and
    * [[metaBlocking]]: the [[cappedBuckets]] gate, then both join
    * branches project the SAME `inBuckets` plan (identical subtrees — the
    * exchange is reusable). Returns one (id1, id2) row, id1 < id2, per
    * shared bucket — NOT distinct: a pair sharing b buckets appears b
    * times. */
  private def bucketPairs(bands: DataFrame, id: String,
      maxBucketSize: Long, metricName: String): DataFrame = {
    val inBuckets = cappedBuckets(bands, Seq("band", "bucket"), maxBucketSize, metricName)
    val l = inBuckets.select(col("band"), col("bucket"), col(id).as("id1"))
    val r = inBuckets.select(col("band"), col("bucket"), col(id).as("id2"))
    l.join(r, Seq("band", "bucket"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
  }

  /** Candidate pairs: ids sharing any band bucket (id1 < id2), distinct'd
    * BEFORE any scoring (a pair sharing b bands must not be scored b
    * times).
    *
    * Scale guard: a (band, bucket) group larger than `maxBucketSize` is
    * dropped before the self-join — its pair count is quadratic in the
    * bucket size, and on a boilerplate-heavy crawl millions of
    * near-identical pages collapse into ONE band signature, turning the
    * join into a silent all-pairs. Dropped-bucket count and the max
    * observed bucket size surface as the `metricName` `observe` metric
    * so the cap is never silent. Members of a capped bucket can still
    * pair through their other bands.
    *
    * `metricName` must be unique per query plan (Spark rejects same-name
    * observed metrics over different subplans); callers composing
    * several candidate passes pass distinct names. */
  def candidatePairs(bands: DataFrame, id: String,
      maxBucketSize: Long = 100000L,
      metricName: String = "minhash_buckets"): DataFrame =
    bucketPairs(bands, id, maxBucketSize, metricName).distinct()

  /** Entity-resolution META-BLOCKING (SparkER's weighted-node-pruning
    * family, Simonini et al., EDBT 2019): score every candidate pair by
    * how many blocks it co-occurs in (w = shared (band, bucket) count —
    * redundancy-positive blocking makes w a similarity signal that is
    * FREE, already in the band table), then prune pairs whose weight is
    * below the local mean of BOTH endpoints. The point at 100 TB: the
    * expensive verifier (shingle Jaccard, context similarity, an LLM
    * matcher) runs on the surviving fraction only, while each entity
    * keeps its best edges — low-degree entities always retain their
    * strongest pair, so recall degrades gracefully instead of by a
    * global threshold.
    *
    * The mean test is exact integer arithmetic: keep iff
    * w·deg(i) ≥ Σw(i) OR w·deg(j) ≥ Σw(j) — no float division, so the
    * oracle compares bit-for-bit. Shape: the same capped+observed
    * bucket self-join as [[candidatePairs]] plus ONE node-stats
    * partial agg (two projections of the pair table union-folded) and a
    * broadcast-friendly stats join back.
    * Output: (id1, id2, w, kept). */
  def metaBlocking(bands: DataFrame, id: String,
      maxBucketSize: Long = 100000L,
      metricName: String = "meta_blocking_buckets"): DataFrame = {
    val pr = bucketPairs(bands, id, maxBucketSize, metricName)
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("w"))
    val nodes = pr.select(col("id1").as("node"), col("w"))
      .union(pr.select(col("id2").as("node"), col("w")))
      .groupBy(col("node")).agg(sum(col("w")).as("sw"), count(lit(1)).as("dg"))
    pr
      .join(nodes.select(col("node").as("id1"), col("sw").as("sw1"), col("dg").as("dg1")), Seq("id1"))
      .join(nodes.select(col("node").as("id2"), col("sw").as("sw2"), col("dg").as("dg2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("w"),
        (col("w") * col("dg1") >= col("sw1") || col("w") * col("dg2") >= col("sw2")).as("kept"))
  }

  /** DELTA candidate pairs: near-dup candidates of a newly ingested
    * batch against the full band index (corpus ∪ delta) WITHOUT
    * re-pairing the corpus — the continuous-ingestion shape of
    * MinHash-LSH dedup (each shard that lands is checked against
    * everything already accepted; corpus×corpus pairs were emitted when
    * THOSE shards landed). `isNew` marks the delta rows (a predicate on
    * the id, e.g. membership in the incoming shard).
    *
    * Equivalence contract (OpsSpec-pinned): output ≡
    * `candidatePairs(allBands)` restricted to pairs with ≥1 new member,
    * under the same bucket cap over the same full index — so a shard
    * sequence accumulates exactly the batch rebuild's pair set.
    *
    * Scale shape: the corpus side is first LEFT-SEMI pruned to the
    * (band, bucket) keys the delta actually touches — delta-sized, so
    * the planner can broadcast it — meaning corpus band rows in
    * untouched buckets are never shuffled and the pair join's left side
    * is delta-sized: per-shard work scales with the DELTA, not the
    * corpus. In production `allBands` is the persisted band index (the
    * `ir_index_build` pattern): fingerprinting too is paid only on the
    * delta, and the shard's bands are appended after the check. Same
    * cap + observe semantics as `candidatePairs`. */
  def deltaCandidatePairs(allBands: DataFrame, isNew: Column, id: String,
      maxBucketSize: Long = 100000L,
      metricName: String = "minhash_delta_buckets"): DataFrame = {
    val inBuckets = cappedBuckets(allBands, Seq("band", "bucket"), maxBucketSize, metricName)
    val newBands = inBuckets.where(isNew)
    val touched = newBands.select(col("band"), col("bucket")).distinct()
    val l = newBands.select(col("band"), col("bucket"), col(id).as("id_new"))
    val r = inBuckets.join(touched, Seq("band", "bucket"), "left_semi")
      .select(col("band"), col("bucket"), col(id).as("id_any"))
    l.join(r, Seq("band", "bucket"))
      .where(col("id_new") =!= col("id_any"))
      .select(least(col("id_new"), col("id_any")).as("id1"),
        greatest(col("id_new"), col("id_any")).as("id2"))
      .distinct()
  }

  /** The 64-bit proxy key of every postings join (tokens, shingles, url
    * paths): the joins decide unit IDENTITY only, so they shuffle and
    * match a 64-bit hash instead of the unit text (guide §2.3: shuffle
    * keys, not payloads; measured 10.6 s → 6.0 s at sf0.1 on the
    * containment join's 58M-row intermediate). A NULL unit stays NULL,
    * so it matches nothing, as in the string join (xxhash64 alone maps
    * every null to its seed, one shared key). A collision needs two
    * distinct units of one corpus with the same xxhash64: ~n²/2⁶⁵ for n
    * distinct units, ~3% at 10⁹, and it costs one spurious shared-unit
    * count, never a crash. */
  def unitKey(c: Column): Column = when(c.isNull, lit(null)).otherwise(xxhash64(c))

  /** Exact token-set Jaccard for given candidate pairs (verification
    * step of MinHash-LSH dedup). Output: (id1, id2, jaccard). */
  def jaccardVerify(pairs: DataFrame, tokens: DataFrame, id: String): DataFrame = {
    val tk = tokens.select(col(id), unitKey(col("token")).as("token"))
    val t1 = tk.select(col(id).as("id1"), col("token"))
    val t2 = tk.select(col(id).as("id2"), col("token"))
    val inter = pairs
      .join(t1, Seq("id1"))
      .join(t2, Seq("id2", "token"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("inter"))
    withJaccard(inter, tk, id)
  }

  /** All-pairs Jaccard over pre-extracted (id, unit) rows — UNIQUE per
    * (id, unit), the caller's contract — the sibling of
    * [[containmentFromUnits]]: a postings self-join on [[unitKey]], the
    * intersection count per pair, and the per-id sizes. Quadratic in a
    * unit's document frequency, so it is for small blocks; LSH
    * ([[candidatePairs]] + [[jaccardVerify]]) is the scale path.
    * Output: (id1, id2, jaccard), id1 < id2, jaccard ≥ threshold. */
  def jaccardFromUnits(units: DataFrame, id: String, unit: String,
      threshold: Double): DataFrame = {
    val sh = units.select(col(id), unitKey(col(unit)).as("__unit"))
    val inter = sh.select(col(id).as("id1"), col("__unit"))
      .join(sh.select(col(id).as("id2"), col("__unit")), Seq("__unit"))
      .where(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
    withJaccard(inter, sh, id).where(col("jaccard") >= threshold)
  }

  /** The sizes tail of both Jaccard operators: per-pair intersection
    * counts `inter` (id1, id2, inter) joined to the per-id unit counts
    * of `keyed`, rounded to 4 places. */
  private def withJaccard(inter: DataFrame, keyed: DataFrame, id: String): DataFrame = {
    val sizes = keyed.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.withColumnRenamed(id, "id1").withColumnRenamed("sz", "sz1"), Seq("id1"))
      .join(sizes.withColumnRenamed(id, "id2").withColumnRenamed("sz", "sz2"), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(col("inter") / (col("sz1") + col("sz2") - col("inter")), 4).as("jaccard"))
  }

  /** SimHash-64 core over weighted hash rows (id, cnt, h=md5 hex): per
    * bit k, the sign of the count-weighted sum of (2*bit_k(h) - 1).
    * Engine-portable: nibble k/4 of the md5 hex, bit (3 - k%4). All 64
    * bit-contributions travel as ONE array per row (64× fewer shuffle
    * rows than a k-explode), reduced with an elementwise-sum aggregate. */
  private def simhashFromWeighted(rows: DataFrame, id: String): DataFrame = {
    val contribArr = expr(
      "transform(sequence(0, 63), k -> cnt * " +
        "(((instr('0123456789abcdef', substring(h, cast(k / 4 as int) + 1, 1)) - 1 " +
        "  >> (3 - k % 4)) & 1) * 2 - 1))")
    rows
      .select(col(id), contribArr.as("c"))
      .groupBy(col(id))
      .agg(aggregate(
        collect_list(col("c")),
        array_repeat(lit(0L), 64),
        (acc, x) => zip_with(acc, x, (a, b) => a + b)).as("scores"))
      .select(col(id), concat_ws("",
        transform(col("scores"), s => when(s > 0, "1").otherwise("0"))).as("simhash"))
  }

  /** SimHash-64 as a 64-char '0'/'1' string over space tokens. NOTE: on a
    * tiny-vocabulary corpus token simhash degenerates (near-identical
    * fingerprints everywhere); prefer `simhashOverUnits` with char
    * shingles for the pairing path. */
  def simhash(df: DataFrame, id: String, text: String): DataFrame =
    simhashFromWeighted(
      df.select(col(id), explode(split(col(text), " ")).as("token"))
        .where(col("token") =!= "")
        .groupBy(col(id), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("h", md5(col("token"))),
      id)

  /** SimHash-64 over pre-deduplicated (id, unit) rows, each unit weight 1
    * — e.g. char-8 shingles from `charShingles`, whose positional
    * entropy keeps fingerprints spread even when the token vocabulary is
    * tiny. */
  def simhashOverUnits(units: DataFrame, id: String, unit: String): DataFrame =
    simhashFromWeighted(
      units.select(col(id), lit(1L).as("cnt"), md5(col(unit)).as("h")), id)

  /** md5 of a UTF-8 string; first 8 bytes as a big-endian long — bit k
    * (MSB-first) equals "bit (3 - k%4) of hex nibble k/4", the exact
    * engine-portable convention of `simhashFromWeighted` and the DuckDB
    * oracles. */
  private def md5Head64(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var j = 0
    while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
    h
  }

  /** Distinct char n-gram shingles of a text, one per start offset; for
    * texts shorter than n the whole text is the single shingle (matches
    * the oracle's `generate_series(1, greatest(1, len - n + 1))`). */
  private def distinctShingles(s: String, n: Int): java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    val t = if (s == null) "" else s
    if (t.length <= n) set.add(t)
    else {
      var i = 0
      val last = t.length - n
      while (i <= last) { set.add(t.substring(i, i + n)); i += 1 }
    }
    set
  }

  /** Single-pass per-row shingle SimHash — semantically equal to
    * `simhashOverUnits(charShingles(df, …))` but a narrow map with ZERO
    * shuffle: one tight loop per row (distinct n-grams → md5 → 64 sign
    * counters). The explode→distinct→array-fold formulation shuffles
    * ~64× the corpus bytes and spent 74 s at sf0.1 where this runs in
    * ~2 s; at 100 TB fingerprinting must stay embarrassingly parallel.
    *
    * NULL-text contract (also applies to `minhashShingles`): the kernel
    * treats a NULL text as "" and emits the empty-string fingerprint,
    * whereas the column formulation propagates the null through
    * `charShingles` as a single null shingle, yielding the DEGENERATE
    * fingerprint (all-zeros simhash; Long.MaxValue minhash sentinels) —
    * the one input class where the two paths differ (OpsSpec pins both
    * behaviors). Filter nulls first when exact equivalence with the
    * column path matters. */
  def simhashShingles(df: DataFrame, id: String, text: String, n: Int = 8): DataFrame = {
    val f = udf { (s: String) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](64)
      val it = distinctShingles(s, n).iterator()
      while (it.hasNext) {
        val h = md5Head64(md, it.next())
        var k = 0
        while (k < 64) {
          counts(k) += (((h >>> (63 - k)) & 1L).toInt << 1) - 1
          k += 1
        }
      }
      val sb = new java.lang.StringBuilder(64)
      var k = 0
      while (k < 64) { sb.append(if (counts(k) > 0) '1' else '0'); k += 1 }
      sb.toString
    }
    df.select(col(id), f(col(text)).as("simhash"))
  }

  /** Single-pass per-row shingle MinHash — semantically equal to
    * `minhashOver(charShingles(df, …))` (same MinhashP/A/B universal-hash
    * scheme) as one narrow loop per row, zero shuffle: ONE md5 per
    * distinct shingle, then nHashes multiply-adds.
    * Output: (id, seed, minhash), like `minhashOver`. */
  def minhashShingles(df: DataFrame, id: String, text: String,
      nHashes: Int = 16, n: Int = 8): DataFrame = {
    val sig = minhashKernel(nHashes, n)
    val f = udf((s: String) => sig(s).toSeq)
    df.select(col(id), posexplode(f(col(text))).as(Seq("seed", "minhash")))
  }

  /** The per-text loop of [[minhashShingles]]: the `nHashes` minhashes,
    * in seed order, of the text's distinct char n-gram shingles (UTF-16
    * substrings; the whole text when it is at most n chars; null reads
    * as ""). Shared so a caller that needs the signature inside its own
    * narrow pass hashes exactly as `minhashShingles` does. */
  private[graft] def minhashKernel(nHashes: Int, n: Int): String => Array[Long] = {
    val as = Array.tabulate(nHashes)(minhashA)
    val bs = Array.tabulate(nHashes)(minhashB)
    (s: String) => {
      val md = java.security.MessageDigest.getInstance("MD5")
      val mins = Array.fill(nHashes)(Long.MaxValue)
      val it = distinctShingles(s, n).iterator()
      while (it.hasNext) {
        md.reset()
        val d = md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 8 hex chars == first 4 bytes, unsigned
        val x = (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)) % MinhashP
        var seed = 0
        while (seed < nHashes) {
          val v = (as(seed) * x + bs(seed)) % MinhashP
          if (v < mins(seed)) mins(seed) = v
          seed += 1
        }
      }
      mins
    }
  }

  /** SimHash near-dup pairs with hamming ≤ maxHamming, using 4-chunk
    * pigeonhole banding (hamming ≤ 3 ⇒ some 16-bit chunk is equal) so the
    * join is on chunk equality, never all-pairs.
    *
    * Scale guards (the silent-quadratic killers at 100 TB):
    *  - candidate pairs are `distinct()`ed BEFORE the hamming expression —
    *    a pair sharing k chunks (an exact duplicate shares 4) would
    *    otherwise pay the hamming computation k times;
    *  - hamming = XOR + popcount on two 32-bit integers parsed from the
    *    fingerprint, not a 64-element string zip;
    *  - a (chunk-position, value) bucket larger than `maxBucketSize` is
    *    dropped (its pair blow-up is quadratic); the number of capped
    *    buckets and the max bucket size are surfaced as an `observe`
    *    metric ("simhash_buckets") so the drop is never silent. */
  def simhashPairs(sim: DataFrame, id: String, maxHamming: Int = 3,
      maxBucketSize: Long = 100000L): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole supports hamming <= 3")
    val chunks = sim.select(col(id), col("simhash"),
      explode(array((0 until 4).map(c => struct(lit(c).as("c"),
        substring(col("simhash"), c * 16 + 1, 16).as("chunk"))): _*)).as("x"))
      .select(col(id), col("simhash"), col("x.c").as("c"), col("x.chunk").as("chunk"))
    val inBuckets = cappedBuckets(chunks, Seq("c", "chunk"), maxBucketSize, "simhash_buckets")
    val l = inBuckets.select(col("c"), col("chunk"), col(id).as("id1"), col("simhash").as("s1"))
    val r = inBuckets.select(col("c"), col("chunk"), col(id).as("id2"), col("simhash").as("s2"))
    val pairs = l.join(r, Seq("c", "chunk"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("s1"), col("s2"))
      .distinct()
    val ham = expr(
      "cast(bit_count(cast(conv(substring(s1, 1, 32), 2, 10) as bigint) ^ " +
        "cast(conv(substring(s2, 1, 32), 2, 10) as bigint)) + " +
        "bit_count(cast(conv(substring(s1, 33, 32), 2, 10) as bigint) ^ " +
        "cast(conv(substring(s2, 33, 32), 2, 10) as bigint)) as int)")
    pairs
      .select(col("id1"), col("id2"), ham.as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Character n-gram shingles (positional substrings) per doc, distinct
    * within each doc. The distinct is PER-ROW (`array_distinct` before
    * the explode — a narrow map), not a global `.distinct()` (a shuffle
    * of every exploded shingle, ~n× the corpus bytes at scale); the two
    * are equivalent whenever ids are unique, which every caller's input
    * guarantees. */
  def charShingles(df: DataFrame, id: String, text: String, n: Int = 8): DataFrame =
    df.select(col(id), explode(array_distinct(expr(
      s"transform(sequence(1, greatest(0, length($text) - ${n - 1})), i -> substring($text, i, $n))")))
      .as("shingle"))

  /** Asymmetric CONTAINMENT pairs — c(A⊂B) = |shingles(A)∩shingles(B)| /
    * |shingles(A)| — the syndication/quoting detector symmetric Jaccard
    * misses: a wire article embedded in a much larger page scores
    * jaccard ≈ |A|/|B| (small) but containment ≈ 1.
    *
    * Scale shape: postings JOIN on the shingle (never all-pairs docs —
    * the ir_sparse_sim shape); shingles with document frequency > dfCap
    * drop FIRST via a broadcast anti join (a boilerplate gram present
    * in every doc would square the postings join), with the dropped
    * count riding an `observe` — and denominators computed on the
    * UNPRUNED sets, so the cap can only lose candidates, never inflate
    * a surviving score. Output: (id1, id2, c_1_in_2, c_2_in_1) where
    * either direction ≥ threshold. */
  def containmentPairs(df: DataFrame, id: String, text: String, n: Int,
      dfCap: Int, threshold: Double): DataFrame = {
    require(n >= 2, s"containmentPairs: need n>=2 (got $n)")
    containmentFromUnits(charShingles(df, id, text, n), id, "shingle",
      dfCap, threshold, "containment_shingles")
      .select(col("id1"), col("id2"), col("c_1_in_2"), col("c_2_in_1"))
  }

  /** The postings-containment core shared by [[containmentPairs]]
    * (units = char shingles) and `Web.mirrorHosts` (units = url paths):
    * pre-extracted (id, unit) rows — UNIQUE per (id, unit), the caller's
    * contract — joined on the unit, hot units (document frequency >
    * dfCap) broadcast-anti-pruned first with the dropped count
    * observed, denominators on the unpruned per-id sizes. Output:
    * (id1, id2, shared_units, c_1_in_2, c_2_in_1) where either
    * direction ≥ threshold. */
  def containmentFromUnits(units: DataFrame, id: String, unit: String,
      dfCap: Int, threshold: Double,
      metricName: String = "containment_units"): DataFrame = {
    require(dfCap >= 2 && threshold > 0 && threshold <= 1,
      s"containmentFromUnits: need dfCap>=2, 0<threshold<=1 (got $dfCap, $threshold)")
    val sh = units.select(col(id), unitKey(col(unit)).as("__unit"))
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val hot = sh.groupBy(col("__unit")).agg(count(lit(1)).as("df"))
      .where(col("df") > dfCap)
      .observe(metricName, count(lit(1)).as("capped_units"))
    val pruned = sh.join(broadcast(hot.select(col("__unit"))), Seq("__unit"), "left_anti")
    pruned.select(col(id).as("id1"), col("__unit"))
      .join(pruned.select(col(id).as("id2"), col("__unit")), Seq("__unit"))
      .where(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("shared_units"))
      .join(sizes.withColumnRenamed(id, "id1").withColumnRenamed("sz", "sz1"), Seq("id1"))
      .join(sizes.withColumnRenamed(id, "id2").withColumnRenamed("sz", "sz2"), Seq("id2"))
      .select(col("id1"), col("id2"), col("shared_units"),
        round(col("shared_units") / col("sz1"), 4).as("c_1_in_2"),
        round(col("shared_units") / col("sz2"), 4).as("c_2_in_1"))
      .where(col("c_1_in_2") >= threshold || col("c_2_in_1") >= threshold)
  }

  /** End-to-end near-duplicate CLUSTERING — the artifact a dedup
    * pipeline actually ships: verified near-dup pairs (from ANY scheme:
    * MinHash-LSH, SimHash, embedding cosine — anything emitting
    * (id1, id2)) → connected components over the pair graph (transitive
    * closure: A≈B≈C is one cluster even when A,C never paired) → one
    * canonical doc per cluster (min id). Docs in no pair are their own
    * singleton cluster. Reuses the KG `ConnectedComponents` loop:
    * driver union-find under the measured heap budget, distributed
    * large-star/pointer-jump above it — pair graphs are near-dup-sized
    * (≪ corpus), the same shape as alias graphs. Requires a LONG id
    * (CC labels are longs). Output: (id, cluster, is_canonical) for
    * every input doc; training keeps `is_canonical`. */
  def dedupClusters(df: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    val labels = graft.kg.ConnectedComponents.run(
      df.sparkSession, pairs.select(col("id1").as("src"), col("id2").as("dst")))
    // canonical = the min id PRESENT IN df within the cluster — NOT
    // simply id == cluster label: when pairs were computed on a wider
    // corpus than df (pairs ids ⊄ df ids, a normal composition), the CC
    // min label can be a doc df no longer contains, and the naive rule
    // would leave that whole cluster with no canonical row. Computed
    // from the LABELED rows only (pair-graph-sized, broadcastable) —
    // a window over the full corpus would shuffle billions of singleton
    // rows to decide what is trivially true for them.
    val withCluster = df.select(col(id))
      .join(labels.withColumnRenamed("id", id), Seq(id), "left")
      .select(col(id), col("component"))
    val minPresent = withCluster.where(col("component").isNotNull)
      .groupBy(col("component")).agg(min(col(id)).as("__minp"))
    withCluster
      .join(minPresent, Seq("component"), "left")
      .select(col(id),
        coalesce(col("component"), col(id)).as("cluster"),
        when(col("component").isNull, lit(true))
          .otherwise(col(id) === col("__minp")).as("is_canonical"))
  }

  /** Cross-document duplicated-span inventory — the discovery half of
    * exact-substring dedup (the "dedupe the training set at the 50-token
    * span level, not the document level" operation): every token n-gram
    * that occurs in ≥ 2 distinct documents, with its document and
    * occurrence counts, top `topK` by (n_docs, n_occ) desc then gram asc.
    *
    * Scale shape: one narrow explode per doc (n_tokens−n+1 grams), then
    * a single partial-aggregated shuffle keyed by the gram — count and
    * count-distinct-doc both combine map-side, and the ≥2-docs filter
    * drops the (dominant, unique) tail before the top-k, which runs as
    * TakeOrderedAndProject (no global sort materialization). At the
    * 100 TB tier you'd key the shuffle on a 64-bit gram hash and carry
    * the text via `min(gram)` to halve shuffle bytes — same plan shape,
    * kept as the readable string key here because the oracle compares
    * gram text. The removal half (cutting the spans back out of docs) is
    * a narrow per-doc rewrite against a broadcast/bucketed copy of this
    * inventory. */
  def spanInventory(df: DataFrame, id: String, text: String,
      n: Int = 8, topK: Int = 50): DataFrame = {
    require(n >= 2 && topK >= 1, "spanInventory: need n >= 2 and topK >= 1")
    val toks = df
      .select(col(id), filter(split(col(text), " "), t => t =!= "").as("toks"))
      .select(col(id), col("toks"), size(col("toks")).as("nt"))
    toks.where(col("nt") >= n)
      .select(col(id),
        explode(transform(sequence(lit(1), col("nt") - (n - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(n))))).as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col(id)).as("n_docs"), count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram").asc)
      .limit(topK)
  }
}
