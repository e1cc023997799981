package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exactness baseline, and
  * random-hyperplane LSH bucketing as the scale path (bucketed candidate
  * join + exact re-rank). Hyperplane weights derive from md5 nibbles so
  * buckets are reproducible in any engine. All math in `functions._`
  * higher-order expressions (zip_with/aggregate) — codegen, no UDFs. */
object Similarity {

  /** cosine(a, b) with double accumulation, left-to-right fold. */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** Brute-force cosine top-k: every probe row scored against every
    * corpus row (one broadcast of the probe set — the corpus is never
    * shuffled), ranked by (rounded score desc, id asc) for determinism.
    * Output: (probe_id, neighbor_id, cos_sim, rank). */
  def cosineTopK(corpus: DataFrame, probes: DataFrame, id: String, vec: String, k: Int): DataFrame = {
    val p = probes.select(col(id).as("probe_id"), col(vec).as("probe_vec"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("corpus_vec"))
    topKByCosine(c.crossJoin(broadcast(p)).where(col("probe_id") =!= col("neighbor_id")), k)
  }

  /** The ranking tail of every top-k search ([[cosineTopK]], [[annTopK]],
    * [[ivfTopK]]), each of which brings its own candidate join of
    * (probe_id, neighbor_id, probe_vec, corpus_vec) rows: cos_sim =
    * cosine rounded to 4 places, ranked per probe by (cos_sim desc,
    * neighbor_id asc) — the tie-break makes the cut deterministic — and
    * cut at rank k. Output: (probe_id, neighbor_id, cos_sim, rank). */
  private def topKByCosine(cands: DataFrame, k: Int): DataFrame = {
    val scored = cands.select(col("probe_id"), col("neighbor_id"),
      round(cosine(col("probe_vec"), col("corpus_vec")), 4).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Deterministic hyperplane weight for (plane p, dim i): md5 nibble at
    * position (i mod 32) of md5(p||':'||i), centered at 7.5 — the exact
    * contract the DuckDB oracles re-derive. */
  private def planeWeight(p: Int, i: Int, md: java.security.MessageDigest): Double = {
    md.reset()
    val d = md.digest(s"$p:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val pos = i % 32
    val b = d(pos / 2) & 0xff
    val nibble = if (pos % 2 == 0) b >> 4 else b & 0xf
    nibble - 7.5
  }

  /** Plane-weight matrix memo, one per executor JVM: the matrix is DATA-
    * INDEPENDENT (a pure function of (nPlanes, dim)), so hashing it per
    * row — 1024 md5s per vector at (32 planes × 32 dims) — is pure waste;
    * computed once per executor it amortizes to zero across the corpus. */
  private val planeCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), Array[Array[Double]]]
  private def planeMatrix(nPlanes: Int, dim: Int): Array[Array[Double]] =
    planeCache.getOrElseUpdate((nPlanes, dim), {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(nPlanes)(p => Array.tabulate(dim)(i => planeWeight(p, i, md)))
    })

  /** Banded random-hyperplane LSH: `nBands` independent bands of
    * `planesPerBand` planes each (plane id = band*planesPerBand + i, so
    * band 0 of (1, 8) equals the classic 8-plane bucket). Candidates
    * share ANY band's bucket — OR-amplification, exactly the
    * `minhashBands` idiom: more bands = higher recall at the same
    * in-bucket cost, and 2^planesPerBand buckets per band bound bucket
    * sizes.
    *
    * A narrow per-row kernel (like Dedup.minhashShingles): the old
    * explode-dims×planes formulation blew each vector into 1024 shuffle
    * rows and recomputed the constant plane matrix per row; this one is
    * zero-shuffle with double accumulation in ascending-dim order (the
    * same fold order, so bucket bits are bit-identical — oracle-checked).
    * Output: (id, band, bucket). */
  def lshBands(df: DataFrame, id: String, vec: String,
      nBands: Int = 4, planesPerBand: Int = 8): DataFrame = {
    val nPlanes = nBands * planesPerBand
    val f = udf { (v: Seq[Float]) =>
      // null vector → no buckets (the old explode formulation's semantics)
      if (v == null) Seq.empty[String]
      else {
        val w = planeMatrix(nPlanes, v.length)
        (0 until nBands).map { b =>
          val sb = new java.lang.StringBuilder(planesPerBand)
          var j = 0
          while (j < planesPerBand) {
            val wp = w(b * planesPerBand + j)
            var dot = 0.0
            var i = 0
            while (i < v.length) { dot += v(i).toDouble * wp(i); i += 1 }
            sb.append(if (dot > 0) '1' else '0')
            j += 1
          }
          sb.toString
        }
      }
    }
    df.select(col(id), posexplode(f(col(vec))).as(Seq("band", "bucket")))
  }

  /** Single-band LSH bucket bits (the index/inspection surface): for each
    * of nPlanes, the sign of dot(vec, plane). Output: (id, bucket). */
  def lshBuckets(df: DataFrame, id: String, vec: String, nPlanes: Int = 8): DataFrame =
    lshBands(df, id, vec, nBands = 1, planesPerBand = nPlanes)
      .select(col(id), col("bucket"))

  /** ANN top-k via banded LSH (OR of nBands buckets): candidates from any
    * shared band bucket (`Dedup.candidatePairs`: capped and observed as
    * "ann_buckets", distinct'd before scoring), then exact cosine
    * re-rank. Recall vs the brute-force `cosineTopK` grows with nBands
    * (measured in OpsSpec); per-band bucket sizes stay bounded — the
    * scale path for 100 TB corpora (single-band bucketing has a
    * quadratic in-bucket blow-up and a recall cliff). */
  def annTopK(df: DataFrame, id: String, vec: String, k: Int,
      nBands: Int = 4, planesPerBand: Int = 8,
      maxBucketSize: Long = 100000L): DataFrame = {
    val cands = Dedup.candidatePairs(lshBands(df, id, vec, nBands, planesPerBand), id,
      maxBucketSize, "ann_buckets")
    // candidates are symmetric (id1 < id2); a probe must see neighbors on
    // both sides, so mirror before scoring
    val sym = cands.select(col("id1").as("probe_id"), col("id2").as("neighbor_id"))
      .union(cands.select(col("id2").as("probe_id"), col("id1").as("neighbor_id")))
    val pv = df.select(col(id).as("probe_id"), col(vec).as("probe_vec"))
    val nv = df.select(col(id).as("neighbor_id"), col(vec).as("corpus_vec"))
    topKByCosine(sym.join(pv, Seq("probe_id")).join(nv, Seq("neighbor_id")), k)
  }

  /** Embedding-cosine near-duplicate pairs: banded candidates (as in
    * [[annTopK]]) with rounded cosine ≥ threshold (id1 < id2). */
  def cosineNearDups(df: DataFrame, id: String, vec: String,
      threshold: Double, nBands: Int = 4, planesPerBand: Int = 8,
      maxBucketSize: Long = 100000L): DataFrame = {
    val cands = Dedup.candidatePairs(lshBands(df, id, vec, nBands, planesPerBand), id,
      maxBucketSize, "ann_buckets")
    val v1 = df.select(col(id).as("id1"), col(vec).as("v1"))
    val v2 = df.select(col(id).as("id2"), col(vec).as("v2"))
    cands.join(v1, Seq("id1")).join(v2, Seq("id2"))
      .select(col("id1"), col("id2"), round(cosine(col("v1"), col("v2")), 4).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
  }

  // ---- IVF-flat ANN (the coarse-quantizer scale path) ----

  /** ×1000 long quantization of a float vector. Every downstream IVF
    * arithmetic step becomes integer-exact, so Spark and the DuckDB
    * oracle compute bit-identical cluster assignments (float sums would
    * drift with aggregation order). Round-half ties DO occur (x·1000 is
    * an exact ≤34-bit product of dyadics, and e.g. 0.0625f·1000 = 62.5
    * exactly) but resolve identically: Spark's BigDecimal HALF_UP and
    * DuckDB's round() both round halves AWAY FROM ZERO for either sign
    * (verified: duckdb round(±62.5) = ±63). An engine that truly rounds
    * half-to-even would need an explicit ⌊x+½⌋ here instead. */
  private def quant(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  /** Exact long dot product (values bounded by ±1000 per dim × 64 dims ×
    * 500-row cluster sums — far inside 2^53, so the double conversions
    * below are exact too). */
  private def ldot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Cosine over quantized vectors: exact integer dot / double norms —
    * deterministic and engine-portable. */
  private def qcos(a: Column, b: Column): Column =
    ldot(a, b).cast("double") /
      (sqrt(ldot(a, a).cast("double")) * sqrt(ldot(b, b).cast("double")))

  /** Nearest-centroid assignment: each (vid, qv) row against a broadcast
    * centroid table (cid, cv), keep the `n` best by (cosine desc, cid
    * asc). Centroid counts are small by construction (nClusters ≪ rows),
    * so the broadcast never grows with the corpus. */
  private def assignClusters(vecs: DataFrame, cents: DataFrame, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vid")).orderBy(col("sim").desc, col("cid").asc)
    vecs.crossJoin(broadcast(cents))
      .select(col("vid"), col("cid"), qcos(col("qv"), col("cv")).as("sim"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= n)
      .select(col("vid"), col("cid"))
  }

  private def md5HexOf(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Deterministic farthest-point (k-means++-style) seeding over a
    * deterministic md5-bucket SAMPLE of the corpus (the `Curation
    * .hashSample` idiom — `sampleBp` basis points): seed 1 is the
    * md5-minimal sampled id (a pseudo-random but engine-reproducible
    * pick); each next seed is the sampled vector MINIMIZING its max
    * cosine to the chosen set (the farthest point), ties broken by
    * (md5(id), id). Min-id seeding (the old scheme) could land every
    * seed in one dense region; farthest-point spreads them, which is
    * what lifts recall at small nProbe.
    *
    * Seeding is sequential by nature (step j needs seeds 1..j-1), so it
    * runs where k-means++ always runs at scale: ON A SAMPLE, driver-side
    * — one distributed filter+collect, then k in-memory passes. At
    * 100 TB the operator tunes `sampleBp` so the sample fits the driver
    * (the seeding sample needs only ≫ k·nProbe vectors, not the
    * corpus); the Lloyd refinements that follow are fully distributed.
    * All arithmetic is the same exact-integer dot + IEEE double
    * divide/sqrt the distributed side uses, so the DuckDB oracle
    * reproduces the seeds bit-for-bit. */
  private def farthestPointSeeds(q: DataFrame, nClusters: Int,
      sampleBp: Int = 2000, maxSampleRows: Long = 1000000L): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val bucket = pmod(conv(substring(md5(col("vid").cast("string")), 1, 8), 16, 10)
      .cast("long"), lit(10000L))
    val sampDf = q.where(bucket < sampleBp).select(col("vid"), col("qv"))
    // fail LOUDLY before the collect, not with a driver OOM during it:
    // a fixed basis-point fraction cannot bound the absolute sample size
    // on its own, and at corpus scale the caller must lower sampleBp
    // (seeding only needs ≫ k vectors, not a fixed fraction)
    val sampN = sampDf.count()
    require(sampN <= maxSampleRows,
      s"farthestPointSeeds: sample of $sampN rows exceeds maxSampleRows=$maxSampleRows " +
        s"— lower sampleBp (currently $sampleBp bp) for this corpus size")
    val samp = sampDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    require(samp.length >= nClusters,
      s"farthestPointSeeds: sample of ${samp.length} < $nClusters clusters — raise sampleBp")
    val md5Of = samp.map { case (vid, _) => vid -> md5HexOf(vid.toString) }.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dab = 0L; var daa = 0L; var dbb = 0L; var i = 0
      while (i < a.length) { dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i); i += 1 }
      dab.toDouble / (math.sqrt(daa.toDouble) * math.sqrt(dbb.toDouble))
    }
    val first = samp.minBy { case (vid, _) => (md5Of(vid), vid) }
    var chosen = Vector(first)
    // maxc(v) = max cosine of v to the chosen set, updated incrementally
    val maxc = scala.collection.mutable.HashMap.empty[Long, Double]
    samp.foreach { case (vid, qv) => maxc(vid) = cos(qv, first._2) }
    for (_ <- 2 to nClusters) {
      val next = samp.minBy { case (vid, _) => (maxc(vid), md5Of(vid), vid) }
      chosen = chosen :+ next
      samp.foreach { case (vid, qv) => maxc(vid) = math.max(maxc(vid), cos(qv, next._2)) }
    }
    chosen.map { case (vid, qv) => (vid, qv.toSeq) }.toDF("cid", "cv")
  }

  /** The shared IVF k-means model build: farthest-point seeding,
    * `lloydSteps` distributed refinements, final inverted lists.
    * Returns (centroids (cid, cv), assignments (vid, cid)) — the serve
    * surface `ivfTopK` probes against and the clustering
    * `semanticNearDups` pairs within. Every Lloyd step's centroids and
    * the final assignments go through [[Layout.materialize]]: without
    * it step s would recompute all steps < s, and every downstream
    * reference of the assignments would replay the whole seed+Lloyd
    * chain of crossJoin+window steps. The corpus quantization persists
    * while the model is built (the seeding sample, every step and the
    * assignments rescan it) and is released once both returned tables
    * are materialized, so neither reads it. */
  private def ivfModel(corpus: DataFrame, id: String, vec: String,
      nClusters: Int, lloydSteps: Int,
      seedSampleBp: Int, maxSeedSampleRows: Long): (DataFrame, DataFrame) = {
    require(lloydSteps >= 1, "ivfModel: need at least one Lloyd step")
    val q = corpus.select(col(id).as("vid"), quant(col(vec)).as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents = farthestPointSeeds(q, nClusters, seedSampleBp, maxSeedSampleRows)
      for (_ <- 1 to lloydSteps) {
        val a = assignClusters(q, cents, 1)
        // the "centroid" is the per-cluster elementwise sum (exact longs),
        // never a float mean
        cents = Layout.materialize(
          q.join(a, "vid")
            .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
            .groupBy(col("cid"), col("pos")).agg(sum(col("x")).as("sx"))
            .groupBy(col("cid"))
            .agg(transform(array_sort(collect_list(struct(col("pos"), col("sx")))),
              s => s.getField("sx")).as("cv")))
      }
      // corpus-row sized: one (vid, cid) pair per vector
      (cents, Layout.materialize(assignClusters(q, cents, 1)))
    } finally q.unpersist(false)
  }

  /** SemDeDup-style semantic near-duplicate pairs: cluster the corpus
    * with the IVF k-means model, then enumerate pairs ONLY within a
    * cluster and keep those with exact rounded cosine ≥ `threshold`.
    * This is the embedding-space scale path where corpus-wide all-pairs
    * is quadratic death: the cluster partition bounds the pair
    * enumeration to Σ|cluster|², and a cluster that still blows past
    * `maxClusterSize` is dropped (capped + OBSERVED via the
    * "semdedup_clusters" metric — never a silent straggler; at scale a
    * mega-cluster means the model needs more clusters, which is a
    * re-run knob, not a reason to let one task go quadratic; NOTE the
    * delivery caveat — if EVERY cluster is capped the result is empty
    * and AQE's empty-relation propagation prunes the already-executed
    * CollectMetrics stage out of the final plan, so the observe row is
    * dropped with it; an all-capped run is detectable by emptiness
    * itself, and partial caps always report). Scoring
    * uses the same exact cosine (rounded 4) as `cosineNearDups`, so the
    * two schemes' thresholds are directly comparable; candidates differ
    * (banded LSH recall vs cluster-partition recall) — a pair split
    * across clusters is missed, the documented IVF-recall trade.
    * Feed the pairs to `Dedup.dedupClusters` for the shipped artifact.
    * Output: (id1, id2, cos_sim, cid), id1 < id2. */
  def semanticNearDups(corpus: DataFrame, id: String, vec: String,
      threshold: Double, nClusters: Int = 8, lloydSteps: Int = 2,
      maxClusterSize: Long = 100000L,
      seedSampleBp: Int = 2000, maxSeedSampleRows: Long = 1000000L): DataFrame = {
    val (_, aFinal) = ivfModel(corpus, id, vec, nClusters, lloydSteps,
      seedSampleBp, maxSeedSampleRows)
    val kept = aFinal.groupBy(col("cid")).agg(count(lit(1)).as("cluster_n"))
      .observe("semdedup_clusters",
        sum(when(col("cluster_n") > maxClusterSize, 1L).otherwise(0L)).as("capped_clusters"),
        max(col("cluster_n")).as("max_cluster"))
      .where(col("cluster_n") <= maxClusterSize)
      .select(col("cid"))
    val in = aFinal.join(kept, Seq("cid"))
    val cands = in.select(col("cid"), col("vid").as("id1"))
      .join(in.select(col("cid"), col("vid").as("id2")), Seq("cid"))
      .where(col("id1") < col("id2"))
    val v1 = corpus.select(col(id).as("id1"), col(vec).as("v1"))
    val v2 = corpus.select(col(id).as("id2"), col(vec).as("v2"))
    cands.join(v1, Seq("id1")).join(v2, Seq("id2"))
      .select(col("id1"), col("id2"),
        round(cosine(col("v1"), col("v2")), 4).as("cos_sim"), col("cid"))
      .where(col("cos_sim") >= threshold)
  }

  /** IVF-flat approximate nearest neighbors — the coarse-quantizer
    * alternative to banded LSH (`annTopK`): deterministic farthest-point
    * seeding (spread seeds, not the min-id corner), `lloydSteps`
    * distributed Lloyd refinements (assign → per-cluster elementwise sum
    * — cosine is scale-invariant, so the SUM vector ≡ the mean centroid
    * and stays integer-exact), final inverted lists, then each probe
    * searches only its nProbe nearest lists with an exact cosine
    * re-rank. At 100 TB the probe side reads ~nProbe / nClusters of the
    * corpus instead of all of it; each Lloyd step is one
    * partial-aggregated shuffle of nClusters×dim cells, and every
    * step's centroid table is materialized ([[Layout.materialize]]), so
    * the seed+Lloyd lineage never grows with the step count; a session
    * with a checkpoint dir gets reliable step checkpoints.
    * Output: (probe_id, neighbor_id, cos_sim, rank). */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, id: String, vec: String, k: Int,
      nClusters: Int = 8, nProbe: Int = 2, lloydSteps: Int = 2,
      seedSampleBp: Int = 2000, maxSeedSampleRows: Long = 1000000L): DataFrame = {
    val (cents, aFinal) = ivfModel(corpus, id, vec, nClusters, lloydSteps,
      seedSampleBp, maxSeedSampleRows)
    val pq = probes.select(col(id).as("vid"), quant(col(vec)).as("qv"))
    val plists = assignClusters(pq, cents, nProbe).withColumnRenamed("vid", "probe_id")
    val cands = plists.join(aFinal.withColumnRenamed("vid", "neighbor_id"), "cid")
      .where(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"))
    val pv = probes.select(col(id).as("probe_id"), col(vec).as("probe_vec"))
    val nv = corpus.select(col(id).as("neighbor_id"), col(vec).as("corpus_vec"))
    topKByCosine(cands.join(broadcast(pv), Seq("probe_id")).join(nv, Seq("neighbor_id")), k)
  }

  /** Symmetric int8 scalar quantization — embedding compression for
    * 100-TB stores (4 B float → 1 B per dim): q_i = ⌊x_i·127/maxabs + ½⌋
    * with the per-vector scale preserved as round(maxabs·1e6) — an exact
    * integer rather than a re-rounded double, so the oracle compares
    * longs (round-half ties on maxabs·1e6 resolve identically: both
    * engines round halves away from zero — see `quant`). The q_i
    * themselves use an explicit ⌊x+½⌋ so the tie rule is the CODE, not
    * an engine default. Output: (id, n_dims, scale_q, q_csv). */
  def quantizeInt8(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(id), col(vec).as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x.cast("double")))))
      .select(col(id),
        size(col("v")).as("n_dims"),
        round(col("maxabs") * 1000000).cast("long").as("scale_q"),
        concat_ws(",", transform(col("v"), x =>
          when(col("maxabs") === 0.0, lit(0L))
            .otherwise(floor(x.cast("double") * 127 / col("maxabs") + 0.5))
            .cast("string"))).as("q_csv"))

  /** R4 incremental add (/root/reference/src/vector_store.py:136-161):
    * the reference appends new chunks to its store and extends the index
    * in place. Hyperplane bucketing is per-row deterministic (planes are
    * md5-derived constants), so indexing a delta and unioning EQUALS a
    * full rebuild — an append-only incremental index with no refit.
    * Output: (id, bucket, src = base|delta). */
  def incrementalIndex(base: DataFrame, delta: DataFrame, id: String, vec: String,
      nPlanes: Int = 8): DataFrame =
    lshBuckets(base, id, vec, nPlanes).withColumn("src", lit("base"))
      .unionByName(lshBuckets(delta, id, vec, nPlanes).withColumn("src", lit("delta")))
}
