package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic cardinality sketches. The usual engine sketch
  * (`approx_count_distinct` / HLL) is implementation-defined — two
  * engines disagree bit-for-bit, so it can never sit under a hash-exact
  * cross-engine oracle. KMV (k-minimum-values, the theta-sketch
  * family's simplest member) is a pure function of a portable hash:
  * keep the k smallest normalized md5 values of the distinct inputs;
  * with u_k the k-th smallest, distinct ≈ (k-1)/u_k. Every engine that
  * can md5 computes the SAME estimate, which is what makes it usable in
  * this repo's oracle gate — and at 100 TB it is mergeable: per-
  * partition k-minima union to the global k-minima (one partial-agg
  * shuffle), the same merge law Iceberg/DataSketches theta sketches
  * rely on. */
object Sketches {

  /** Uniform [0,1) hash: 60 bits of md5 (15 hex chars — fits a long
    * EXACTLY, and the long→double cast rounds identically under IEEE in
    * any engine) scaled by 2^-60 (a power of two: exact). */
  private def u01(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")
      .cast("double") / lit(1152921504606846976.0) // 2^60

  /** Per-group KMV distinct estimate. Shape: distinct (group, value)
    * partials absorb duplicate mass, then a per-group k-smallest via
    * row_number — Spark pushes the rank filter below the sort
    * (WindowGroupLimit), so no group ever fully sorts. When a group has
    * fewer than k distinct values the sketch IS exact (est = count).
    * Output: (group, n_minima, est_distinct). */
  def kmvDistinct(df: DataFrame, group: String, value: String, k: Int): DataFrame = {
    require(k >= 2, "kmvDistinct: k must be at least 2")
    val w = Window.partitionBy(col(group)).orderBy(col("u").asc)
    // NULL values are excluded EXPLICITLY: a null hashes to a null u,
    // which Spark's ASC ordering puts FIRST and most SQL engines put
    // LAST — an engine-dependent k-minima set. Distinct-count semantics
    // don't count NULL anyway.
    df.select(col(group), col(value)).where(col(value).isNotNull).distinct()
      .select(col(group), u01(col(value)).as("u"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .groupBy(col(group))
      .agg(count(lit(1)).as("n_minima"), max(col("u")).as("uk"))
      .select(col(group), col("n_minima"),
        round(when(col("n_minima") < k, col("n_minima").cast("double"))
          .otherwise((lit(k - 1) / col("uk"))), 4).as("est_distinct"))
  }

  /** Count-min sketch build over an occurrence column: `d` LCG-mixed
    * hash rows (the [[graft.ops.Dedup.minhashA]] universal-hash scheme —
    * one md5 per occurrence, `d` multiply-adds) × `w` buckets. The
    * sketch is MERGEABLE, which is the whole 100-TB story: every
    * partition folds its occurrences into ≤ d·w local cells map-side
    * (partial agg), and one shuffle of those cells sums them into the
    * global d·w table — counts never meet by key, so a trillion-token
    * corpus reduces to a few-KB artifact in one pass. Estimates
    * overcount only (collisions add, never subtract): est ≥ exact, and
    * E[err] ≤ total/w per row, min over d rows.
    * Input rows are occurrences (one row = count 1). NULL values are
    * skipped. Output: (seed, bucket, n) — at most d·w rows. */
  def cmsBuild(df: DataFrame, value: String, d: Int = 4, w: Int = 1024): DataFrame = {
    require(d >= 1 && w >= 2, "cmsBuild: need d >= 1 hash rows and w >= 2 buckets")
    df.where(col(value).isNotNull)
      .select(posexplode(array((0 until d).map(j => cmsBucket(col(value), j, w)): _*))
        .as(Seq("seed", "bucket")))
      .groupBy(col("seed"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      // the sketch carries its own (d, w): a probe with different params
      // would silently undercount (wrong-modulus lookups miss), so the
      // estimate side require-matches these instead of trusting defaults
      .withColumn("__d", lit(d)).withColumn("__w", lit(w))
  }

  /** Point estimate per probe row: min over the d probed cells. Shape:
    * d chained BROADCAST left joins (one per hash row, each against a
    * ≤ w-cell slice of the sketch) — the probe side never shuffles and
    * never collapses; output is 1:1 with the probe rows, plus est_n.
    * (The obvious explode-then-groupBy formulation would re-shuffle the
    * whole probe table by key just to take a min over d values that are
    * already on the same row.) Missing cells read as 0. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, value: String,
      d: Int = 4, w: Int = 1024): DataFrame = {
    // materialize the ≤ d·w-cell table ONCE — slicing a lazy sketch d
    // ways would re-run its whole build (scan + shuffle) per slice
    val cells = Layout.materialize(sketch)
    checkParams(cells, "cmsEstimate", d, w)
    var out = probes
    (0 until d).foreach { j =>
      val cell = cells.where(col("seed") === j)
        .select(col("bucket").as(s"__b$j"), col("n").as(s"__n$j"))
      out = out.withColumn(s"__b$j", cmsBucket(col(value), j, w))
        .join(broadcast(cell), Seq(s"__b$j"), "left")
    }
    out
      .withColumn("est_n",
        least((0 until d).map(j => coalesce(col(s"__n$j"), lit(0L))): _*))
      .drop((0 until d).flatMap(j => Seq(s"__b$j", s"__n$j")): _*)
  }

  /** Row-`j` CMS bucket of a value: md5 once, LCG-mix per row, mod w.
    * All intermediates < 2^62 — exact int64 in any engine (the same
    * argument as the MinHash scheme, which shares the constants). */
  private def cmsBucket(c: org.apache.spark.sql.Column, j: Int, w: Int) =
    ((lit(Dedup.minhashA(j)) * (conv(substring(md5(c.cast("string")), 1, 8), 16, 10)
        .cast("long") % Dedup.MinhashP)
      + lit(Dedup.minhashB(j))) % Dedup.MinhashP) % w

  /** Bloom filter build: the SET bit positions of `d` hash functions ×
    * `w` bits, as a (seed, bucket) table of ≤ d·w rows — deterministic
    * (the CMS bucket scheme), so false positives are REPRODUCIBLE in
    * any engine, which is what lets a membership sketch sit under the
    * oracle gate at all. Mergeable by construction: the bit table of a
    * union is the distinct-union of the bit tables (bit-OR), one
    * partial-agg shuffle. At 100 TB the build side is the SMALL set
    * (a benchmark suite, a blocklist) and the d·w-bit artifact
    * broadcasts to every probe partition. */
  def bloomBuild(df: DataFrame, value: String, d: Int = 3, w: Int = 4096): DataFrame = {
    require(d >= 1 && w >= 2, "bloomBuild: need d >= 1 hashes and w >= 2 bits")
    df.where(col(value).isNotNull)
      .select(posexplode(array((0 until d).map(j => cmsBucket(col(value), j, w)): _*))
        .as(Seq("seed", "bucket")))
      .distinct()
      .withColumn("__d", lit(d)).withColumn("__w", lit(w))
  }

  /** Fail loudly when a probe's (d, w) differ from the build's — a
    * mismatch in EITHER direction silently breaks the sketch contract
    * (CMS undercounts, Bloom drops true members). One head() over the
    * already-materialized cell table. Empty sketches carry no metadata
    * row and are fine (every probe reads 0 / not-present). */
  private def checkParams(cells: DataFrame, op: String, d: Int, w: Int): Unit =
    cells.select(col("__d"), col("__w")).limit(1).collect().headOption.foreach { r =>
      require(r.getInt(0) == d && r.getInt(1) == w,
        s"$op: sketch was built with (d=${r.getInt(0)}, w=${r.getInt(1)}) " +
          s"but probed with (d=$d, w=$w) — estimates would be silently wrong")
    }

  /** Fixed-bin histogram quantiles — the deterministic stand-in for
    * t-digest/GK (whose merge results are order-dependent and so can
    * never sit under a cross-engine hash oracle). Two scans: one tiny
    * (lo, hi, n) aggregate broadcast back (a lakehouse reads these from
    * table stats instead), then one partial-agg fold of every value
    * into ≤ `bins` cells — the histogram is MERGEABLE (cell-wise sum),
    * so at 100 TB each partition ships `bins` longs, never values.
    * Estimates interpolate linearly inside the covering bin; identical
    * IEEE expression order on both engines makes them hash-exact.
    * Error is bounded by one bin width. NULLs are skipped. Degenerate
    * range (lo == hi) collapses to bin 0 and estimates lo.
    * Output: (q, est) per requested quantile. */
  def histQuantiles(df: DataFrame, value: String, bins: Int,
      qs: Seq[Double]): DataFrame = {
    require(bins >= 1, "histQuantiles: bins must be >= 1")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "histQuantiles: quantiles must lie in (0, 1]")
    val spark = df.sparkSession
    val v = col(value)
    val vals = df.where(v.isNotNull)
    val mm = vals.agg(min(v).cast("double").as("lo"), max(v).cast("double").as("hi"),
      count(lit(1)).as("n"))
    val cells = vals.crossJoin(broadcast(mm))
      .select(
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(lit(bins - 1), greatest(lit(0),
            floor((v.cast("double") - col("lo")) * bins / (col("hi") - col("lo")))
              .cast("int")))).as("bin"),
        col("lo"), col("hi"), col("n"))
      .groupBy(col("bin"), col("lo"), col("hi"), col("n"))
      .agg(count(lit(1)).as("nb"))
    // cumulative over ≤ bins cells — a single-partition window over a
    // few hundred rows, NOT over the data
    val w = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, -1)
    val cum = cells.withColumn("cumb", coalesce(sum(col("nb")).over(w), lit(0L)))
    import spark.implicits._
    val qdf = qs.toDF("q")
    cum.crossJoin(broadcast(qdf))
      .where(col("q") * col("n") > col("cumb") &&
        col("q") * col("n") <= col("cumb") + col("nb"))
      .select(col("q"),
        round(col("lo") + (col("bin") + (col("q") * col("n") - col("cumb")) / col("nb"))
          * ((col("hi") - col("lo")) / lit(bins.toDouble)), 4).as("est"))
  }

  /** Probe rows whose value hits ALL `d` set bits — the maybe-present
    * set (never misses a true member; false positives are deterministic
    * and mirrored by the oracle). Shape: d chained BROADCAST left joins
    * against per-hash bit slices, keep rows where every slice matched —
    * the probe side never shuffles and output rows are 1:1 with the
    * maybe-present probe rows. NULL values never match. */
  def bloomMightContain(bits: DataFrame, probes: DataFrame, value: String,
      d: Int = 3, w: Int = 4096): DataFrame = {
    // materialize the bit table once (same reason as cmsEstimate)
    val bitTbl = Layout.materialize(bits)
    checkParams(bitTbl, "bloomMightContain", d, w)
    var out = probes.where(col(value).isNotNull)
    (0 until d).foreach { j =>
      val bit = bitTbl.where(col("seed") === j)
        .select(col("bucket").as(s"__b$j"), lit(1).as(s"__m$j"))
      out = out.withColumn(s"__b$j", cmsBucket(col(value), j, w))
        .join(broadcast(bit), Seq(s"__b$j"), "left")
    }
    out
      .where((0 until d).map(j => col(s"__m$j").isNotNull).reduce(_ && _))
      .drop((0 until d).flatMap(j => Seq(s"__b$j", s"__m$j")): _*)
  }
}
