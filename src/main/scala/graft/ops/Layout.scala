package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout operators: input spreading, materialization, and Morton
  * (Z-order) clustering for multi-column scan pruning. At 100 TB the dominant
  * cost of a selective 2-D query (`x BETWEEN … AND y BETWEEN …`) is
  * the files it CANNOT skip: a layout sorted by x alone gives tight
  * per-file min/max envelopes on x but every file spans the full y
  * range, so a y-predicate prunes nothing. Interleaving the bits of (x, y) into one z-value and
  * range-partitioning + sorting by it bounds every file to a small
  * rectangle of the (x, y) plane — parquet footer min/max stats (or
  * Iceberg manifest ranges) then skip files on EITHER predicate. The
  * z-value is pure integer arithmetic (min-max scale then bit
  * interleave via div/mod — no engine-specific bit intrinsics), so the
  * mapping is reproducible in any engine and sits under the DuckDB
  * oracle gate. */
object Layout {

  /** Spread `ds` round-robin over the session parallelism before a
    * CPU-fat per-row stage (regex extraction, chunking, synthetic media
    * encode/decode). Such a stage runs one task per input split, and an
    * sf0.x `documents.parquet` (or a one-file micro-batch) is one split,
    * so unspread it runs single-core (the sf0.1 media lanes: 11 s on one
    * task vs ~1.5 s spread). The one place every query spreads its
    * input: an input that already reads as enough splits still pays the
    * exchange here. */
  def spread[T](ds: Dataset[T]): Dataset[T] =
    ds.repartition(ds.sparkSession.sparkContext.defaultParallelism)

  /** Eagerly materialize `ds` and cut its lineage: the one place any
    * operator materializes a Dataset (every round of the graph, IVF,
    * BPE and distributed CC loops, the sketch tables probed `d` ways).
    * Without it an iterative loop's plan grows with its round count, or
    * doubles per round where a round reads its input twice. The rule
    * reads the session and has no knob of its own: when the deployment
    * set `SparkContext.setCheckpointDir`, a reliable `checkpoint()`
    * that survives executor loss; otherwise a `localCheckpoint()`,
    * whose blocks die with their executor. The reliable branch writes
    * while it computes: one job per stage of the plan and one
    * evaluation per row, the same as the local branch (measured on
    * Spark 4.1, `local[4]`), so it needs no persist around it.
    * Reliable checkpoint files are never overwritten; a deployment
    * that sets the checkpoint dir should also set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so files
    * of unreachable checkpoints are removed. */
  def materialize[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint()
    else ds.localCheckpoint()

  /** Append a Morton z-value column interleaving `bits` bits of the
    * min-max-scaled `x` and `y` columns (x owns even bit positions, y
    * odd). One tiny min/max aggregate is broadcast back over the input
    * — the only wide operation; a lakehouse deployment reads those
    * bounds from table metadata instead of scanning. Scaling is integer
    * (`(v - lo) * (2^bits - 1) div (hi - lo)`), exact while
    * `range * (2^bits - 1)` fits int64 — enforced. Constant columns
    * scale to 0 (the degenerate-range guard both engines share). */
  def zValue(df: DataFrame, x: String, y: String, bits: Int = 8,
      out: String = "zval"): DataFrame = {
    require(bits >= 1 && bits <= 16, s"zValue: bits must be in [1,16], got $bits")
    Seq(x, y).foreach { c =>
      val t = df.schema(c).dataType.typeName
      require(Seq("byte", "short", "integer", "long").contains(t),
        s"zValue: column '$c' must be integral, got $t — bucketize floats/" +
          "timestamps to integers first (epoch seconds, fixed-point)")
      require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"zValue: plain identifier column names only, got '$c'")
    }
    val scaleMax = (1L << bits) - 1
    val mm = df.agg(
      min(col(x)).as("__xlo"), max(col(x)).as("__xhi"),
      min(col(y)).as("__ylo"), max(col(y)).as("__yhi"))
    // overflow guard rides the broadcast stats row (the pageRank
    // weight-guard pattern): without it Spark (non-ANSI) silently WRAPS
    // (hi - lo) * scaleMax on a wide-range column — meaningless
    // z-values and cross-engine divergence — while DuckDB errors
    val maxRange = Long.MaxValue / scaleMax
    def scaled(c: String, lo: String, hi: String) =
      when(col(hi) - col(lo) > maxRange,
        raise_error(concat(lit(s"zValue: range of '$c' exceeds $maxRange " +
          s"— (hi - lo) * $scaleMax would overflow int64; pre-bucketize: "),
          (col(hi) - col(lo)).cast("string"))))
        .otherwise(when(col(hi) === col(lo), lit(0L))
          .otherwise(expr(s"(($c - $lo) * ${scaleMax}L) div ($hi - $lo)")))
    val z = (0 until bits).map { i =>
      expr(s"((__xs div ${1L << i}L) % 2) * ${1L << (2 * i)}L") +
        expr(s"((__ys div ${1L << i}L) % 2) * ${1L << (2 * i + 1)}L")
    }.reduce(_ + _)
    df.crossJoin(broadcast(mm))
      .withColumn("__xs", scaled(x, "__xlo", "__xhi"))
      .withColumn("__ys", scaled(y, "__ylo", "__yhi"))
      .withColumn(out, z)
      .drop("__xs", "__ys", "__xlo", "__xhi", "__ylo", "__yhi")
  }

  /** The matching DuckDB SQL for [[zValue]] — generated from the same
    * (bits, scaleMax) parameters as the Scala program so the two cannot
    * drift. `//` is DuckDB floor division ≡ Spark `div` on the
    * non-negative scaled values. `keyCols` are carried through
    * unchanged alongside the z-value. */
  def zValueSql(table: String, x: String, y: String, bits: Int,
      keyCols: Seq[String]): String = {
    val scaleMax = (1L << bits) - 1
    val keys = keyCols.mkString(", ")
    val xs = s"CASE WHEN __xhi = __xlo THEN 0 ELSE (($x - __xlo) * $scaleMax) // (__xhi - __xlo) END"
    val ys = s"CASE WHEN __yhi = __ylo THEN 0 ELSE (($y - __ylo) * $scaleMax) // (__yhi - __ylo) END"
    val terms = (0 until bits).map { i =>
      s"((__xs // ${1L << i}) % 2) * ${1L << (2 * i)} + " +
        s"((__ys // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
    s"""WITH mm AS (
       |  SELECT min($x) AS __xlo, max($x) AS __xhi,
       |         min($y) AS __ylo, max($y) AS __yhi FROM $table),
       |scaled AS (
       |  SELECT $keys, ($xs) AS __xs, ($ys) AS __ys FROM $table, mm)
       |SELECT $keys, ($terms)::BIGINT AS zval FROM scaled""".stripMargin
  }

  /** Cluster `df` into `nFiles` parquet files by z-value:
    * `repartitionByRange` gives each file a contiguous z-range (one
    * range-exchange — same shuffle a plain sort-by-x layout pays), and
    * the within-partition sort keeps row groups tight too. The z column
    * is retained so readers can range-prune on it directly. */
  def zOrderWrite(df: DataFrame, x: String, y: String, path: String,
      bits: Int = 8, nFiles: Int = 16): Unit =
    zValue(df, x, y, bits)
      .repartitionByRange(nFiles, col("zval"))
      .sortWithinPartitions(col("zval"))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Small-file compaction planner (the Iceberg `rewrite_data_files`
    * bin-pack analog): assign each file in an inventory
    * (`pathCol`, `sizeCol` bytes, optional `partCols` table partitions)
    * to a rewrite bin of ≈ `targetBytes`. The rule is a deterministic
    * running-sum chunk — files ordered by path within their partition,
    *   bin = (cumulative bytes BEFORE this file) div targetBytes —
    * the Packing.packSequences fold on metadata: every bin is a
    * contiguous path run covering one target-width band of cumulative
    * bytes, so each bin's total lands in [target, target + one file)
    * except the partition tail, and an oversize file occupies its band(s)
    * alone (its successor starts past them — bin ids label bands, so
    * they need not be contiguous). Greedy first-fit would pack ~1 file
    * tighter but is an inherently sequential driver loop; the
    * running-sum rule is one window over the file INVENTORY — metadata,
    * ~10^6 rows per 100 TB at 128 MB files, partitioned by table
    * partition when present so no window key outgrows a partition's file
    * count. The executor of the plan is `groupBy(bin)` + per-bin rewrite
    * (or `repartitionByRange` on bin for the actual row shuffle).
    * Output: inventory columns + (bin, bin_pos). */
  def compactionPlan(inventory: DataFrame, pathCol: String, sizeCol: String,
      targetBytes: Long, partCols: Seq[String] = Nil): DataFrame = {
    require(targetBytes >= 1, "compactionPlan: need targetBytes >= 1")
    val t = inventory.schema(sizeCol).dataType.typeName
    require(Seq("byte", "short", "integer", "long").contains(t),
      s"compactionPlan: size column '$sizeCol' must be integral bytes, got $t")
    val w0 = if (partCols.isEmpty) org.apache.spark.sql.expressions.Window.partitionBy()
      else org.apache.spark.sql.expressions.Window.partitionBy(partCols.map(col): _*)
    val w = w0.orderBy(col(pathCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val sizeG = when(col(sizeCol) < 0L,
      raise_error(concat(lit(s"compactionPlan: negative $sizeCol for "), col(pathCol))))
      .otherwise(col(sizeCol).cast("long"))
    inventory
      .withColumn("__before", coalesce(sum(sizeG).over(w), lit(0L)))
      .withColumn("bin", expr(s"__before div ${targetBytes}L"))
      .withColumn("bin_pos", expr(s"__before % ${targetBytes}L"))
      .drop("__before")
  }

  /** Per-file skip evidence for a box predicate `x ∈ [xLo,xHi] ∧
    * y ∈ [yLo,yHi]` over a written layout: ONE pass groups rows by
    * `input_file_name` and keeps each file's min/max envelope — exactly
    * the stats a parquet footer / Iceberg manifest stores — then counts
    * files whose envelope misses the box (skippable without opening).
    * Returns (skippable, total). */
  def fileSkipStats(spark: SparkSession, path: String, x: String, y: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): (Long, Long) = {
    val env = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(x)).as("xmin"), max(col(x)).as("xmax"),
        min(col(y)).as("ymin"), max(col(y)).as("ymax"))
    val skip = env.agg(
      coalesce(sum(when(col("xmax") < xLo || col("xmin") > xHi ||
        col("ymax") < yLo || col("ymin") > yHi, 1L).otherwise(0L)), lit(0L)).as("s"),
      count(lit(1)).as("t")).head()
    (skip.getAs[Long]("s"), skip.getAs[Long]("t"))
  }
}
