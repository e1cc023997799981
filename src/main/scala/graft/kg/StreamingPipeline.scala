package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._
import graft.kg.Schema._
import graft.kg.io.{Ledger, ParquetTableIO}

/** Streaming ingest path: the KG extract→clean→triples stages are narrow
  * per-row transforms, so they apply unchanged to a streaming
  * Dataset[Page] (Structured Streaming micro-batches). The STATEFUL half
  * — linking + canonicalization — runs on a periodic cadence inside the
  * same stream via [[runIncremental]]: accumulated triples re-link and
  * re-canonicalize with an exact connected components over slim
  * accumulated state, never re-extracting — the lambda shape for a
  * continuous 100-TB/day KG build.
  */
object StreamingPipeline {

  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** Streaming source → typed pages. */
  def readPages(spark: SparkSession, dir: String): Dataset[Page] = {
    import spark.implicits._
    spark.readStream.schema(pageSchema).parquet(dir).as[Page]
  }

  /** Run a bounded stream to its end: `df` writes through `sink` with the
    * checkpoint at `checkpoint`, in `outputMode`, under
    * `Trigger.AvailableNow`, and the call returns once the query has
    * stopped (rethrowing its failure). The contract every bounded lane
    * keeps:
    *  - AvailableNow drains the files present when the query starts, in
    *    as many micro-batches as the source's `maxFilesPerTrigger`
    *    makes, then stops;
    *  - `checkpoint` is either fresh (`TmpDirs.fresh`: a reused dir
    *    would resume the previous stream and skip its batches) or the
    *    lane's own work dir's, which is what makes a crashed lane
    *    restartable. Give it explicitly: Spark's default puts the offset
    *    and state-store logs under `java.io.tmpdir`;
    *  - a `foreachBatch` body runs at least once per batch (a crash
    *    between its write and the commit log replays it), so it
    *    OVERWRITES a location keyed by its `batchId` and never appends:
    *    a replayed batch lands on itself.
    * The runner does not persist the batch: a body that reads it twice
    * persists and releases it itself. */
  def drain(df: DataFrame, checkpoint: String, outputMode: String = "append")(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    sink(df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow()))
      .start()
      .awaitTermination()

  // ------------------------------------------------- incremental KG build
  /** The STATEFUL half of the KG build on a stream — linking +
    * canonicalization, not just extraction. Extraction runs inside each
    * micro-batch (stateless, batch code verbatim), and batch `b` lands
    * its triples in `triples_stream/batch=<b>` (the [[drain]] replay
    * rule: a replay overwrites it). Every `recanonEvery` batches, and
    * once after the stream drains, the landed triples fold through the
    * batch build's own link → canonicalize path ([[recanonicalize]]): an
    * EXACT connected components over the whole coverage's CC graph, so
    * every fold ships the tables the batch pipeline would build from the
    * same triples.
    *
    * A fold is keyed by the micro-batch id it folds through, and its
    * state lives in [[graft.kg.io.Ledger]] dirs alone: the fold through
    * `b` commits by writing `cc_labels/v<b>` after its outputs. Both
    * call sites fold through `b` only when the latest committed version
    * is below `b` — at the cadence `b` is the batch's id, after the
    * stream the latest landed batch. So a replayed batch whose fold
    * committed does not fold again, a stream whose last batch lands on
    * the cadence runs no drain fold, and a crash anywhere in a fold
    * leaves the version uncommitted, so the restart folds again, reusing
    * a complete link stage. The batches a fold through `b` adds are the
    * ids in `(v_prev, b]`; seeding the CC with the previous labeling
    * ([[ConnectedComponents.incremental]]) pays only with such a true
    * delta edge set.
    *
    * Per-batch lineage (north_rule): (batch_id, partition_id, rows)
    * under `stream_lineage` — the streaming lane's per-partition
    * ledger, conservation-checkable against the triples table. */
  def runIncremental(spark: SparkSession, pages: Dataset[Page], workDir: String,
      recanonEvery: Int = 2, extractParallelism: Int = 0): Unit = {
    val landed = new Ledger(spark, s"$workDir/triples_stream", "batch=")
    val labels = new Ledger(spark, s"$workDir/cc_labels", "v")
    def foldThrough(b: Long): Unit =
      if (labels.latest().forall(_ < b)) recanonicalize(spark, workDir, landed, labels, b)
    // a micro-batch is as parallel as its FILE COUNT (one scan split per
    // small file), so a 1-file trigger runs the regex-heavy extraction
    // nearly single-core. extractParallelism > 0 repartitions the pages
    // WITHIN each micro-batch before extraction — cheap when the page
    // projection is slim (html already dropped/null); for a fat-row
    // corpus prefer more files per trigger over this shuffle.
    val src = if (extractParallelism > 0) pages.repartition(extractParallelism) else pages
    drain(Pipeline.triplesFromPages(spark, src).toDF(), s"$workDir/ckpt")(
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        // two actions read the batch (landing + lineage): persist so the
        // regex-heavy extraction runs once per row, not twice. Readers
        // that read the whole dir see `batch` as a discovered partition
        // column and project it away.
        batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          batch.write.mode(SaveMode.Overwrite).parquet(landed.path(batchId))
          batch.groupBy(spark_partition_id().as("partition_id"))
            .agg(count(lit(1)).as("rows"))
            .write.mode(SaveMode.Overwrite).parquet(s"$workDir/stream_lineage/batch_id=$batchId")
        } finally batch.unpersist(false)
        if (recanonEvery > 0 && (batchId + 1) % recanonEvery == 0) foldThrough(batchId)
        ()
      })
    // fold what the cadence has not: an off-cadence end, or a crash
    // between a batch's landing and its fold's commit
    landed.latest().foreach(foldThrough)
  }

  /** The fold through batch `b`, in commit order:
    *  1. the batch build's link stage over the landed batches ≤ `b`,
    *     checkpointed as `link_stage/{linked_,alias_}<b>` (reused when
    *     complete: linking is a pure function of those batches, so a fold
    *     interrupted after it resumes from its parquet instead of
    *     re-running alias discovery + ambiguity resolution);
    *  2. [[Pipeline.canonicalize]], an exact CC over the coverage's graph;
    *  3. `nodes_stream` and `edges_stream`, as concurrent jobs;
    *  4. `cc_labels/v<b>`, whose `_SUCCESS` commits the fold. Labels are
    *     VERSIONED dirs: overwriting the parquet a lazy plan still reads
    *     is the classic self-overwrite corruption;
    *  5. prune the labels older than the previous version and every
    *     link stage of an older batch: without it link_stage grows as
    *     O(folds × corpus) and cc_labels as O(folds × vocabulary). */
  private def recanonicalize(spark: SparkSession, workDir: String, landed: Ledger,
      labels: Ledger, b: Long): Unit = {
    import spark.implicits._
    val linkStage = new ParquetTableIO(s"$workDir/link_stage")
    // read with the schema the batch writes used: a known schema skips
    // the parquet footer-merge job that schema inference launches
    val linked = Pipeline.link(spark,
      spark.read.schema(Encoders.product[Triple].schema).parquet(landed.upTo(b): _*).as[Triple],
      (linkStage, s"linked_$b"), (linkStage, s"alias_$b"), reuse = true)
    val canonical = Pipeline.canonicalize(spark, linked.mentions, linked.aliases)
    try {
      Pipeline.inParallel(Seq(
        () => canonical.nodes.write.mode(SaveMode.Overwrite).parquet(s"$workDir/nodes_stream"),
        () => canonical.edges.write.mode(SaveMode.Overwrite).parquet(s"$workDir/edges_stream")))
      canonical.labels.write.mode(SaveMode.Overwrite).parquet(labels.path(b))
    } finally canonical.unpersistCached()
    labels.prune(labels.latest(below = b).getOrElse(b))
    Seq("linked_", "alias_").foreach(new Ledger(spark, s"$workDir/link_stage", _).prune(b))
  }
}
