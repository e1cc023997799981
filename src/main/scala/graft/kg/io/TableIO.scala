package graft.kg.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Pluggable table I/O (SURVEY §7.0): the north rule targets Iceberg
  * tables, but no Iceberg runtime jar ships in this sandbox (offline
  * coursier), so the engine codes against this trait. Local tests/benches
  * use [[ParquetTableIO]]; a cluster deployment registers
  * [[IcebergTableIO]] (thin mapping to `writeTo`/`readTable` — compiles
  * only with the iceberg-spark-runtime jar on the classpath, so it is
  * expressed here as documentation + format strings, not dead imports).
  */
trait TableIO {
  def read(spark: SparkSession, table: String): DataFrame
  def write(df: DataFrame, table: String, mode: SaveMode = SaveMode.Overwrite): Unit
  def exists(spark: SparkSession, table: String): Boolean
}

/** Parquet-directory tables under a root path: the stage checkpoints.
  * The url-hash layout is [[BucketedTableIO]]'s. */
final class ParquetTableIO(root: String) extends TableIO {

  private def path(table: String) = s"$root/$table"

  // the schema of each table this instance last wrote: a read with the
  // known schema skips the footer-merge job of schema inference. A
  // concurrent map, since stage writes run in parallel.
  private val written = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def read(spark: SparkSession, table: String): DataFrame =
    Option(written.get(table)).fold(spark.read)(spark.read.schema).parquet(path(table))

  def write(df: DataFrame, table: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    df.write.mode(mode).parquet(path(table))
    written.put(table, df.schema)
  }

  def exists(spark: SparkSession, table: String): Boolean = Ledger.complete(spark, path(table))
}

/** Spark-native BUCKETED managed tables — the executable local analog
  * of Iceberg's `bucket(N, col)` partition transform: `bucketBy` +
  * `sortBy` through `saveAsTable` records bucketing metadata in the
  * catalog, so a join or aggregation between two tables bucketed on the
  * same key by the same bucket count plans ZERO exchanges (the
  * co-located join the north rule's url-hash layout exists for;
  * BucketedIoSpec asserts the exchange-free plan). Plain
  * `.parquet(path)` writes keep NO such metadata — which is exactly why
  * the pipeline's narrow stages avoid runtime repartitions and leave
  * layout to the table format. */
final class BucketedTableIO(buckets: Int, bucketCol: String) extends TableIO {
  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
  def write(df: DataFrame, table: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    val spark = df.sparkSession
    // cross-JVM restart: the default in-memory catalog forgets managed
    // tables, but their warehouse directories survive — a fresh
    // saveAsTable into an existing location throws. Clear the orphaned
    // location first (table not in the catalog ∧ dir present ⇒ a
    // previous JVM's write; with a persistent metastore the table exists
    // and resume skips the write instead).
    if (!spark.catalog.tableExists(table)) {
      val loc = new Path(spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    df.write.mode(mode)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }
  def exists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)
}

/** Iceberg deployment notes (cluster-only; jar absent here):
  *
  * {{{
  * // spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \
  * //   --conf spark.sql.catalog.cat=org.apache.iceberg.spark.SparkCatalog \
  * //   --conf spark.sql.catalog.cat.type=hive
  * // CREATE TABLE cat.kg.pages (url string, warc_ts timestamp, html binary,
  * //   text string, lang string) PARTITIONED BY (bucket(1024, url), days(warc_ts))
  * // read:  spark.read.format("iceberg").load("cat.kg.pages")
  * // write: df.writeTo("cat.kg.nodes").createOrReplace()
  * // resume ledger = Iceberg snapshot ids instead of _SUCCESS markers.
  * }}}
  */
object IcebergTableIO {
  val readFormat = "iceberg"
}
