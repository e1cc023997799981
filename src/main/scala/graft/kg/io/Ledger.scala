package graft.kg.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Versioned state dirs `<root>/<prefix><n>` on the root's Hadoop
  * FileSystem: the format every restartable streaming lane keeps its
  * state in (the KG fold's landed `triples_stream/batch=<n>`, its
  * `cc_labels/v<n>` and `link_stage/<stage>_<n>`, st_mv_refresh's
  * `summary_v<n>`, st_delta_pairs' index versions).
  * Version n is live once its dir is [[Ledger.complete]], so a writer
  * that dies mid-write leaves its dir invisible and the older versions
  * live, and an at-least-once replay of n overwrites n in place. */
final class Ledger(spark: SparkSession, root: String, prefix: String) {
  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (version, dir) of every dir the glob (under root) names, ascending. */
  private def dirs(glob: String, dirOf: Path => Path): Seq[(Long, Path)] =
    Option(fs.globStatus(new Path(s"$root/$glob"))).toSeq.flatten
      .map(st => dirOf(st.getPath))
      .flatMap(d => d.getName.stripPrefix(prefix).toLongOption.map(_ -> d))
      .sortBy(_._1)

  /** The live versions, ascending. */
  def list: Seq[Long] = dirs(s"$prefix*/_SUCCESS", _.getParent).map(_._1)

  /** The newest live version below `below`. */
  def latest(below: Long = Long.MaxValue): Option[Long] = list.filter(_ < below).lastOption

  def path(n: Long): String = s"$root/$prefix$n"

  /** The paths of every live version ≤ `b`. */
  def upTo(b: Long): Seq[String] = list.filter(_ <= b).map(path)

  /** After writing a version from `base` (the version itself when it has
    * none): delete every dir of the prefix older than `base`, complete or
    * not. Base and written version stay, so an at-least-once replay of
    * the written version still finds its base. */
  def prune(base: Long): Unit =
    dirs(s"$prefix*", identity).filter(_._1 < base).foreach(d => fs.delete(d._2, true))
}

object Ledger {
  /** A written dir is complete once its `_SUCCESS` marker exists. */
  def complete(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
