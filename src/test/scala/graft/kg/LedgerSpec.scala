package graft.kg

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.io.Ledger
import java.nio.file.Files

/** The local disk under the `ledgertest:` scheme: a FilterFileSystem
  * (LocalFileSystem) over a raw local FS whose URI is not `file:`. A
  * `java.io.File` handed a `ledgertest:` path names a relative path that
  * does not exist, so any such call left behind the ledger finds nothing.
  * Creating a file that [[LedgerTestFs.failCreate]] matches throws: the
  * one way a test makes a write fail at a chosen place. */
class LedgerTestFs extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("ledgertest:///")
}) {
  override def getScheme: String = "ledgertest"

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (LedgerTestFs.failCreate(f)) throw new java.io.IOException(s"injected create failure: $f")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object LedgerTestFs {
  /** The paths whose create fails. A test sets it around the run it
    * breaks and resets it in a `finally`. */
  @volatile var failCreate: Path => Boolean = _ => false

  /** A fresh temp dir under the `ledgertest:` scheme. */
  def root(spark: SparkSession, name: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.ledgertest.impl", classOf[LedgerTestFs].getName)
    "ledgertest:" + Files.createTempDirectory(name).toString
  }

  /** Run `body` with every create of a file under a dir named `dir` failing. */
  def failingUnder[T](dir: String)(body: => T): T = {
    failCreate = _.toString.contains(s"/$dir/")
    try body finally failCreate = _ => false
  }
}

/** The versioned-dir ledger's read, replay and prune rules, on a
  * non-local scheme. */
class LedgerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def root(): String = LedgerTestFs.root(spark, "ledger")
  private def write(l: Ledger, v: Long, rows: Long): Unit =
    spark.range(rows).write.mode("overwrite").parquet(l.path(v))
  /** A dir of the version that a writer died in: data, no `_SUCCESS`. */
  private def writeIncomplete(l: Ledger, v: Long): Unit = {
    write(l, v, 1)
    val marker = new Path(l.path(v), "_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(marker, false)
  }
  private def dirNames(dir: String): Set[String] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).filterNot(_.startsWith(".")).toSet
  }

  test("an incomplete dir is invisible; latest and latest-below pick live versions") {
    // `v<n>` label versions and the stream's `batch=<n>` landing dirs
    for (prefix <- Seq("v", "batch=")) {
      val l = new Ledger(spark, root(), prefix)
      assert(l.list.isEmpty && l.latest().isEmpty)
      Seq(1L, 2L, 10L).foreach(write(l, _, 3))
      writeIncomplete(l, 11)
      assert(l.path(11).startsWith("ledgertest:") && l.path(11).endsWith(s"/${prefix}11"))
      assert(!Ledger.complete(spark, l.path(11)) && Ledger.complete(spark, l.path(10)))
      assert(l.list == Seq(1L, 2L, 10L), prefix)
      assert(l.latest().contains(10L), prefix)
      assert(l.latest(below = 10).contains(2L), prefix)
      assert(l.latest(below = 1).isEmpty, prefix)
      assert(l.upTo(2) == Seq(l.path(1), l.path(2)), prefix)
      assert(l.upTo(11) == Seq(1L, 2L, 10L).map(l.path), prefix)
    }
  }

  test("a replay of version v overwrites it in place and still finds its base") {
    val l = new Ledger(spark, root(), "summary_v")
    write(l, 1, 2)
    write(l, 2, 3)
    write(l, 2, 5)
    assert(l.list == Seq(1L, 2L))
    assert(spark.read.parquet(l.path(2)).count() == 5L)
    assert(l.latest(below = 2).contains(1L))
  }

  test("prune keeps exactly the base and the written version of its prefix") {
    val r = root()
    val l = new Ledger(spark, r, "v")
    write(l, 1, 1)
    writeIncomplete(l, 2)
    write(l, 3, 1)
    write(l, 4, 1)
    val other = new Ledger(spark, r, "other_v")
    write(other, 1, 1)
    val base = l.latest(below = 5).get
    write(l, 5, 1)
    l.prune(base)
    assert(dirNames(r) == Set("v4", "v5", "other_v1"))
    assert(l.list == Seq(4L, 5L))
    l.prune(base)
    assert(dirNames(r) == Set("v4", "v5", "other_v1"), "a repeated prune removes nothing more")
  }
}
