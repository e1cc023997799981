package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.kg.TestSpark
import graft.kg.io.ParquetTableIO
import java.nio.file.Files

class SkewIoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin equals plain join on a hot-key distribution") {
    // hot key: 80% of fact rows share entity "cnn"
    val fact = (0 until 2000).map { i =>
      (s"url$i", if (i % 5 != 0) "cnn" else s"ent${i % 37}")
    }.toDF("url", "entity")
    val dim = (Seq("cnn") ++ (0 until 37).map(i => s"ent$i"))
      .map(e => (e, s"canon_$e")).toDF("entity", "canonical")

    val plain = fact.join(dim, Seq("entity"))
      .select("url", "entity", "canonical").as[(String, String, String)].collect().toSet
    val salted = Skew.saltedJoin(fact, dim, "entity", saltBy = "url", nSalts = 8)
      .select("url", "entity", "canonical").as[(String, String, String)].collect().toSet
    assert(salted == plain)
    assert(plain.size == 2000)
  }

  test("saltedSum equals plain aggregation") {
    val df = (0 until 5000).map(i => (if (i % 3 == 0) "hot" else s"k${i % 11}", s"u$i", 1.0))
      .toDF("key", "url", "w")
    val plain = df.groupBy($"key").agg(sum($"w").as("s"))
      .as[(String, Double)].collect().toMap
    val salted = Skew.saltedSum(df, Seq("key"), "w", saltBy = "url", nSalts = 8)
      .as[(String, Double)].collect().toMap
    assert(salted == plain)
  }

  test("ParquetTableIO round-trips a table") {
    val root = Files.createTempDirectory("tio").toString
    val io = new ParquetTableIO(root)
    val df = (0 until 100).map(i => (s"https://x/$i", s"text $i")).toDF("url", "text")
    io.write(df, "pages")
    assert(io.exists(spark, "pages"))
    val back = io.read(spark, "pages")
    assert(back.columns.sorted.toSeq == Seq("text", "url"))
    assert(back.count() == 100)
    assert(!io.exists(spark, "missing"))
  }
}
