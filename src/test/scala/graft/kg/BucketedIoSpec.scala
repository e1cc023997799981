package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.kg.io.BucketedTableIO

/** The co-located-join evidence for the north rule's url-hash layout:
  * two tables bucketed on the same key by the same bucket count must
  * join WITHOUT any exchange — the shuffle was paid once at write time
  * and amortizes over every subsequent join/aggregation. */
class BucketedIoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("joins between co-bucketed tables plan zero exchanges and match plain joins") {
    val io = new BucketedTableIO(8, "doc_id")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val left = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    val right = docs.select(col("doc_id"), col("source"))
    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")
    // at test scale the planner would BROADCAST the small side (and skip
    // bucketed reads entirely); disable it so the plan shows what
    // bucketing buys when both sides are too big to broadcast — the
    // 100-TB case this layout exists for
    val oldBc = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      io.write(left, "bkt_left")
      io.write(right, "bkt_right")
      assert(io.exists(spark, "bkt_left") && io.exists(spark, "bkt_right"))

      val joined = io.read(spark, "bkt_left").join(io.read(spark, "bkt_right"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")

      // per-key aggregation over one bucketed table: also exchange-free
      val agg = io.read(spark, "bkt_left").groupBy("doc_id").agg(sum("n_chars"))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        s"aggregation on the bucket key must not shuffle:\n$aggPlan")

      // and the results are exactly the plain join's
      val got = joined.orderBy("doc_id").collect().map(_.mkString("|"))
      val want = left.join(right, "doc_id").orderBy("doc_id").collect().map(_.mkString("|"))
      assert(got.sameElements(want))
    } finally {
      oldBc match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  test("write clears an orphaned warehouse location a previous JVM left behind") {
    val io = new BucketedTableIO(4, "doc_id")
    val table = "bkt_orphan"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // the table's default location holds files, but the catalog (a fresh
    // in-memory one after a restart) does not know the table
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), table)
    spark.range(3).toDF("doc_id").write.mode("overwrite").parquet(loc.toString)
    assert(!spark.catalog.tableExists(table))
    try {
      io.write(spark.range(10, 15).toDF("doc_id"), table)
      assert(io.read(spark, table).collect().map(_.getLong(0)).sorted.toSeq == (10L until 15L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
