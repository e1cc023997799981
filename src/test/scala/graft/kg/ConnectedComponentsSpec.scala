package graft.kg

import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Both execution paths must agree: driver union-find (small-graph fast
    * path) and the distributed label-propagation loop. */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = edges.toDF("src", "dst")
    val driver = ConnectedComponents.run(spark, df).as[(Long, Long)].collect().toMap
    val dist = ConnectedComponents.run(spark, df, driverSolveThreshold = -1L)
      .as[(Long, Long)].collect().toMap
    assert(driver == dist, s"driver=$driver dist=$dist")
    driver
  }

  test("driver edge budget is bounded by the heap and by the result cap") {
    val GiB = 1L << 30
    // heap side: 5% of the heap at 300 B/edge, under any cap it fits
    assert(ConnectedComponents.edgeBudget(4 * GiB, 0L, 0.05) == (4 * GiB * 0.05 / 300).toLong)
    assert(ConnectedComponents.edgeBudget(4 * GiB, GiB, 0.05) == (4 * GiB * 0.05 / 300).toLong)
    // cap side: a 16 MiB cap failed a 1.5 M-row collect at ~19.7 B/row;
    // the budget's collect of budget + 1 rows stays under it
    val cap = 16L << 20
    val capped = ConnectedComponents.edgeBudget(4 * GiB, cap, 0.05)
    assert(capped == cap / 24 && capped < (4 * GiB * 0.05 / 300).toLong)
    assert((capped + 1) * 20 <= cap)
    assert(ConnectedComponents.edgeBudget(400 * GiB, GiB, 0.05) == GiB / 24)
    // the session's budget reads its own heap and cap
    val conf = spark.sparkContext.getConf
    assert(ConnectedComponents.driverEdgeBudget() == ConnectedComponents.edgeBudget(
      Runtime.getRuntime.maxMemory, conf.getSizeAsBytes("spark.driver.maxResultSize", "1g"), 0.05))
  }

  test("path graph contracts to min id") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("long chain (pointer jumping beats 25-round limit)") {
    val n = 200L
    val got = cc((1L until n).map(i => (i, i + 1)))
    assert(got.size == n.toInt)
    assert(got.values.forall(_ == 1L))
  }

  test("star graph") {
    val got = cc(Seq((10L, 1L), (10L, 2L), (10L, 3L)))
    assert(got.values.forall(_ == 1L))
  }

  test("disjoint components keep separate labels") {
    val got = cc(Seq((1L, 2L), (5L, 6L), (6L, 7L)))
    assert(got(1L) == 1L && got(2L) == 1L)
    assert(got(5L) == 5L && got(6L) == 5L && got(7L) == 5L)
  }

  test("self loops and duplicates are harmless") {
    val got = cc(Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("empty edge set") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("incremental CC: seeded delta == full rebuild, rounds collapse") {
    // history: two resolved 256-chains; delta: one bridge edge
    def chain(base: Long): Seq[(Long, Long)] =
      (0L until 255L).map(i => (base + i, base + i + 1))
    val history = chain(0L) ++ chain(1000L)
    val delta = Seq((255L, 1000L))
    val prev = ConnectedComponents.run(spark, history.toDF("src", "dst"))

    val (inc, incRounds) = ConnectedComponents.incrementalWithStats(
      spark, prev, delta.toDF("src", "dst"), driverSolveThreshold = -1L)
    val (full, fullRounds) = ConnectedComponents.runWithStats(
      spark, (history ++ delta).toDF("src", "dst"), driverSolveThreshold = -1L)

    // identical labels, INCLUDING component ids (representatives are min
    // ids of the prior partition, so seeding adds no new minima)
    assert(inc.as[(Long, Long)].collect().toMap == full.as[(Long, Long)].collect().toMap)
    // the seeded loop pays for the delta's structure (stars + 1 edge,
    // diameter ≤ 5), not for re-contracting two 256-chains
    assert(fullRounds >= 9, s"full rebuild rounds: $fullRounds")
    assert(incRounds <= 4, s"incremental rounds: $incRounds (full: $fullRounds)")
  }
}
