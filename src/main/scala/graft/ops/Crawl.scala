package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl-frontier scheduling: turn a scored frontier into politeness-
  * bounded fetch rounds — at most `perHostPerRound` urls per host per
  * round, highest-priority first (the scheduling constraint every real
  * crawler enforces so a big site doesn't absorb the whole fleet while
  * rate limits throttle it).
  *
  * Scale shape: ONE hash shuffle on host + a per-host window sort. The
  * window partition is a single host's frontier — bounded by site size,
  * not corpus size; per-host skew (a 10^8-page host) surfaces through
  * the always-on `frontier_skew` observe, and the fix at that scale is
  * the repo's time-sliced window idiom (ops.Temporal.asofJoinTimeSliced's
  * pattern: pre-split the hot host by a priority band, then rank within
  * band) — not needed until a single host approaches a partition's
  * memory. */
object Crawl {

  /** Change-rate estimation from revisit history — the published
    * Cho–García-Molina Poisson estimator λ̂ = −ln(1 − X/n) for a page
    * revisited n times of which X found it changed; the recrawl
    * scheduler feeds this straight into [[scheduleRounds]] as the
    * priority. Rate is emitted in integer MICRO-NATS per visit (the
    * repo's floor-of-double-ln idiom — bit-stable cross-engine); X
    * clamps to n−1 (a page that changed on every single visit has an
    * unbounded MLE — the clamp is the standard regularization, and a
    * single-visit history therefore always estimates 0). ONE
    * partial-agg shuffle on url. Output: (url, n_visits, n_changed,
    * rate_micronats). */
  def changeRate(history: DataFrame, url: String, changed: String): DataFrame =
    history
      .select(col(url).cast("string").as("url"), col(changed).cast("long").as("chg"))
      .groupBy(col("url"))
      .agg(count(lit(1)).as("n_visits"), sum(col("chg")).as("n_changed"))
      .select(col("url"), col("n_visits"), col("n_changed"),
        expr("CAST(floor(1000000.0 * ln(CAST(n_visits AS DOUBLE) / " +
          "(n_visits - LEAST(n_changed, n_visits - 1)))) AS LONG)")
          .as("rate_micronats"))

  /** The full frontier row + `round`: round r fetches the
    * (r·K, (r+1)·K]-th urls of each host by (priority DESC, url ASC —
    * deterministic tie-break). Every caller column rides through —
    * e.g. the [[changeRate]] priority inputs a fetcher wants downstream
    * — the windows reference the caller's columns by name directly. */
  def scheduleRounds(frontier: DataFrame, url: String, host: String,
      priority: String, perHostPerRound: Int): DataFrame = {
    require(perHostPerRound > 0, s"perHostPerRound must be positive: $perHostPerRound")
    // `round` and the internal skew-count column are WRITTEN onto the
    // pass-through frontier row — a caller column of the same name
    // would be silently overwritten (r5 ADVICE): reserve them loudly.
    // Case-insensitively: `withColumn` resolves names that way by default
    val taken = frontier.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    require(!taken("round"),
      "scheduleRounds: the frontier must not already carry a 'round' column " +
        "(reserved for the schedule output); rename it upstream")
    require(!taken("__sched_host_n"),
      "scheduleRounds: '__sched_host_n' is a reserved internal column name")
    val w = Window.partitionBy(col(host))
      .orderBy(col(priority).desc, col(url).asc)
    frontier
      .withColumn("round",
        ((row_number().over(w) - 1) / perHostPerRound).cast("long"))
      // rides the same host partitioning; observe takes aggregates only,
      // so the per-host count lands in a column first
      .withColumn("__sched_host_n", count(lit(1)).over(Window.partitionBy(col(host))))
      .observe("frontier_skew", max(col("__sched_host_n")).as("max_host_frontier"))
      .drop("__sched_host_n")
  }
}
