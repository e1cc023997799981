package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Layout.materialize

/** Graph analytics over the materialized KG tables
  * (/root/reference has no graph consumer for its store — this is the
  * analysis layer a KG engine owes its users). PageRank runs in pure
  * integer arithmetic: SCALE-scaled long ranks, per-edge floor division,
  * order-free long sums — so every iteration is bit-identical in any
  * engine and the result can sit under the hash-exact DuckDB oracle.
  * Float PageRank accumulates contributions in partition order and can
  * never be hash-compared cross-engine. */
object Graph {

  /** An edge list as undirected (a, b) pairs, a < b: self-loops and
    * duplicate or mirrored edges collapse. */
  private def undirected(edges: DataFrame, src: String, dst: String): DataFrame =
    edges
      .select(least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()

  /** Both directions of every [[undirected]] pair. */
  private def mirrored(und: DataFrame): DataFrame =
    und.unionAll(und.select(col("b").as("a"), col("a").as("b")))

  /** The weight column as a long, for the integer-exact operators: a
    * non-integral type fails `require` (a float weight would make `div`
    * coerce), and a value outside [lo, hi] raises in-plan via
    * `raise_error` — the check rides the first pass over the edges, so
    * a bad weight fails the job instead of wrapping silently. */
  private def guardedWeight(edges: DataFrame, weight: String, opName: String,
      typeNote: String, lo: Long, hi: Long, why: String): Column = {
    val wType = edges.schema(weight).dataType.typeName
    require(Seq("byte", "short", "integer", "long").contains(wType),
      s"$opName: weight column '$weight' must be integral, got $wType" + typeNote)
    val w = col(weight).cast("long")
    when(w > hi || w < lo,
      raise_error(concat(lit(s"$opName: weight must be in [$lo, $hi] $why: "),
        col(weight).cast("string"))))
      .otherwise(w)
  }

  private val exactNote = " — integer arithmetic is the operator's bit-exactness contract"

  /** Deterministic weighted PageRank over an edge list, with every edge
    * mirrored (src↔dst) so the bipartite url→entity KG keeps rank
    * circulating instead of draining into sinks. Fixed `iters` Jacobi
    * sweeps of
    *   r0(v)      = SCALE div N
    *   r_{k+1}(v) = (15·(SCALE div N)) div 100
    *              + (85·Σ_u (r_k(u)·w(u,v)) div wdeg(u)) div 100
    * (damping 0.85 as the 85/100 integer pair). Per iteration: one join
    * of the static weighted-degree edge table with the current ranks and
    * one partial-aggregated shuffle on dst — the standard iterative
    * DataFrame PageRank shape. Each sweep's ranks go through
    * [[Layout.materialize]], so lineage stays one sweep deep no matter
    * how many sweeps run, and the integer arithmetic makes the result
    * BIT-identical whichever materialization the session picks.
    * Output: (vertex, pr) for every vertex.
    *
    * Preconditions (enforced): the weight column must be an integral
    * type — a float weight would make `div` coerce and break the
    * bit-exact determinism that is this operator's contract — and
    * `scale * max(weight)` must stay below 2^63 (r ≤ SCALE, so the
    * per-edge product r·w is bounded by SCALE·max(w); with the default
    * SCALE=1e9 that caps weights at ~9.2e9). Weights must also be
    * POSITIVE — a zero/negative weight corrupts the weighted-degree
    * semantics (and a large negative one would wrap scale·w just like a
    * large positive one). Both bounds are checked lazily in-plan via
    * `raise_error` (zero extra pass — the check rides the degree
    * aggregation), so a bad weight fails the job loudly instead of
    * wrapping silently. */
  def pageRank(edges: DataFrame, src: String, dst: String, weight: String,
      iters: Int = 5, scale: Long = 1000000000L): DataFrame =
    prCore(edges, src, dst, weight, None, None, iters, scale, "pageRank")
      .withColumnRenamed("rank", "pr")

  /** WARM-START PageRank — incremental maintenance under crawl refresh:
    * resume the Jacobi sweeps from a prior run's ranks (`priorRanks`:
    * first column = vertex, second = rank — e.g. a previous run's
    * [[pageRank]] output, stored by the caller) instead of the uniform
    * init. The recurrence is MEMORYLESS, so on an unchanged graph j warm sweeps
    * from the k-sweep state are BIT-IDENTICAL to k+j cold sweeps (the
    * kg_pagerank_warm oracle is literally the cold (k+j)-sweep program —
    * the equality is under the hash gate, not a unit-test approximation);
    * after an edge delta the warm state is a near-fixed-point, so
    * re-convergence takes a fraction of the cold sweep count — the
    * incremental-CC pattern applied to ranking. Vertices absent from
    * `priorRanks` (new pages in the refreshed crawl) start at 0 and pick
    * up teleport + contribution mass from sweep 1. */
  def pageRankWarmStart(edges: DataFrame, src: String, dst: String, weight: String,
      priorRanks: DataFrame, iters: Int, scale: Long = 1000000000L): DataFrame = {
    val init = priorRanks.select(
      col(priorRanks.columns(0)).as("v"),
      col(priorRanks.columns(1)).cast("long").as("r0"))
    prCore(edges, src, dst, weight, None, Some(init), iters, scale, "pageRankWarmStart")
      .withColumnRenamed("rank", "pr")
  }

  /** Personalized PageRank — [[pageRank]]'s integer-exact recurrence
    * with the restart mass concentrated on `seeds` instead of uniform:
    * rank becomes proximity TO the seed set ("entities related to X" —
    * the KG-serving query behind related-entity panels and
    * retrieval-time graph expansion; same published PPR formulation,
    * integer Jacobi sweeps). Init and teleport are `scale/|seeds|` on
    * seed vertices and 0 elsewhere; everything else (mirrored edges,
    * weighted degrees, div arithmetic, guards) matches [[pageRank]]
    * bit-for-bit so the oracle unrolls the same recurrence.
    *
    * `seeds` (first column = vertex id) is seed-set-sized — tiny — so
    * it broadcasts into the flag join; the one `isEmpty` action on it
    * is deliberate (an empty seed set would otherwise surface as a
    * silent all-null div). Seeds that do not appear in the edge set are
    * IGNORED: the teleport denominator counts only seeds present in the
    * graph (an absent seed has no vertex row to receive restart mass —
    * counting it would silently deflate every rank), and if NO seed is
    * present the job fails loudly in-plan. Output: (vertex, ppr) for
    * every vertex. */
  def personalizedPageRank(edges: DataFrame, src: String, dst: String,
      weight: String, seeds: DataFrame, iters: Int = 5,
      scale: Long = 1000000000L): DataFrame = {
    val sd = seeds.select(col(seeds.columns.head).as("v")).distinct()
    require(!sd.isEmpty, "personalizedPageRank: empty seed set")
    prCore(edges, src, dst, weight, Some(sd), None, iters, scale, "personalizedPageRank")
      .withColumnRenamed("rank", "ppr")
  }

  /** The ONE copy of the bit-exactness-critical integer recurrence both
    * rank operators share. Uniform PageRank IS the seeds = all-vertices
    * special case (init and teleport `scale div n` everywhere), so the
    * seeded generalization reproduces [[pageRank]]'s arithmetic exactly
    * — the `CASE WHEN s = 1` collapses to the unconditional expression
    * when every vertex carries s = 1. `n` = seed count (vertex count in
    * the uniform case). */
  private def prCore(edges: DataFrame, src: String, dst: String,
      weight: String, seeds: Option[DataFrame], init: Option[DataFrame],
      iters: Int, scale: Long, opName: String): DataFrame = {
    val wGuarded = guardedWeight(edges, weight, opName, exactNote,
      1L, Long.MaxValue / scale, "(non-positive corrupts weighted degrees; larger overflows scale*w)")
    // materialize per sweep (the kCore/LPA/BFS pattern): the unrolled
    // multi-sweep plan is correct but its planning cost grows with iters
    // (measured ~100 KB explain at 5 sweeps) while each sweep's tables
    // are vertex-sized
    val ed = edges.select(col(src).as("src"), col(dst).as("dst"), wGuarded.as("w"))
      .unionAll(edges.select(col(dst).as("src"), col(src).as("dst"), wGuarded.as("w")))
    val deg = ed.groupBy(col("src")).agg(sum(col("w")).as("wdeg"))
    // the static loop-invariant sides (weighted-degree edges, flagged
    // vertex list) are materialized ONCE so sweeps re-read them instead
    // of re-running the degree aggregation every sweep
    val edeg = materialize(ed.join(deg, "src"))
    val verts0 = ed.select(col("src").as("v")).distinct()
    val verts = materialize(seeds match {
      case None => verts0.select(col("v"), lit(1).as("s"))
      case Some(sd) => verts0
        .join(broadcast(sd.withColumn("__seed", lit(1))), Seq("v"), "left")
        .select(col("v"), coalesce(col("__seed"), lit(0)).as("s"))
    })
    // seeded case: n counts seeds ∩ vertex set (rides the already-flagged
    // vertex list — no extra pass), not the raw seed input: an
    // out-of-graph seed has no vertex row, so counting it would leak its
    // restart mass and deflate every surviving rank. All-absent seeds
    // raise in-plan rather than emitting all-null ranks.
    val nn = seeds match {
      case None => verts.agg(count(lit(1)).as("n"))
      case Some(_) => verts.where(col("s") === 1)
        .agg(count(lit(1)).as("n0"))
        .select(when(col("n0") === 0, raise_error(
          lit(s"$opName: no seed vertex is present in the edge set")))
          .otherwise(col("n0")).as("n"))
    }
    var ranks = materialize(init match {
      // warm start: prior ranks replace the uniform init (vertices the
      // prior run never saw start at 0 and fill from sweep 1)
      case Some(ir) => verts
        .join(ir, Seq("v"), "left")
        .select(col("v"), col("s"), coalesce(col("r0"), lit(0L)).as("r"))
      case None => verts.crossJoin(broadcast(nn))
        .select(col("v"), col("s"),
          expr(s"CASE WHEN s = 1 THEN ${scale}L div n ELSE 0L END").as("r"))
    })
    for (k <- 1 to iters) {
      val contrib = edeg.join(ranks.select(col("v").as("src"), col("r")), "src")
        .select(col("dst").as("v"), expr("(r * w) div wdeg").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("cs"))
      ranks = materialize(verts.join(contrib, Seq("v"), "left")
        .crossJoin(broadcast(nn))
        .select(col("v"), col("s"),
          expr(s"CASE WHEN s = 1 THEN (15 * (${scale}L div n)) div 100 ELSE 0L END" +
            " + (85 * coalesce(cs, 0L)) div 100").as("r")))
    }
    ranks.select(col("v").as("vertex"), col("r").as("rank"))
  }

  /** k-core peel: the maximal induced subgraph where every vertex has
    * degree ≥ k, via `rounds` fixed peel iterations — each round
    * re-derives degrees over the survivor-induced subgraph (two
    * semi-join-shaped hash joins + one partial-agg degree count, the
    * same per-round shape as the distributed CC loop) and drops
    * vertices below k. Peeling is MONOTONE: once the core is reached,
    * further rounds are no-ops — so any `rounds` ≥ the true peel depth
    * yields the exact k-core, and a fixed-rounds run is reproducible in
    * an engine with no iteration primitive (the oracle unrolls the same
    * rounds; OpsSpec pins convergence by comparing rounds to rounds+1).
    *
    * Survivors are MATERIALIZED each round ([[Layout.materialize]]).
    * This is not an optimization: each round references the
    * survivor set TWICE (both join sides), and Catalyst plans are trees,
    * so an unrolled loop duplicates the previous round's subtree per
    * reference — 2^rounds plan nodes, which stalls the optimizer dead
    * around 8 rounds. Materializing caps the tree at one round.
    * Input treated as undirected; self-loops and duplicate/mirrored
    * edges collapse first. Output: (vertex, deg) — the core-induced
    * degree. */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "kCore: need k >= 1 and rounds >= 1")
    val und = materialize(undirected(edges, src, dst))
    var live = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    for (r <- 1 to rounds) {
      val e2 = und
        .join(live.select(col("v").as("a")), Seq("a"))
        .join(live.select(col("v").as("b")), Seq("b"))
      live = materialize(e2.select(col("a").as("v")).unionAll(e2.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k))
    }
    live.select(col("v").as("vertex"), col("deg"))
  }

  /** Synchronous label propagation (community detection over the KG):
    * every vertex starts labeled with itself; each round every vertex
    * adopts the most frequent label among its NEIGHBORS (tie → greatest
    * label, so the per-vertex argmax is a plain `max(struct(cnt,
    * label))` partial aggregation — no window whose per-vertex sort a
    * celebrity vertex would straggle, and the tie rule is a total order
    * any engine reproduces). Fixed `rounds` synchronous sweeps — LPA has
    * no convergence guarantee (bipartite structures oscillate), so the
    * fixed-round run IS the operator's deterministic contract, and the
    * oracle unrolls the same rounds. Per round: one hash join of the
    * mirrored edge list with the current labels and two
    * partial-aggregated shuffles ((vertex, label) counts, then the
    * per-vertex max) — hot labels combine map-side. Labels materialize
    * per round (the kCore pattern) so lineage stays one round deep.
    * Input treated as undirected; self-loops and duplicate/mirrored
    * edges collapse first. Output: (vertex, community). */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "labelPropagation: need rounds >= 1")
    val esym = materialize(mirrored(undirected(edges, src, dst)))
    var labels = esym.select(col("a").as("v")).distinct()
      .withColumn("label", col("v"))
    for (r <- 1 to rounds) {
      val cnts = esym
        .join(labels.select(col("v").as("b"), col("label")), Seq("b"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("cnt"))
      labels = materialize(cnts
        .groupBy(col("a"))
        .agg(max(struct(col("cnt"), col("label"))).as("top"))
        .select(col("a").as("v"), col("top.label").as("label")))
    }
    labels.select(col("v").as("vertex"), col("label").as("community"))
  }

  /** BFS hop distances from `source` over an undirected edge list, up to
    * `maxHops` frontier expansions. Per round: one hash join of the
    * previous frontier with the mirrored edge list, a distinct, and an
    * anti-join against the visited set — the standard distributed BFS
    * shape (frontier-sized work per round, never the whole graph except
    * the one edge-list join probe). The visited set materializes per
    * round. First discovery =
    * minimum hop count, so a bounded-depth transitive-closure re-derivation
    * (recursive CTE + min) oracles it exactly. Output: (vertex, dist)
    * for every vertex within `maxHops` of the source, source included
    * at dist 0. */
  def bfsDistances(edges: DataFrame, src: String, dst: String,
      source: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "bfsDistances: need maxHops >= 1")
    val esym = materialize(mirrored(undirected(edges, src, dst)))
    var visited = materialize(esym.sparkSession.range(1)
      .select(lit(source).as("v"), lit(0L).as("dist")))
    for (r <- 1 to maxHops) {
      val frontier = visited.where(col("dist") === (r - 1))
      val next = esym.join(frontier.select(col("v").as("a")), Seq("a"))
        .select(col("b").as("v")).distinct()
        .join(visited, Seq("v"), "left_anti")
        .withColumn("dist", lit(r.toLong))
      visited = materialize(visited.unionAll(next))
    }
    visited.select(col("v").as("vertex"), col("dist"))
  }

  /** Deterministic random walks over a directed edge list — the
    * node2vec/DeepWalk corpus generator, with the pseudo-randomness
    * drawn from a hash instead of an RNG so the walks are REPRODUCIBLE
    * under any partitioning, rerun, or resume (the `hashSample`
    * property; an RNG-driven walk re-rolls every epoch): at step s the
    * walk at node v moves to
    *   argmin over out-neighbors n of h32(start:wid:s:n),
    * h32 = first-8-hex-md5 (ties on the 32-bit hash break by min
    * neighbor id). Per step: ONE equi-join of the walk frontier against
    * the edge list + a partial-aggregated argmin (`min(struct)` — no
    * window sort). A walk at a dead-end (no out-edges) simply ends.
    * Candidate volume per step is Σ deg(node under each walk) — a
    * celebrity node visited by many walks replicates its adjacency into
    * the argmin's map-side combine, which crushes it before the
    * shuffle; pre-cap adjacency (`Curation.capPerGroup`) if degrees are
    * unbounded. Each frontier materializes (the bfsDistances pattern)
    * so walkLength doesn't unroll lineage.
    * Output: (start, wid, step, node) — step 0 is the start itself. */
  def randomWalks(edges: DataFrame, src: String, dst: String,
      starts: DataFrame, startCol: String, walkLength: Int,
      walksPerNode: Int = 1): DataFrame = {
    require(walkLength >= 1 && walksPerNode >= 1,
      "randomWalks: need walkLength, walksPerNode >= 1")
    val adj = edges.select(col(src).as("node"), col(dst).as("nxt"))
    var cur = starts.select(col(startCol).as("start")).distinct()
      .select(col("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("wid"))
      .select(col("start"), col("wid"), lit(0).as("step"),
        col("start").as("node"))
    var all = cur
    for (s <- 1 to walkLength) {
      val cands = cur.select(col("start"), col("wid"), col("node")).join(adj, Seq("node"))
        .select(col("start"), col("wid"),
          conv(substring(md5(concat_ws(":",
            col("start"), col("wid"), lit(s), col("nxt"))), 1, 8), 16, 10)
            .cast("long").as("h"),
          col("nxt"))
      cur = materialize(
        cands.groupBy(col("start"), col("wid"))
          .agg(min(struct(col("h"), col("nxt"))).as("m"))
          .select(col("start"), col("wid"), lit(s).as("step"),
            col("m.nxt").as("node")))
      all = all.unionAll(cur)
    }
    all
  }

  /** Triangle count over an undirected edge list, degree-ordered
    * orientation: each edge points from its lower to its higher
    * (degree, id) endpoint, wedges are enumerated by self-joining the
    * oriented adjacency on the tail, and each wedge closes against one
    * oriented edge. The orientation is the load-bearing part at scale —
    * it bounds every vertex's out-degree by O(√|E|) on ANY graph, so a
    * celebrity vertex with 10^7 neighbors contributes at most √-scale
    * wedges instead of 10^14 (the reason production triangle counters
    * orient by degree, not id). Orientation never changes the count, so
    * an id-ordered SQL re-derivation oracles it exactly.
    * Input treated as undirected; self-loops and duplicate/mirrored
    * edges are collapsed first. Output: one row (n_triangles). */
  def triangleCount(edges: DataFrame, src: String, dst: String): DataFrame = {
    val und = undirected(edges, src, dst)
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val fwd = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("v"),
        when(fwd, col("db")).otherwise(col("da")).as("dv"))
    val l = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val r = oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedges = l.join(r, Seq("u"))
      .where(struct(col("dx"), col("x")) < struct(col("dy"), col("y")))
      .select(col("x").as("u"), col("y").as("v"))
    wedges.join(oriented.select(col("u"), col("v")), Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** HITS hubs-and-authorities over a DIRECTED edge list (the classic
    * web-graph companion to PageRank: a good hub points at good
    * authorities, a good authority is pointed at by good hubs). Fixed
    * `iters` synchronous sweeps in pure integer arithmetic:
    *   h_0(v)   = SCALE
    *   a_k(v)   = norm(Σ_{u→v} h_{k-1}(u)·w)
    *   h_k(u)   = norm(Σ_{u→v} a_k(v)·w)
    * where norm(x) = x div max(1, max_v(x) div SCALE) — renormalizing by
    * DIVIDING by the scaled max instead of the textbook L2 norm keeps
    * every step in order-free long arithmetic (sums and max of longs are
    * partition-order-invariant; float normalization could never
    * hash-compare cross-engine) and bounds scores to ≈SCALE so the
    * per-edge product score·w never overflows: score ≤ 2·SCALE after
    * rounding slack, so weights may reach ~2^63/(2·SCALE). Per half-sweep:
    * one hash join of the static edge list with the current scores, one
    * partial-aggregated shuffle on the receiving endpoint, and one
    * broadcast of the scalar max — the pageRank shape run twice.
    * Each half-sweep's scores materialize (see below); the integer
    * arithmetic keeps them bit-identical whichever materialization the
    * session picks. Weight contract =
    * pageRank's: integral type required, positivity and the overflow
    * bound enforced lazily in-plan via `raise_error`. Output:
    * (vertex, hub, auth) for every vertex, zeros where a side never
    * receives mass (no out-edges ⇒ hub 0 after round 1's norm, no
    * in-edges ⇒ auth 0). */
  def hits(edges: DataFrame, src: String, dst: String, weight: String,
      iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "hits: need iters >= 1")
    val wGuarded = guardedWeight(edges, weight, "hits", exactNote,
      1L, Long.MaxValue / (2 * scale), "(non-positive corrupts the mutual recursion; larger overflows score*w)")
    // each iteration references the PREVIOUS scores twice (the max-agg
    // subquery inside normalized() and the main contribution branch), so
    // an un-materialized loop doubles the plan per reference — ~4^iters
    // nodes (measured: 9,000-operator plan, 69 s at 3 iters on a 23-host
    // graph, dominated by Catalyst). Materialize per iteration like
    // kCore/LPA/BFS do; integer arithmetic keeps results bit-identical.
    val ed = materialize(
      edges.select(col(src).as("src"), col(dst).as("dst"), wGuarded.as("w")))
    val verts = materialize(
      ed.select(col("src").as("v")).unionAll(ed.select(col("dst").as("v"))).distinct())
    // norm(x): scores land back in [0, ~2*SCALE] without ever multiplying
    // a full-range sum (x*SCALE could overflow; x div (max div SCALE) can't)
    def normalized(raw: DataFrame, scoreCol: String): DataFrame = {
      val mx = raw.agg(max(col(scoreCol)).as("mx"))
      materialize(
        raw.crossJoin(broadcast(mx))
          .select(col("v"),
            expr(s"$scoreCol div greatest(mx div ${scale}L, 1L)").as(scoreCol)))
    }
    var hubs = materialize(verts.select(col("v"), lit(scale).as("h")))
    var auths: DataFrame = null
    for (k <- 1 to iters) {
      val aRaw = verts.join(
          ed.join(hubs.withColumnRenamed("v", "src"), "src")
            .groupBy(col("dst").as("v")).agg(sum(expr("h * w")).as("a")),
          Seq("v"), "left")
        .select(col("v"), coalesce(col("a"), lit(0L)).as("a"))
      auths = normalized(aRaw, "a")
      val hRaw = verts.join(
          ed.join(auths.withColumnRenamed("v", "dst"), "dst")
            .groupBy(col("src").as("v")).agg(sum(expr("a * w")).as("h")),
          Seq("v"), "left")
        .select(col("v"), coalesce(col("h"), lit(0L)).as("h"))
      hubs = normalized(hRaw, "h")
    }
    hubs.join(auths, Seq("v"))
      .select(col("v").as("vertex"), col("h").as("hub"), col("a").as("auth"))
  }

  /** Single-source shortest paths over a DIRECTED weighted edge list:
    * `rounds` synchronous Bellman-Ford relaxations (distributed SSSP's
    * standard DataFrame shape — Pregel without the framework). Per round:
    * one hash join of the current distance table with the static edge
    * list, then a per-vertex `min` partial aggregation over the union of
    * old and relaxed distances — min over longs is order-free, so every
    * round is bit-identical in any engine and an unrolled SQL
    * re-derivation oracles it exactly. After round k every shortest path
    * of ≤ k edges is final; relaxation is MONOTONE, so `rounds` at or
    * beyond the shortest-path tree depth yields exact distances and
    * extra rounds are no-ops (OpsSpec pins convergence rounds vs
    * rounds+1). The distance table is referenced twice per round (join
    * probe + min-union), so it MATERIALIZES each round — the kCore
    * 2^rounds-lineage argument. Weights: integral, ≥ 0 (a 0-cost edge is legal; negative
    * would break Bellman-Ford's monotone-min contract), enforced
    * in-plan. Work per round is reached-set-sized, never whole-graph.
    * Output: (vertex, dist) for every vertex reachable within `rounds`
    * hops, source at 0. */
  def ssspDistances(edges: DataFrame, src: String, dst: String, weight: String,
      source: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "ssspDistances: need rounds >= 1")
    val wGuarded = guardedWeight(edges, weight, "ssspDistances", "",
      0L, Long.MaxValue / (rounds + 1L), "(negative breaks monotone relaxation; larger can overflow a path sum)")
    val ed = edges.select(col(src).as("src"), col(dst).as("dst"), wGuarded.as("w"))
    var dist = materialize(edges.sparkSession.range(1)
      .select(lit(source).as("v"), lit(0L).as("dist")))
    for (r <- 1 to rounds) {
      val relaxed = ed.join(dist.select(col("v").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("v"), (col("dist") + col("w")).as("dist"))
      dist = materialize(dist.unionAll(relaxed)
        .groupBy(col("v")).agg(min(col("dist")).as("dist")))
    }
    dist.select(col("v").as("vertex"), col("dist"))
  }

  /** Adamic-Adar link prediction (KG completion's classic first pass):
    * for every NON-adjacent pair (u, v) sharing at least one neighbor,
    *   score = Σ_{z ∈ N(u)∩N(v)} ⌊scale / ln(deg z)⌋,
    * top `topK` by (score desc, u asc, v asc). Each term floors to an
    * exact integer BEFORE the sum, so the total is order-free — a float
    * sum accumulates in partition/CTE order and can never hash-compare
    * cross-engine (the pageRank integer idiom; ln itself is IEEE-
    * identical in both engines).
    *
    * Scale shape: wedges are enumerated around their CENTER z, and a
    * center of degree d yields d·(d−1)/2 pairs — the quadratic hub
    * blowup every wedge enumeration has. Centers with degree >
    * `maxDegree` are dropped (capped + observed via `metricName`, the
    * candidatePairs idiom) — which here is semantics-ALIGNED skew
    * control, not an approximation apology: a huge-degree z contributes
    * 1/ln(d) ≈ nothing per pair, and down-weighting promiscuous common
    * neighbors is the entire point of Adamic-Adar. Degree-1 vertices
    * cannot center a wedge and are excluded before the weight divides by
    * ln(1) = 0. One groupBy on (u,v) with map-side partials, anti-join
    * vs the existing edge set, TakeOrderedAndProject top-k. */
  def adamicAdar(edges: DataFrame, src: String, dst: String, topK: Int,
      maxDegree: Long = 10000L, scale: Long = 1000000000L,
      metricName: String = "aa_centers"): DataFrame = {
    require(topK >= 1 && maxDegree >= 2, "adamicAdar: need topK >= 1, maxDegree >= 2")
    val und = undirected(edges, src, dst)
    val esym = mirrored(und)
    val centers = esym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .observe(metricName,
        sum(when(col("deg") > maxDegree, 1L).otherwise(0L)).as("capped_centers"),
        max(col("deg")).as("max_degree"))
      .where(col("deg") >= 2 && col("deg") <= maxDegree)
      .select(col("a"), floor(lit(scale.toDouble) / log(col("deg"))).as("w"))
    val adj = esym.join(centers, Seq("a"))
    val l = adj.select(col("a"), col("b").as("u"), col("w"))
    val r = adj.select(col("a"), col("b").as("v"))
    l.join(r, Seq("a"))
      .where(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(sum(col("w")).as("score"))
      .join(und.select(col("a").as("u"), col("b").as("v")), Seq("u", "v"), "left_anti")
      .orderBy(col("score").desc, col("u").asc, col("v").asc)
      .limit(topK)
      .select(col("u").as("e1"), col("v").as("e2"), col("score"))
  }
}
