package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sampled-source Brandes betweenness centrality (SURVEY G4).
  *
  * Replaces the reference's GDS `betweenness.stream` call
  * (`analysis_queries.md:221-227`). Exact Brandes is O(V·E); the standard
  * scale approach samples k source vertices (Brandes/Pich) and scales.
  *
  * Implementation is fully relational and batched: ALL k sources run
  * simultaneously with shuffle keys (root, id) — one level-synchronous
  * forward BFS accumulating shortest-path counts (sigma), then a backward
  * per-level dependency accumulation. Each level is one join + one
  * aggregation, localCheckpointed so lineage stays O(1). k scales the
  * state linearly (k·V rows), never the number of supersteps — the same
  * plan shape a 1000-executor cluster would run.
  *
  * Determinism: sources are a seed-stable hash-ordered sample; sigma is
  * exact integer path counting; only the final double dependency sums are
  * subject to fp addition order (no oracle depends on them).
  */
object Betweenness {

  /** Forward (path-counting) phase of Brandes as a standalone operator:
    * level-synchronous BFS from explicit `sources`, returning one row per
    * reached (root, id) with its BFS `depth` and exact shortest-path count
    * `sigma` (the recurrence sigma(w) = Σ sigma(v) over w's shortest-path
    * predecessors v). Unlike the backward dependency phase — whose double
    * sums are fp-order-sensitive — this half is pure integer arithmetic
    * and replays exactly in any engine, so it carries a full value oracle
    * (lane g05b) where `approx` itself is rows-only by construction.
    *
    * Overflow: sigma is an EXACT long path count, which grows with the
    * DAG's path multiplicity — a graph with ≥2^63 distinct shortest
    * paths to one node overflows (ANSI mode throws rather than wraps).
    * Keep `maxDepth` bounded on dense layered graphs; the sampled
    * [[approx]] shares the recurrence and the same bound.
    *
    * @param edges (src, dst), traversed as given: pass
    *        `GraphOps.undirectedAdjacency` for undirected betweenness.
    *        Duplicate edges would inflate sigma.
    * @param sources one `root` column; caller controls the sampling (use a
    *        portable hash order if an external oracle must re-derive it)
    */
  def forwardCounts(
      edges: DataFrame,
      sources: DataFrame,
      maxDepth: Int = 20): DataFrame =
    forwardPhase(edges.select(col("src"), col("dst")),
      sources.select(col("root").cast("long").as("root")), maxDepth)._1

  /** Shared forward BFS: returns (visited frame, per-level (root,id,sigma)
    * frames, levels present deepest-first) over the (src, dst) frame `e`. */
  private def forwardPhase(
      e: DataFrame,
      sources: DataFrame,
      maxDepth: Int): (DataFrame, Map[Int, DataFrame], List[Int]) = {
    // visited: (root, id, depth, sigma); frontier: rows added at this level
    var visited = sources
      .select(col("root"), col("root").as("id"), lit(0).as("depth"),
        lit(1L).as("sigma"))
      .localCheckpoint()
    var frontier = visited
    var frontierN = frontier.count()
    var depth = 0
    var levels = List(0)
    // each forward level is ALREADY a checkpointed frame — retain it for
    // the backward phase instead of re-filtering `visited` into per-level
    // frames afterwards (which cost one extra checkpoint job per level)
    val levelAcc = scala.collection.mutable.Map[Int, DataFrame](
      0 -> visited.select(col("root"), col("id"), col("sigma")))
    while (depth < maxDepth && frontierN > 0L) {
      depth += 1
      // LAZY checkpoint + count: one job materializes the level and
      // answers the loop guard (eager checkpoint + isEmpty was two)
      val next = frontier
        .join(e, frontier("id") === e("src"))
        .groupBy(col("root"), e("dst").as("id"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited.select(col("root").as("vr"), col("id").as("vi")),
          col("root") === col("vr") && col("id") === col("vi"), "left_anti")
        .withColumn("depth", lit(depth))
        .select("root", "id", "depth", "sigma")
        .localCheckpoint(false)
      frontierN = next.count()
      if (frontierN > 0L) {
        // union of the per-level checkpoints — flat lineage, no
        // O(total-visited) re-materialization every level
        visited = visited.unionByName(next)
        frontier = next
        levels = depth :: levels
        levelAcc(depth) = next.select(col("root"), col("id"), col("sigma"))
      } else frontier = next
    }
    (visited, levelAcc.toMap, levels)
  }

  /** Integer-exact (micro-unit) Brandes dependency accumulation over a
    * PRECOMPUTED forward frame (root, id, depth, sigma) from
    * [[forwardCounts]] — the engine-portable twin of [[approx]]'s backward
    * phase, by the same fixed-point trick as `GraphOps.pageRank`:
    * a predecessor's per-edge contribution is
    * `(sigma_v * (1_000_000 + delta_w)) DIV sigma_w` — every operand a
    * non-negative exact integer, `DIV` = floor = DuckDB `//` — so the
    * whole backward recurrence replays bit-for-bit in SQL as unrolled
    * per-level CTEs, where the float phase's double-sum order never
    * could. Each floored term loses < 1 micro-unit vs the true rational;
    * the contract is exact REPLAY, not the textbook real number (the
    * float `approx` stays the statistical estimator). `e` is the edge
    * frame the forward ran on; a caller that also needs the forward
    * counts (the g05b/g05c lane pair) runs ONE forward BFS and feeds
    * both.
    *
    * Returns (id, bc_micro), bc_micro > 0: per-root dependencies summed,
    * endpoints excluded (a traversal's own root never accumulates).
    * Overflow: sigma·(1e6 + delta) stays under 2^63 while
    * sigma · paths-through-node ≲ 9e12 — far past what this depth cap
    * admits on any realistic graph.
    */
  def betweennessIntFromForward(forward: DataFrame, e: DataFrame): DataFrame = {
    val spark = forward.sparkSession
    val maxD = forward
      .agg(coalesce(max(col("depth")), lit(0)).cast("int")).head().getInt(0)
    // maxD <= 1: no interior nodes exist — depth-1 leaves have no
    // successors (delta 0) and roots (depth 0) are excluded from acc by
    // the Brandes convention, so the result is the empty frame. The
    // accumulator below is only ever populated at d >= 1, so entering
    // the loop with maxD == 1 would leave it null.
    if (maxD <= 1) {
      import spark.implicits._
      return Seq.empty[(Long, Long)].toDF("id", "bc_micro")
    }
    def level(d: Int): DataFrame = forward.filter(col("depth") === d)
      .select(col("root"), col("id"), col("sigma"))
    var deltaAbove = level(maxD)
      .select(col("root"), col("id"), lit(0L).as("delta"))
    var acc: DataFrame = null
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (d <- maxD - 1 to 0 by -1) {
      val w = level(d + 1)
        .select(col("root").as("wroot"), col("id").as("wid"),
          col("sigma").as("wsigma"))
        .join(deltaAbove.select(col("root").as("wroot"),
          col("id").as("wid"), col("delta").as("wdelta")),
          Seq("wroot", "wid"))
      val sums = level(d)
        .join(e, col("id") === col("src"))
        .join(w, col("dst") === col("wid") && col("root") === col("wroot"))
        .select(col("root"), col("id"),
          expr("(sigma * (1000000 + wdelta)) DIV wsigma").as("term"))
        .groupBy(col("root"), col("id"))
        .agg(sum(col("term")).as("delta"))
      // nodes with no successor at d+1 keep delta 0 (they still relay
      // nothing, but must exist for the level above them)
      // lazy persist, not localCheckpoint: each lvl has TWO consumers
      // (the next level's join and the acc union) — the columnar cached
      // fragment materializes ONCE inside the single final action
      // (measured ~4x over the checkpoint's row-encoded RDD boundary).
      // Safe HERE because this chain has no broadcast subqueries; in
      // loops that broadcast a per-iteration aggregate (pageRank,
      // hitsIntSync) the broadcast jobs execute child plans directly and
      // a lazy persist measured ~12x SLOWER — those keep the hard
      // checkpoint barrier
      val lvl = level(d).select(col("root"), col("id"))
        .join(sums, Seq("root", "id"), "left")
        .na.fill(0L, Seq("delta"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted += lvl
      deltaAbove = lvl
      if (d >= 1) acc = if (acc == null) lvl else acc.unionByName(lvl)
    }
    // CacheManager holds strong references, so the per-level persists
    // above would otherwise live for the whole session (the eByDst note
    // in approx() avoids persist for exactly this reason). The result is
    // node-bounded and the final aggregation is the chain's only action
    // anyway: run it eagerly behind a localCheckpoint (safe here — no
    // broadcast subqueries in this chain), then release every level.
    val out = acc.groupBy(col("id")).agg(sum(col("delta")).as("bc_micro"))
      .filter(col("bc_micro") > 0L)
      .localCheckpoint(true)
    persisted.foreach(_.unpersist(false))
    out
  }

  /** Bounded-horizon closeness + harmonic centrality of the sampled
    * roots, off a PRECOMPUTED forward frame (root, id, depth, sigma) —
    * the standard truncated variants (distances past the BFS horizon
    * contribute nothing), exact integers: closeness = (reached−1)·10⁶
    * floor-div Σdepth, harmonic = Σ (10⁶ floor-div depth) over depth ≥ 1
    * (each term exact, sum order-independent). ONE root-domain
    * aggregation over the forward frame — free next to the Brandes
    * lanes that already share it.
    *
    * Output: (root, n_reached, sum_depth, closeness_micro,
    * harmonic_micro); an isolated root keeps closeness 0. */
  def closenessFromForward(forward: DataFrame): DataFrame =
    forward
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("depth").cast("long")).as("sum_depth"),
        sum(when(col("depth") >= 1,
          call_function("div", lit(1000000L), col("depth").cast("long")))
          .otherwise(0L)).as("harmonic_micro"))
      .select(col("root"), col("n_reached"), col("sum_depth"),
        when(col("sum_depth") > 0L,
          call_function("div", (col("n_reached") - 1L) * lit(1000000L),
            col("sum_depth"))).otherwise(0L).as("closeness_micro"),
        col("harmonic_micro"))

  /** @param edges (src, dst) long ids, traversed as given (see
    *        [[forwardCounts]])
    * @param k number of sampled sources (all vertices if k >= |V|)
    * @return (id, betweenness, scaled, bc_a, bc_b) — `scaled` multiplies
    *         by |V|/k to estimate the full sum; directed-path convention
    *         (an undirected pair contributes from both endpoints when both
    *         are sampled). `bc_a`/`bc_b` split the same run's per-source
    *         contributions into two disjoint seed-hash halves of the
    *         source sample: two INDEPENDENT estimators computed for free
    *         (bc_a + bc_b == betweenness exactly), whose rank agreement is
    *         the self-check a rows-only gate can't do — a broken
    *         sigma/delta recurrence decorrelates the halves. */
  def approx(
      edges: DataFrame,
      k: Int = 16,
      seed: Long = 42L,
      maxDepth: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst"))

    val vertices = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    // the vertex count (sampling scale factor) and the edge count (the
    // eByDst materialization gate below) fetch in ONE action — a tagged
    // union of two 1-row aggs whose branches run as concurrent stages of
    // one job (§2.6, the nbCandidates shape) instead of two sequential
    // driver round trips over the same edge frame
    val counts = e.agg(count(lit(1)).as("__x"))
      .select(lit("e").as("__k"), col("__x"))
      .unionAll(vertices.agg(count(lit(1)).as("__x"))
        .select(lit("v").as("__k"), col("__x")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nV = counts("v")
    val nE = counts("e")

    val sources = vertices
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(k)
      .select(col("id").as("root"))

    // ---- forward: level-synchronous BFS with path counting ----
    val (_, levelFrames0, levels) = forwardPhase(e, sources, maxDepth)

    // ---- backward: dependency accumulation, deepest level first ----
    // In an unweighted BFS DAG every shortest-path edge crosses exactly one
    // level, so a node's dependency is fully determined by the level below
    // it. Deltas therefore live in PER-LEVEL frames: each round touches
    // only levels d and d-1 (O(level size) work), instead of rewriting and
    // re-checkpointing the whole k·V frame once per level — the difference
    // between O(k·V) and O(depth·k·V) total backward work on deep graphs.
    val levelFrames: Map[Int, DataFrame] = levelFrames0
    val maxL = levels.max
    // The backward phase traverses edges AGAINST their direction (the
    // join keys on e.dst). While the level frames fit the broadcast
    // threshold the src-partitioned e is scanned, never shuffled — so on
    // small graphs reuse it as-is and skip the extra materialization.
    // Once k·levelsize outgrows broadcast the join goes sort-merge, and a
    // src-partitioned e would then re-shuffle the FULL edge set once per
    // level: there, re-partition on dst ONCE for the whole phase — O(1)
    // edge shuffles, the forward-phase discipline in reverse. Lazy
    // localCheckpoint (first backward action materializes it), not
    // persist: blocks are context-cleaner-released when the result drops,
    // with no CacheManager registration the caller would have to
    // unpersist.
    val eByDst =
      if (nE <= 4000000L) e
      else e.select(col("src"), col("dst"))
        .repartition(col("dst"))
        .localCheckpoint(false)
    // finalized (id, delta) rows for intermediate nodes (depth > 0)
    var finals: List[DataFrame] = Nil
    // delta for the level currently deepest-unprocessed; nodes missing
    // from the frame have delta 0 (no shortest path continues below them)
    var deltaNext: DataFrame = levelFrames(maxL)
      .select(col("root"), col("id"), lit(0.0).as("delta"))
    for (d <- maxL to 1 by -1) {
      val w = levelFrames(d)
        .join(deltaNext, Seq("root", "id"), "left_outer")
        .withColumn("delta", coalesce(col("delta"), lit(0.0)))
      finals = w.select(col("root"), col("id"), col("delta")) :: finals
      // contributions flow along edges v(d-1) -> w(d)
      val contrib = eByDst
        .join(w.select(col("root").as("wr"), col("id").as("wid"),
          col("sigma").as("wsigma"), col("delta").as("wdelta")),
          eByDst("dst") === col("wid"))
        .select(col("wr").as("root"), eByDst("src").as("id"),
          col("wsigma"), col("wdelta"))
        .join(levelFrames(d - 1)
            .select(col("root").as("vr"), col("id").as("vi"),
              col("sigma").as("vsigma")),
          col("root") === col("vr") && col("id") === col("vi"))
        .groupBy(col("root"), col("id"))
        .agg(sum(col("vsigma").cast("double") / col("wsigma").cast("double") *
          (lit(1.0) + col("wdelta"))).as("delta"))
        // LAZY checkpoint: the backward loop has a FIXED level count (no
        // data-dependent guard), so nothing needs materializing per level —
        // the final action computes each level once, deepest first, and the
        // checkpoint barrier still keeps lineage flat (each level's plan
        // references only the previous barrier, not the whole chain).
        // Eager (the old shape) cost one driver job per level.
        .localCheckpoint(false)
      deltaNext = contrib
    }

    // half assignment is a pure function of the root id (seed-hash
    // parity), so it needs no extra state carried through the BFS
    val half = pmod(xxhash64(col("root"), lit(seed + 1)), lit(2))
    val bc =
      (if (finals.isEmpty)
        spark.emptyDataFrame
          .select(lit(0L).as("root"), lit(0L).as("id"), lit(0.0).as("delta"))
          .limit(0)
      else finals.reduce(_ unionByName _))
      .groupBy(col("id"))
      .agg(sum(col("delta")).as("betweenness"),
        sum(when(half === 0, col("delta")).otherwise(lit(0.0))).as("bc_a"),
        sum(when(half === 1, col("delta")).otherwise(lit(0.0))).as("bc_b"))
    // vertices never reached as intermediates get 0
    vertices.join(bc, Seq("id"), "left_outer")
      .withColumn("betweenness", coalesce(col("betweenness"), lit(0.0)))
      .withColumn("scaled",
        col("betweenness") * lit(nV.toDouble / math.min(k, nV).toDouble))
      .withColumn("bc_a", coalesce(col("bc_a"), lit(0.0)))
      .withColumn("bc_b", coalesce(col("bc_b"), lit(0.0)))
      .select("id", "betweenness", "scaled", "bc_a", "bc_b")
  }
}
