package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph traversal and analytics over edge DataFrames.
  *
  * Replaces the reference's server-side Cypher traversals
  * (`analysis_queries.md:87-110` variable-length paths, `:138-141`
  * shortestPath, `:206-242` GDS betweenness/Louvain) with one Spark shape,
  * relational iteration: a driver loop of joins and group-bys over a
  * frontier or state DataFrame, `localCheckpoint`ed per round to cut
  * lineage. Traversals run O(depth) rounds — hierarchies are shallow
  * (ESCO ISCO tree ≈ 8 levels) — each a shuffle on the edge key,
  * AQE-sized. The whole-graph algorithms (connected components, label
  * propagation, PageRank, HITS) run their Pregel supersteps the same way,
  * one join plus one aggregation per superstep (the Pregelix design), with
  * integer arithmetic and smallest-id tie-breaks so results do not move
  * with partition count or core count, and one implementation per
  * algorithm.
  *
  * Edge contract: an operator reads its `(src, dst)` edge frame as given.
  * It never symmetrizes, de-duplicates, persists, checkpoints or
  * unpersists that frame, so a traversal follows exactly the rows it is
  * handed: pass [[undirectedAdjacency]] for the undirected simple graph.
  * A caller that hands one frame to several traversals, or to an operator
  * that scans it once per round, materializes it first (the loaded
  * warehouse keeps its adjacency that way). The whole-graph algorithms
  * whose result is defined on the simple graph (connected components,
  * label propagation, PageRank, HITS, triangles) derive their own working
  * frame from the input and materialize that.
  *
  * Edge DataFrames use long vertex ids. For string-keyed graphs (URIs)
  * map each key with `Vertices.id` and run `Vertices.assertNoCollisions`
  * once over the vertex set.
  */
object GraphOps {

  /** Minimum-depth BFS from `roots` following `edges` (src → dst).
    * Returns (id, depth), depth 0 at the roots.
    * One shuffle join per level; frontier is localCheckpointed so lineage
    * stays O(1) per iteration instead of O(depth). Exactly ONE driver job
    * per level: the loop guard's emptiness comes from `count()` on the
    * LAZY checkpoint, which materializes it and answers the guard in the
    * same job (an `isEmpty` probe after an eager checkpoint was a second
    * job per level). */
  def bfsDepths(
      edges: DataFrame,
      roots: DataFrame,
      maxDepth: Int = 20): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    var visited = roots.select(col("id"), lit(0).as("depth")).localCheckpoint()
    var frontier = visited
    var frontierN = frontier.count()
    var depth = 0
    while (depth < maxDepth && frontierN > 0L) {
      depth += 1
      val next = frontier
        .join(e, frontier("id") === e("src"))
        .select(e("dst").as("id"), lit(depth).as("depth"))
        .distinct()
        .join(visited.select(col("id").as("vid")), col("id") === col("vid"), "left_anti")
        .localCheckpoint(false)
      frontierN = next.count() // materializes the checkpoint + guards the loop
      // visited stays a UNION of the per-level checkpoints — flat lineage,
      // no O(total-visited) re-materialization every level
      visited = visited.unionByName(next)
      frontier = next
    }
    visited
  }

  /** Variable-length path enumeration with Cypher `-[:T*]->` semantics:
    * one row per (root, node, depth) with the number of distinct paths —
    * path-counting, not reachable-pair, semantics (SURVEY §7.4.2).
    * Returns (root, id, depth, n_paths), depth >= 1.
    *
    * DAG semantics: Cypher's `*` additionally enforces per-path
    * relationship uniqueness, which only matters on cyclic graphs; the
    * reference's hierarchies are DAGs (SURVEY G1) where the two semantics
    * coincide. On cyclic input this operator enumerates walks up to
    * maxDepth — bounded, but a documented divergence. */
  def varLengthPaths(
      edges: DataFrame,
      roots: DataFrame,
      maxDepth: Int = 20): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val spark = edges.sparkSession
    var result: DataFrame = null
    var frontier = roots
      .select(col("id").as("root"), col("id"), lit(1L).as("n_paths"))
      .localCheckpoint()
    var frontierN = frontier.count()
    var depth = 0
    while (depth < maxDepth && frontierN > 0L) {
      depth += 1
      // LAZY checkpoint + count: ONE job per level that materializes the
      // checkpoint and answers the loop guard (isEmpty after the
      // materialization was a second probe job per level)
      val next = frontier
        .join(e, frontier("id") === e("src"))
        .groupBy(col("root"), e("dst").as("id"))
        .agg(sum("n_paths").as("n_paths"))
        .localCheckpoint(false)
      frontierN = next.count()
      val step = next.withColumn("depth", lit(depth))
        .select("root", "id", "depth", "n_paths")
      result = if (result == null) step else result.unionByName(step)
      frontier = next.select("root", "id", "n_paths")
    }
    if (result == null)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("root", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("depth", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("n_paths", org.apache.spark.sql.types.LongType))))
    else result
  }

  /** Single-pair shortest path WITH the node sequence (full G2 Cypher
    * semantics — `shortestPath((a)-[*]-(b))` returns a path, not a
    * length; `analysis_queries.md:138-141`; undirected over
    * [[undirectedAdjacency]]). BFS along `edges` with parent tracking,
    * then a driver walk over the ≤depth-sized parent chain (a single
    * path's length is bounded by the BFS depth cap, so the driver-side
    * reconstruction is O(depth) lookups against a filtered frontier, not a
    * collect of the graph). Returns Nil if unreachable within maxDepth. */
  def shortestPath(
      edges: DataFrame,
      srcId: Long,
      dstId: Long,
      maxDepth: Int = 20): Seq[Long] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"))
    var visited = Seq((srcId, 0, -1L)).toDF("id", "depth", "parent")
      .localCheckpoint()
    var frontier = visited
    var depth = 0
    // ONE job per level: counting rows + dst hits on the lazy checkpoint
    // materializes it and answers both loop guards at once (eager
    // checkpoint + isEmpty + found-filter probe was 3 jobs per level)
    def probe(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        count(when(col("id") === dstId, lit(1)))).head()
      (r.getLong(0), r.getLong(1))
    }
    var (frontierN, hits) = probe(frontier)
    var found = hits > 0L
    while (depth < maxDepth && frontierN > 0L && !found) {
      depth += 1
      val next = frontier
        .join(e, frontier("id") === e("src"))
        .select(e("dst").as("id"), lit(depth).as("depth"),
          frontier("id").as("parent"))
        .groupBy("id").agg(min("depth").as("depth"), min("parent").as("parent"))
        .join(visited.select(col("id").as("vid")), col("id") === col("vid"), "left_anti")
        .localCheckpoint(false)
      val p = probe(next)
      frontierN = p._1
      found = p._2 > 0L
      visited = visited.unionByName(next) // union of checkpointed levels
      frontier = next
    }
    if (!found && srcId != dstId) Nil
    else {
      // walk parents dst -> src as ONE composed plan: each hop joins the
      // (≤1-row, broadcast) previous link against the checkpointed
      // visited frame, and the ≤depth-sized union collects in a single
      // job — the per-hop point-lookup loop paid one driver job per step
      var links = List(visited.filter(col("id") === dstId))
      for (_ <- 1 to depth) {
        val up = visited
          .join(broadcast(links.head.select(col("parent").as("cid"))),
            col("id") === col("cid"))
          .drop("cid")
        links = up :: links
      }
      val chain = links.reduce(_ unionByName _)
        .collect()
        .map(r => (r.getInt(1), r.getLong(0)))
        .sortBy(_._1)
      // valid only if the chain reaches the root (depth 0 == src)
      if (chain.headOption.exists { case (d, id) => d == 0 && id == srcId })
        chain.map(_._2).toList
      else Nil
    }
  }

  /** [[shortestPath]] as a lane-able frame: the node sequence as
    * (step, id) rows, empty if unreachable within maxDepth. The BFS's
    * min-depth/min-parent tie-break makes the returned sequence fully
    * deterministic, so it replays cross-engine as unrolled
    * level-synchronous BFS CTEs (per level: group next frontier by
    * target with MIN(parent), anti-join everything visited) followed by
    * a recursive parent walk from dst — the walk only touches chain
    * nodes at depths ≤ d(dst), which the oracle's extra (post-stop)
    * levels can never alter. A path is ≤ maxDepth nodes, so the frame is
    * driver-sized by construction. */
  def shortestPathFrame(
      edges: DataFrame,
      srcId: Long,
      dstId: Long,
      maxDepth: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    shortestPath(edges, srcId, dstId, maxDepth)
      .zipWithIndex
      .map { case (id, i) => (i, id) }
      .toDF("step", "id")
  }

  // ---- whole-graph analytics ----

  /** Connected components → (id, component), the component labeled by its
    * smallest member id. Alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): converges in O(log² n) rounds regardless of graph DIAMETER,
    * unlike min-label propagation (O(diameter) rounds) — the scale path for
    * path-shaped graphs. Each round is two groupBy-min passes over the edge
    * list; no vertex state frame is carried, so the only growing cost is
    * the (shrinking) edge list itself.
    *
    * large-star: every neighbor v > u re-points to m = min(N(u) ∪ {u});
    * small-star: every neighbor v ≤ u (plus u) points to the same m.
    * Fixpoint = forest of depth-1 stars rooted at each component's min id.
    * Vertices are the edge endpoints; a vertex whose only edge is a
    * self-loop is its own component. */
  def connectedComponents(
      edges: DataFrame, maxIter: Int = 40,
      driverCutoff: Int = 100000): DataFrame = {
    val spark = edges.sparkSession
    // canonicalize ONCE including self-loops, checkpoint, and derive both
    // the id universe and the working set from the checkpoint — deriving
    // them separately from `edges` would execute the (possibly expensive)
    // upstream plan twice before the loop even starts
    val canon = edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct()
      .localCheckpoint()
    // Size-gated driver union-find: each star round is ~5 jobs of pure
    // fixed cost when the edge set is tiny, and the graphs this operator
    // actually sees in the dedup pipelines — candidate pairs AFTER the
    // confidence filter — are tiny relative to the corpus (239 pairs at
    // sf0.1; profiled r8: the distributed loop cost 1.4 s of pure job
    // overhead on them). ≤`driverCutoff` distinct edges is ≤~1.6 MB on
    // the driver — an explicit, documented bound, not an unbounded
    // collect; components are min-id labeled identically on both paths
    // (spec-pinned in GraphOpsSpec), and bigger graphs take the star
    // rounds unchanged.
    if (canon.count() <= driverCutoff) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      canon.collect().foreach { row =>
        val (u, v) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
        val (ru, rv) = (find(u), find(v))
        // union by MIN root so the representative is the component min
        if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
      }
      import spark.implicits._
      return parent.keys.toSeq.map(id => (id, find(id))).sortBy(identity)
        .toDF("id", "component")
    }
    val allIds = canon.select(col("u").as("id"))
      .unionByName(canon.select(col("v").as("id")))
      .distinct()
      .localCheckpoint()
    // working set: undirected edge (u,v) stored once as u > v, no self-loops
    var e = canon
      .filter(col("u") =!= col("v"))
      .localCheckpoint()
    // set digest for the convergence check: (count, sum of row hashes) —
    // one narrow agg job per round instead of a count + anti-join pair.
    // Two distinct edge sets colliding needs a 64-bit hash-sum collision
    // at equal cardinality; a false "converged" is ~2^-64, accepted.
    def digest(df: DataFrame): (Long, BigDecimal) = {
      // decimal accumulator: long sums overflow under ANSI mode
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(28,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    var iter = 0
    var eDigest = digest(e)
    var done = eDigest._1 == 0L
    while (!done && iter < maxIter) {
      // large-star over the symmetric adjacency: each neighbor v LARGER
      // than the center u re-points to m = min(N(u) ∪ {u}). Per-center min
      // is joined back (never a collected adjacency array — hub nodes stay
      // safe at scale).
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val minN = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // dup pairs are harmless downstream (min-aggregated or re-distinct'd
      // at the end of the round), so no distinct here
      val large = sym
        .join(minN, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // small-star over child→parent edges (u > v by construction): u and
      // all its (smaller) neighbors point to u's min neighbor
      val minU = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val smallNbrs = large
        .join(minU, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val small = smallNbrs
        .unionByName(minU.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      val smallDigest = digest(small)
      done = smallDigest == eDigest
      e = small
      eDigest = smallDigest
      iter += 1
    }
    if (!done && iter >= maxIter)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint edges are (member, componentMin); roots map to themselves
    allIds
      .join(e.select(col("u").as("id"), col("v").as("component")),
        Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** The undirected simple graph of `edges` as a symmetric (src, dst)
    * PLAN: self-loops and duplicate or reversed edges collapsed, both
    * directions emitted, NOT materialized. The ONE undirected-simple-graph
    * definition: every undirected caller builds its adjacency here, so
    * the operators cannot drift apart. */
  def undirectedAdjacency(edges: DataFrame): DataFrame = {
    val simple = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    simple.unionByName(simple.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Label propagation communities (LPA, `iters` synchronous supersteps)
    * → (id, label); stands in for the reference's GDS Louvain (SURVEY G5
    * divergence). Each superstep every vertex adopts the most frequent
    * label among its neighbours' previous-superstep labels, ties broken
    * toward the SMALLEST label. That tie-break makes the partition a
    * function of the graph alone — not of partitioning, shuffle order or
    * core count — and exactly reproducible in SQL (per superstep: count
    * labels per (vertex, label), rank count-desc label-asc, take rank 1),
    * which is what lets g04 carry a full DuckDB oracle.
    *
    * Known behaviour of synchronous LPA: a bipartite component can swap
    * labels between its two sides every superstep and never agree. The
    * smallest case is an isolated pair u—v, which after an odd number of
    * supersteps holds (u → v's label, v → u's label): two communities,
    * where Louvain returns one.
    *
    * Scale shape: per superstep one neighbour equi-join plus two
    * partial-aggregable groupBys, all keyed by vertex id. Lineage is cut
    * per superstep (lazy localCheckpoint) so `iters` never compounds the
    * plan; labels are one (id, label) row per vertex. Vertices are the
    * edge endpoints; an isolated vertex or a self-loop-only vertex has no
    * row. */
  def labelPropagation(edges: DataFrame, iters: Int = 5): DataFrame = {
    // every superstep re-joins the adjacency: materialized once, lazily
    val adj = undirectedAdjacency(edges).localCheckpoint(false)
    var labels = adj.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    for (_ <- 1 to iters) {
      labels = adj
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("c"))
        // argmax as a partial-aggregable min(struct): highest count, then
        // lowest label — never a per-vertex sort window
        .groupBy(col("src"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("best"))
        .select(col("src").as("id"), col("best.l").as("label"))
        .localCheckpoint(false)
    }
    labels
  }

  /** Synchronous PageRank in INTEGER micro-units → (id, pr): every step
    * is exact integer arithmetic (`DIV` = floor division = DuckDB `//`),
    * so a fixed iteration count gives the same values under any
    * partitioning and replays bit-for-bit in any engine — the trick that
    * lets g07 carry a full DuckDB oracle, where a double-sum PageRank
    * depends on the order its shares are added in.
    *
    * pr_0(v) = 1,000,000; each iteration every vertex with out-edges
    * sends share(u) = (pr(u) * dampingPermille) DIV (1000 * outdeg(u))
    * along each out-edge, and pr_{i+1}(v) = teleport + Σ incoming shares,
    * teleport = (1000 − dampingPermille) × 1000 micro-units. Mass lost to
    * floor rounding and dangling vertices is NOT redistributed (exactness
    * over mass conservation — documented divergence from textbook PR; the
    * ranking signal is unaffected).
    *
    * Scale shape: per iteration ONE join of the (persistable) edge frame
    * against the rank frame on src and one aggregation by dst — the same
    * shuffle profile as [[labelPropagation]]; iteration count is
    * fixed, not data-dependent. Overflow bound: total mass never exceeds
    * |V| × 1e6 micro-units (flooring and dangling vertices only lose
    * mass — spec-pinned), so the `pr * dampingPermille` product stays
    * under Long.MaxValue up to |V| ≈ 1e10 even if one vertex held ALL
    * mass; ANSI mode would throw, not wrap, beyond that. */
  def pageRank(
      edges: DataFrame,
      iters: Int = 5,
      dampingPermille: Int = 850): DataFrame = {
    require(iters >= 0 && dampingPermille >= 0 && dampingPermille <= 1000)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .distinct()
      .localCheckpoint(false)
    val verts = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    val outdeg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg"))
    // (id, outdeg) reused by every iteration — one materialization
    val base = verts.join(outdeg, Seq("id"), "left_outer")
      .withColumn("outdeg", coalesce(col("outdeg"), lit(0L)))
      .localCheckpoint(false)
    val teleport = (1000L - dampingPermille) * 1000L
    var pr = base.withColumn("pr", lit(1000000L))
    for (_ <- 1 to iters) {
      val share = pr.filter(col("outdeg") > 0L)
        .withColumn("share",
          expr(s"(pr * $dampingPermille) DIV (1000 * outdeg)"))
        .select(col("id").as("u"), col("share"))
      val contrib = e.join(share, e("src") === col("u"))
        .groupBy(e("dst").as("id"))
        .agg(sum(col("share")).as("c"))
      pr = base.join(contrib, Seq("id"), "left_outer")
        .withColumn("pr", lit(teleport) + coalesce(col("c"), lit(0L)))
        .localCheckpoint(false)
    }
    pr.select(col("id"), col("pr"))
  }

  /** Deterministic synchronous HITS (hubs & authorities) in integer
    * micro-units — same cross-engine replay trick as [[pageRank]]:
    * floating-point mutual reinforcement sums in data-dependent order and
    * can never hash-match across engines, but an integer formulation with
    * floor-division max-normalization replays exactly as unrolled CTEs.
    *
    * Per iteration over the DIRECTED edge set:
    *   araw(v) = Σ_{(u,v)} h(u);   a(v) = (araw·10⁶) DIV max(araw)
    *   hraw(u) = Σ_{(u,v)} a(v);   h(u) = (hraw·10⁶) DIV max(hraw)
    * h₀ ≡ 10⁶. Vertices without in-edges score auth 0; without out-edges
    * hub 0. The max is always ≥ 1 (the argmax vertex normalizes to
    * exactly 10⁶ each iteration), so the division is total; araw·10⁶ ≤
    * 10¹²·indeg keeps longs safe to ~10⁶ in-degree.
    *
    * Scale shape: per iteration two key-partitioned aggregations plus two
    * one-row broadcast scalars — no global sort, no driver data. Output:
    * (id, hub, auth). */
  def hitsIntSync(edges: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct()
      .localCheckpoint(false)
    val verts = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(false)
    var hub = verts.withColumn("h", lit(1000000L))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      val araw = e.join(hub.select(col("id").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("h")).as("araw"))
      auth = araw.crossJoin(broadcast(araw.agg(max(col("araw")).as("amax"))))
        .withColumn("auth", expr("(araw * 1000000) DIV amax"))
        // hard RDD barrier on purpose: araw appears both as the frame and
        // inside the broadcast max subquery, and the NEXT iteration's
        // broadcast jobs execute their child plans directly — a lazy
        // persist leaves the double-referenced lineage live and measured
        // ~12x slower (broadcast jobs re-deriving uncached chains)
        .select(col("id"), col("auth"))
        .localCheckpoint(false)
      val hraw = e.join(auth.select(col("id").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(sum(col("auth")).as("hraw"))
      val h = hraw.crossJoin(broadcast(hraw.agg(max(col("hraw")).as("hmax"))))
        .withColumn("h", expr("(hraw * 1000000) DIV hmax"))
        .select(col("id"), col("h"))
      hub = verts.join(h, Seq("id"), "left_outer")
        .withColumn("h", coalesce(col("h"), lit(0L)))
        .localCheckpoint(false)
    }
    verts
      .join(hub.select(col("id"), col("h").as("hub")), Seq("id"))
      .join(auth, Seq("id"), "left_outer")
      .select(col("id"), col("hub"), coalesce(col("auth"), lit(0L)).as("auth"))
  }

  /** In/out degree per vertex → (id, out_degree, in_degree). Pure
    * relational — two partial aggregations. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count("*").as("out_degree"))
    val in = edges.groupBy(col("dst").as("id")).agg(count("*").as("in_degree"))
    out.join(in, Seq("id"), "full_outer")
      .na.fill(0, Seq("out_degree", "in_degree"))
  }

  /** Degree-ordered orientation of an undirected edge set: canonical
    * (u < v) dedup'd edges, each emitted low-(deg, id)-rank →
    * high-rank as (src, dst, dstRank). The oriented out-degree of any
    * vertex is ≤ √(2m): its k out-neighbors all have degree ≥ its own,
    * so k² ≤ Σdeg = 2m — the invariant that makes the wedge join
    * hub-skew-immune (GraphOpsSpec pins it). */
  private[graft] def orientEdges(edges: DataFrame): DataFrame = {
    // canonical undirected edges (u < v), self-loops dropped
    val e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") < col("v"))
      .distinct()
    val deg = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withRanks = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
    val uRank = struct(col("du").as("d"), col("u").as("n"))
    val vRank = struct(col("dv").as("d"), col("v").as("n"))
    withRanks.select(
      when(uRank < vRank,
        struct(col("u").as("src"), col("v").as("dst"),
          vRank.as("dstRank")))
        .otherwise(
          struct(col("v").as("src"), col("u").as("dst"),
            uRank.as("dstRank")))
        .as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"),
        col("o.dstRank").as("dstRank"))
  }

  /** Canonical triangle enumeration over an undirected edge set, as
    * (t1, t2, t3) with t1 < t2 < t3 — degree-ordered "compact-forward"
    * wedge generation (Latapy 2008; the algorithm every distributed
    * triangle counter uses). Wedges are enumerated only at a vertex's
    * [[orientEdges oriented]] OUT-neighbors — O(m^1.5) worst-case
    * instead of Σdeg² (a hub with degree d contributes d wedges, not d²:
    * at 100 TB the difference between a skew-immune plan and an
    * exploding one). The result SET is orientation-independent, so a
    * naive three-way-join oracle replays it exactly. Shuffles carry only
    * (long, long) edge/wedge keys.
    */
  def triangles(edges: DataFrame): DataFrame = {
    // lazy checkpoint: `oriented` feeds BOTH the wedge side (partitioned
    // by src) and the closing-edge side (partitioned by (b, c)), and
    // ReuseExchange can't unify the two partitionings — without this the
    // canonicalize + degree + rank pipeline would execute twice per
    // action (the repo-wide pattern: lazy localCheckpoint, not a
    // CacheManager-registered persist)
    val oriented = orientEdges(edges).localCheckpoint(false)
    // wedges at the lowest-rank vertex of each candidate triangle; the
    // closing edge, if it exists, is oriented b → c by construction
    val x = oriented.select(col("src").as("a"), col("dst").as("b"),
      col("dstRank").as("rb"))
    val y = oriented.select(col("src").as("a"), col("dst").as("c"),
      col("dstRank").as("rc"))
    val wedges = x.join(y, Seq("a")).filter(col("rb") < col("rc"))
      .select(col("a"), col("b"), col("c"))
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    wedges.join(closing, Seq("b", "c"), "left_semi")
      .select(array_sort(array(col("a"), col("b"), col("c"))).as("t"))
      .select(col("t").getItem(0).as("t1"), col("t").getItem(1).as("t2"),
        col("t").getItem(2).as("t3"))
  }

  /** Per-node triangle participation counts: (id, n_triangles), one count
    * per triangle a node is a member of. */
  def triangleParticipation(edges: DataFrame): DataFrame =
    triangles(edges)
      .select(explode(array(col("t1"), col("t2"), col("t3"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))

  /** Bounded-round k-core peeling over the undirected simple graph:
    * `rounds` synchronous rounds of "drop every vertex with fewer than k
    * surviving neighbors", then (id, core_degree) for the survivors.
    * In BOUNDED mode (cap hit before the fixpoint) the output can
    * include survivors with core_degree < k (their neighbors were
    * peeled in the final round) and omits survivors left with zero
    * in-core neighbors — both by construction of the final inner-join
    * degree count, and both replayed identically by the SQL oracle.
    * With `rounds` ≥ the peeling depth this IS the k-core (the loop
    * early-exits once a round removes nothing — a no-op round changes
    * nothing, so skipping the remainder is exact); with fewer rounds the
    * result is the documented bounded-round over-approximation. The
    * FIXED round cap is what makes the operator engine-portable — the
    * same unrolled-CTE replay as [[labelPropagation]] /
    * [[pageRank]]; a run-to-fixpoint loop's round count is
    * data-dependent and an oracle could not know where to stop.
    * Per round: two joins of `edges` (the symmetric simple graph,
    * [[undirectedAdjacency]]) against the id-only survivor set + one
    * count — nothing wider than a long ever shuffles. */
  def kCorePeel(
      edges: DataFrame,
      k: Int,
      rounds: Int = 5): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val adj = edges.select(col("src"), col("dst"))
    def coreDegrees(survivors: DataFrame): DataFrame = adj
      .join(survivors.select(col("id").as("src")), Seq("src"))
      .join(survivors.select(col("id").as("dst")), Seq("dst"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("core_degree"))
    var survivors = adj.select(col("src").as("id")).distinct()
      .localCheckpoint(false)
    var lastDegrees: Option[DataFrame] = None
    var n = survivors.count()
    var r = 0
    var converged = false
    while (r < rounds && !converged && n > 0) {
      val next = coreDegrees(survivors)
        .filter(col("core_degree") >= k)
        .select(col("src").as("id"), col("core_degree"))
        .localCheckpoint(false)
      val m = next.count()
      // peeling is monotone: an unchanged COUNT means an unchanged SET —
      // and then `next`'s degrees, computed against that same set, ARE
      // the final answer; no recompute job needed
      converged = m == n
      n = m
      lastDegrees = Some(next)
      survivors = next.select(col("id"))
      r += 1
    }
    lastDegrees match {
      case Some(d) if converged => d
      case _ =>
        // round cap hit (or empty graph): degrees must be recomputed
        // against the FINAL survivor set — the last round's values still
        // count neighbors that were peeled in that same round. NOTE
        // (bounded mode only): a survivor whose remaining neighbors were
        // all peeled in the final round emits no row here (degree-0 rows
        // fall out of the inner joins) — the SQL replay behaves
        // identically.
        coreDegrees(survivors)
          .select(col("src").as("id"), col("core_degree"))
    }
  }

  /** Link-prediction features over the undirected graph `edges` (the
    * symmetric simple graph, [[undirectedAdjacency]]): for every
    * candidate pair (two non-adjacent-or-adjacent nodes sharing ≥ 1
    * common neighbor), the common-neighbor count and the Adamic–Adar
    * score (Σ over shared neighbors w of 1/log2 deg(w) — log2, the
    * house engine-exact logarithm, rather than ln; each term micro-
    * rounded then exactly summed, so the score replays in any engine).
    *
    * Scale: wedge enumeration is the classic quadratic hazard — a hub
    * with a million neighbors would emit 10¹² pairs — so each center's
    * ENUMERATED neighbor list is capped at `maxNeighbors` (smallest
    * ids, deterministic; the same hot-cap discipline as the LSH bucket
    * and posting-list caps). The Adamic–Adar WEIGHT always uses the
    * full degree, so capping only bounds which pairs are emitted, not
    * their scores. Shuffles carry only (id, id) pairs and degrees.
    *
    * The cap itself is skew-bounded: an exact two-level salted min-k
    * (the [[graft.operators.Sampling.stratifiedFixedSample]] trick) —
    * rows rank first inside (center, one of 32 salted sub-buckets), so
    * a 10⁸-degree hub sorts 32 lists of deg/32 in 32 parallel tasks
    * instead of its FULL adjacency in one; only the ≤ 32·k per-bucket
    * survivors enter the exact per-center ranking. Min-k over a union
    * of bucket min-k's is the global min-k, so the result is identical
    * to the single-window plan.
    *
    * Output: (node_a, node_b, common_neighbors, aa_micro),
    * node_a < node_b. */
  def linkPrediction(
      edges: DataFrame,
      maxNeighbors: Int = 64): DataFrame = {
    require(maxNeighbors >= 2, s"maxNeighbors=$maxNeighbors")
    val adj = edges.select(col("src").as("u"), col("dst").as("v"))
    val deg = adj.groupBy(col("u"))
      .agg(count(lit(1)).as("deg"))
    import org.apache.spark.sql.expressions.Window
    val level1 = Window.partitionBy(col("u"), col("__sub")).orderBy(col("v"))
    val level2 = Window.partitionBy(col("u")).orderBy(col("v"))
    // lazily checkpointed like triangles()' oriented frame: it feeds
    // both (differently-aliased) sides of the wedge self-join — without
    // the boundary the two-level ranking would run twice
    val capped = adj
      .withColumn("__sub", pmod(xxhash64(col("v")), lit(32L)))
      .withColumn("__r1", row_number().over(level1))
      .filter(col("__r1") <= maxNeighbors)
      .withColumn("rn", row_number().over(level2))
      .filter(col("rn") <= maxNeighbors)
      .select(col("u"), col("v"))
      .localCheckpoint(false)
    capped.as("x")
      .join(capped.select(col("u"), col("v").as("v2")).as("y"), Seq("u"))
      .filter(col("v") < col("v2"))
      .join(deg, Seq("u"))
      .groupBy(col("v").as("node_a"), col("v2").as("node_b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(round(lit(1000000.0) / log2(col("deg").cast("double")))
          .cast("long")).as("aa_micro"))
  }
}

/** String-keyed vertex ids: a key's id is its `xxhash64`, so an edge table
  * maps to ids by projection, with no dictionary join. The hash is safe
  * once [[assertNoCollisions]] has passed over the vertex set. */
object Vertices {
  def id(key: Column): Column = xxhash64(key)

  /** Fails fast when two distinct `uri` values of `vertices` (id, uri, …)
    * share an `id`, so a silent graph corruption can't happen (SURVEY §1.4
    * GDS mapping note). */
  def assertNoCollisions(vertices: DataFrame): Unit = {
    val collisions = vertices.select(col("id"), col("uri")).distinct()
      .groupBy("id").count().filter(col("count") > 1)
    if (!collisions.isEmpty)
      throw new IllegalStateException(
        "xxhash64 vertex-id collision: two distinct keys share an id")
  }
}
