package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed Louvain community detection (SURVEY G5 — the reference calls
  * GDS `louvain.stream`, `analysis_queries.md:237-242`; graft ships LPA as
  * the fast substitute and THIS as the modularity-based algorithm proper).
  *
  * Fully relational implementation:
  *  - local-move phase: every node evaluates the modularity gain of
  *    adopting each neighbor community — one join adjacency⋈communities +
  *    one aggregation per sweep; moves are synchronous but restricted to a
  *    hash-parity "checkerboard" half of the nodes per sweep (the standard
  *    guard against parallel-move oscillation) so every sweep stays a bulk
  *    operation, never a sequential vertex scan;
  *  - contraction phase: communities collapse to supernodes; internal
  *    edges become SELF-LOOPS whose weight is carried into the supernode's
  *    degree (dropping them is the classic bug that collapses everything
  *    at level 2 — total weight 2m is conserved across levels);
  *  - final labels propagate back through the per-level mappings.
  *
  * Deterministic: gain ties break on smallest community id; the
  * checkerboard uses xxhash64(id) parity, so runs reproduce exactly.
  *
  * Internal graph representation: SYMMETRIC weighted adjacency
  * (src, dst, w) with both directions present for src≠dst, and self-loops
  * (src=dst) present once carrying the full internal (directed) weight.
  */
object Louvain {

  /** @param edges (src, dst), read as undirected: self-loops and
    *        duplicate or reversed edges collapse
    *        ([[GraphOps.undirectedAdjacency]])
    * @return (id, community) */
  def run(
      edges: DataFrame,
      sweepsPerLevel: Int = 8,
      levels: Int = 2): DataFrame = {
    // the simple undirected graph, w=1 each way
    var adj = GraphOps.undirectedAdjacency(edges)
      .withColumn("w", lit(1.0))
      .localCheckpoint()

    var membership: DataFrame = adj.select(col("src").as("id")).distinct()
      .withColumn("community", col("id"))
      .localCheckpoint()

    var level = 0
    var done = adj.isEmpty // empty graph: nothing to move, empty membership
    while (level < levels && !done) {
      val comm = oneLevel(adj, sweepsPerLevel)
      membership = membership
        .join(comm.withColumnRenamed("id", "community")
          .withColumnRenamed("new_community", "next"),
          Seq("community"), "left_outer")
        .select(col("id"),
          coalesce(col("next"), col("community")).as("community"))
        .localCheckpoint()
      // contract: group both endpoints by community; internal weight lands
      // on self-loop rows (cs = cd), conserving total weight. LAZY
      // checkpoint + count: the convergence probe materializes it in the
      // same job (eager + isEmpty was two jobs per level).
      val contracted = adj
        .join(comm.withColumnRenamed("id", "src")
          .withColumnRenamed("new_community", "cs"), Seq("src"))
        .join(comm.withColumnRenamed("id", "dst")
          .withColumnRenamed("new_community", "cd"), Seq("dst"))
        .groupBy(col("cs").as("src"), col("cd").as("dst"))
        .agg(sum("w").as("w"))
        .localCheckpoint(false)
      // converged when nothing merged (only self-loops or same node count)
      done = contracted.filter(col("src") =!= col("dst")).count() == 0L
      adj = contracted
      level += 1
    }
    membership
  }

  /** One Louvain level over a symmetric adjacency (self-loops allowed).
    * @return (id, new_community) for every vertex of this level */
  private def oneLevel(adj: DataFrame, sweeps: Int): DataFrame = {
    val nonSelf = adj.filter(col("src") =!= col("dst")).localCheckpoint()
    // degree includes self-loop weight; 2m = total weight (conserved)
    val degrees = adj.groupBy(col("src").as("id"))
      .agg(sum("w").as("k")).localCheckpoint()
    val m2 = adj.agg(sum("w")).head().getDouble(0)

    var comm = degrees.select(col("id"), col("id").as("community"))
      .localCheckpoint()

    var sweep = 0
    while (sweep < sweeps) {
      val sigmaTot = comm.join(degrees, Seq("id"))
        .groupBy("community").agg(sum("k").as("sigma_tot"))

      // ki_in: weight from node to each neighbor community (no self-loops:
      // a node's loop moves with it, cancelling out of every comparison)
      val kiIn = nonSelf
        .join(comm.withColumnRenamed("id", "dst")
          .withColumnRenamed("community", "ncomm"), Seq("dst"))
        .groupBy(col("src").as("id"), col("ncomm"))
        .agg(sum("w").as("ki_in"))

      val candidates = kiIn
        .join(degrees, Seq("id"))
        .join(comm, Seq("id"))
        .join(sigmaTot.withColumnRenamed("community", "ncomm"), Seq("ncomm"))
        // Σtot of the target must exclude the moving node itself when it
        // is already a member (i.e. the "stay" candidate)
        .withColumn("sigma_adj",
          when(col("ncomm") === col("community"), col("sigma_tot") - col("k"))
            .otherwise(col("sigma_tot")))
        .withColumn("gain",
          col("ki_in") - col("k") * col("sigma_adj") / lit(m2))

      val w = Window.partitionBy(col("id"))
        .orderBy(desc("gain"), col("ncomm"))
      val best = candidates
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("ncomm").as("best"), col("gain").as("best_gain"),
          col("community"))

      // Gain of staying put, for the strict comparison. Computed for EVERY
      // node from its current community directly — a node with no edges
      // into its own community has no candidates row for it, and its true
      // stay gain is NEGATIVE (-k·(Σtot−k)/2m), not 0: flooring it at 0
      // would let such nodes stick in communities they have no link to.
      val stay = comm
        .join(degrees, Seq("id"))
        .join(sigmaTot, Seq("community"))
        .join(kiIn.withColumnRenamed("ncomm", "community"),
          Seq("id", "community"), "left_outer")
        .withColumn("stay_gain",
          coalesce(col("ki_in"), lit(0.0)) -
            col("k") * (col("sigma_tot") - col("k")) / lit(m2))
        .select(col("id"), col("stay_gain"))

      val parity = sweep % 2
      // LAZY checkpoint: the moves count below materializes it — one job
      // per sweep instead of checkpoint-then-count
      val decided = best
        .join(stay, Seq("id"))
        .withColumn("move",
          (pmod(xxhash64(col("id")), lit(2)) === parity) &&
            col("best") =!= col("community") &&
            col("best_gain") > col("stay_gain"))
        .localCheckpoint(false)
      // early exit: a parity sweep with zero moves after sweep 2 means the
      // other parity class also had its chance — converged
      val moves = decided.filter(col("move")).count()
      comm = decided
        .select(col("id"),
          when(col("move"), col("best")).otherwise(col("community"))
            .as("community"))
      sweep += 1
      if (moves == 0 && sweep >= 2) sweep = sweeps
    }
    comm.select(col("id"), col("community").as("new_community"))
  }

  /** Modularity of a partition as a LAZY one-row DataFrame (`modularity`
    * double): Q = in/(2m) − Σ_c (tot_c/(2m))², computed over the symmetric
    * view. The lazy shape lets a catalog query crossJoin the value onto
    * its summary row as a self-verification column (modularity near 0
    * means the labeling is no better than random — a semantic signal a
    * row-count gate can't see). */
  def modularityDF(edges: DataFrame, membership: DataFrame): DataFrame = {
    val simple = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val adj = simple
      .select(col("a").as("src"), col("b").as("dst"), lit(1.0).as("w"))
      .unionByName(simple.select(col("b").as("src"), col("a").as("dst"),
        lit(1.0).as("w")))
    val withC = adj
      .join(membership.withColumnRenamed("id", "src")
        .withColumnRenamed("community", "cs"), Seq("src"))
      .join(membership.withColumnRenamed("id", "dst")
        .withColumnRenamed("community", "cd"), Seq("dst"))
    val m2df = adj.agg(sum("w").as("__m2"))
    val inCdf = withC.filter(col("cs") === col("cd"))
      .agg(coalesce(sum("w"), lit(0.0)).as("__in"))
    val totSqDf = adj.groupBy("src").agg(sum("w").as("k"))
      .join(membership.withColumnRenamed("id", "src"), Seq("src"))
      .groupBy("community").agg(sum("k").as("tot"))
      .select(coalesce(sum(col("tot") * col("tot")), lit(0.0)).as("__totsq"))
    // three one-row aggregates — broadcast crossJoins, no real shuffle
    m2df.crossJoin(inCdf).crossJoin(totSqDf)
      .select((col("__in") / col("__m2") -
        col("__totsq") / (col("__m2") * col("__m2"))).as("modularity"))
  }

  /** Driver-side scalar view of [[modularityDF]] (tests / reporting). */
  def modularity(edges: DataFrame, membership: DataFrame): Double =
    modularityDF(edges, membership).head().getDouble(0)
}
