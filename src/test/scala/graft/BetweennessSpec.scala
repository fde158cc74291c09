package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Betweenness, GraphOps}

class BetweennessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def undirected(edges: Seq[(Long, Long)]): DataFrame =
    GraphOps.undirectedAdjacency(edges.toDF("src", "dst"))

  /** Undirected betweenness of `edges`: approx over their adjacency. */
  private def bc(edges: Seq[(Long, Long)], k: Int = 100): Map[Long, Double] =
    Betweenness.approx(undirected(edges), k = k)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("path graph 1-2-3: middle vertex carries all dependency") {
    // all-sources (k >= |V|) = exact Brandes, directed-both-ways convention:
    // pair (1,3) contributes via 2 from both endpoints -> 2.0
    val m = bc(Seq((1L, 2L), (2L, 3L)))
    assert(m(2L) == 2.0)
    assert(m(1L) == 0.0 && m(3L) == 0.0)
  }

  test("star graph: center mediates all (n-1)(n-2) directed pairs") {
    val edges = (2L to 6L).map(i => (1L, i))
    val m = bc(edges)
    assert(m(1L) == 5.0 * 4.0) // n-1 = 5 leaves
    assert((2L to 6L).forall(m(_) == 0.0))
  }

  test("path graph 1-2-3-4: exact dependencies") {
    // undirected betweenness: v2 = pairs {1-3,1-4} + ... classic result:
    // bc(2) = bc(3) = 2 (undirected); directed-both-ways doubles it
    val m = bc(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(m(2L) == 4.0 && m(3L) == 4.0)
    assert(m(1L) == 0.0 && m(4L) == 0.0)
  }

  test("diamond: equal-weight split across the two shortest paths") {
    // 1->2->4, 1->3->4 (undirected): sigma(4 from 1) = 2, each of 2,3
    // carries 0.5 per direction of the (1,4) pair -> 1.0 each
    val m = bc(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
    assert(math.abs(m(2L) - 1.0) < 1e-12)
    assert(math.abs(m(3L) - 1.0) < 1e-12)
  }

  /** Driver-side exact Brandes (undirected input, directed-both-ways
    * convention — the operator's documented contract). */
  private def localBrandes(edges: Seq[(Long, Long)]): Map[Long, Double] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1))).distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val vertices = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val bc = scala.collection.mutable.Map.empty[Long, Double]
      .withDefaultValue(0.0)
    for (s <- vertices) {
      val sigma = scala.collection.mutable.Map(s -> 1L).withDefaultValue(0L)
      val dist = scala.collection.mutable.Map(s -> 0)
      val order = scala.collection.mutable.ArrayBuffer.empty[Long]
      var frontier = Seq(s)
      var d = 0
      while (frontier.nonEmpty) {
        order ++= frontier
        d += 1
        val next = scala.collection.mutable.LinkedHashSet.empty[Long]
        for (v <- frontier; w <- adj.getOrElse(v, Nil)) {
          if (!dist.contains(w)) { next += w; dist(w) = d }
          if (dist(w) == d) sigma(w) += sigma(v)
        }
        frontier = next.toSeq
      }
      val delta = scala.collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      for (w <- order.reverse; v <- adj.getOrElse(w, Nil)
          if dist.get(v).contains(dist(w) - 1)) {
        delta(v) += sigma(v).toDouble / sigma(w).toDouble * (1.0 + delta(w))
      }
      for (v <- order if v != s) bc(v) += delta(v)
    }
    vertices.map(v => v -> bc(v)).toMap
  }

  /** Exact-int Brandes from `root` over `edges` as given: one forward
    * BFS, then the backward recurrence over the same frame. */
  private def bcMicro(edges: DataFrame, root: Long): Map[Long, Long] =
    Betweenness.betweennessIntFromForward(
        Betweenness.forwardCounts(edges, Seq(root).toDF("root")), edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("forwardCounts + betweennessIntFromForward: closed forms in micro-units") {
    // directed path 1->2->3, root 1: delta(2) = (1*(1e6+0)) div 1 = 1e6
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val m1 = bcMicro(path, 1L)
    assert(m1 == Map(2L -> 1000000L))
    // diamond 1->{2,3}->4, root 1: sigma(4)=2, so each middle vertex
    // carries (1*(1e6+0)) div 2 = 500000 — the equal split, floored
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val m2 = bcMicro(diamond, 1L)
    assert(m2 == Map(2L -> 500000L, 3L -> 500000L))
    // chain through the diamond 1->{2,3}->4->5: delta(4) = (2*(1e6+0))
    // div 2 = 1e6 (relays 5, sigma ratio 2/2); the middles each get
    // (1*(1e6+1e6)) div 2 = 1e6 — true Brandes (1/2)(1+1) = 1 exactly
    val deep = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val m3 = bcMicro(deep, 1L)
    assert(m3 == Map(2L -> 1000000L, 3L -> 1000000L, 4L -> 1000000L))
    // single edge 1->2, root 1: max BFS depth is exactly 1 — no interior
    // nodes, so the exact-int backward phase must return the EMPTY frame
    // (regression: the accumulator is only populated at depth >= 1 and a
    // maxD == 1 run used to dereference it null)
    val edge = Seq((1L, 2L)).toDF("src", "dst")
    assert(bcMicro(edge, 1L).isEmpty)
  }

  test("closenessFromForward: closed forms on a path") {
    // path 1->2->3 from root 1: reached {1@0, 2@1, 3@2}
    //   closeness = (3-1)*1e6 div (0+1+2) = 666666
    //   harmonic  = 1e6 div 1 + 1e6 div 2 = 1500000
    // root 9 isolated: n_reached 1, sums 0, closeness 0
    val fwd = Seq(
      (1L, 1L, 0, 1L), (1L, 2L, 1, 1L), (1L, 3L, 2, 1L),
      (9L, 9L, 0, 1L)).toDF("root", "id", "depth", "sigma")
    val got = Betweenness.closenessFromForward(fwd)
      .orderBy(col("root")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 3L, 3L, 666666L, 1500000L),
      (9L, 1L, 0L, 0L, 0L)))
  }

  test("exact mode (k >= |V|) equals driver-side Brandes on 100 random graphs") {
    // 100 disjoint random graphs, id-offset so one batched approx() call
    // computes all of them at once (betweenness of a disjoint union is the
    // per-component betweenness) — one Spark loop, 100 property cases
    val rnd = new scala.util.Random(11)
    val perGraph = (0 until 100).map { g =>
      val n = 4 + rnd.nextInt(5)
      val base = g * 1000L
      g -> (for {
        a <- 0 until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.4
      } yield (base + a, base + b))
    }.toMap
    val all = perGraph.values.flatten.toSeq
    val got = Betweenness.approx(undirected(all), k = 1000000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((g, es) <- perGraph if es.nonEmpty; (v, want) <- localBrandes(es)) {
      assert(math.abs(got(v) - want) < 1e-9,
        s"graph $g vertex $v: got ${got(v)}, want $want")
    }
    // scaled == raw when every vertex is a source
    val scaledEq = Betweenness.approx(undirected(all), k = 1000000)
      .filter(abs(col("betweenness") - col("scaled")) > lit(1e-12)).count()
    assert(scaledEq == 0L)
  }

  test("directed mode: edges are not symmetrised (path 1->2->3 gives bc(2)=1)") {
    // edges are traversed as given: the undirected adjacency counts the
    // (1,3) pair from both endpoints (bc(2)=2), the directed path only
    // has the 1->3 direction
    val m = Betweenness.approx(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), k = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(2L) == 1.0)
    assert(m(1L) == 0.0 && m(3L) == 0.0)
  }

  test("forwardCounts equals a driver BFS path-counter on random directed graphs (3 seeds)") {
    // reference: level-synchronous BFS with exact path counting — a node
    // first reached at depth d accumulates sigma from EVERY depth-(d-1)
    // predecessor; nodes reached earlier are excluded (cycles allowed)
    def ref(edges: Seq[(Long, Long)], roots: Seq[Long], maxDepth: Int)
        : Map[(Long, Long), (Int, Long)] = {
      val adj = edges.distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val out = scala.collection.mutable.Map.empty[(Long, Long), (Int, Long)]
      for (r <- roots) {
        val depthOf = scala.collection.mutable.Map[Long, Int](r -> 0)
        var frontier = Map(r -> 1L)
        out((r, r)) = (0, 1L)
        var d = 0
        while (frontier.nonEmpty && d < maxDepth) {
          d += 1
          val next = scala.collection.mutable.Map.empty[Long, Long]
          for ((u, sig) <- frontier; v <- adj.getOrElse(u, Nil)) {
            if (!depthOf.contains(v)) depthOf(v) = d
            if (depthOf(v) == d) next(v) = next.getOrElse(v, 0L) + sig
          }
          frontier = next.toMap
          frontier.foreach { case (v, s) => out((r, v)) = (d, s) }
        }
      }
      out.toMap
    }
    for (seed <- Seq(3, 11, 27)) {
      val rnd = new scala.util.Random(seed)
      val n = 25 + rnd.nextInt(15)
      val edges = (1 to 3 * n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val roots = rnd.shuffle((0L until n.toLong).toList).take(3)
      val got = Betweenness.forwardCounts(
          edges.toDF("src", "dst"), roots.toDF("root"), maxDepth = 6)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getLong(3))))
        .toMap
      assert(got == ref(edges, roots, 6), s"seed=$seed n=$n")
    }
  }

  test("sampling: k=2 of a path still ranks the middle highest, scaled") {
    val m = Betweenness.approx(undirected(Seq((1L, 2L), (2L, 3L))), k = 2, seed = 7L)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // scaled = raw * 3/2
    m.foreach { case (_, (raw, scaled)) =>
      assert(math.abs(scaled - raw * 1.5) < 1e-12)
    }
  }
}
