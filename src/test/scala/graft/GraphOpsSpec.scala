package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Betweenness, GraphOps, Vertices}

class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // diamond DAG: 1→2, 1→3, 2→4, 3→4, 4→5
  private lazy val diamond =
    Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L)).toDF("src", "dst")

  /** The operators read edges as given: the undirected graph of `edges`. */
  private def undirected(edges: DataFrame): DataFrame =
    GraphOps.undirectedAdjacency(edges)

  test("bfsDepths: minimum depth per node") {
    val d = GraphOps.bfsDepths(diamond, Seq(1L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
  }

  test("varLengthPaths: path-counting (Cypher `*` semantics), not reachability") {
    val p = GraphOps.varLengthPaths(diamond, Seq(1L).toDF("id"))
      .collect()
      .map(r => (r.getLong(1), r.getInt(2)) -> r.getLong(3)).toMap
    // node 4 reachable via two distinct depth-2 paths; node 5 via two depth-3
    assert(p((2L, 1)) == 1L && p((3L, 1)) == 1L)
    assert(p((4L, 2)) == 2L)
    assert(p((5L, 3)) == 2L)
  }

  test("shortestPath length: undirected hops; -1 when disconnected") {
    def hops(edges: DataFrame, a: Long, b: Long): Int =
      GraphOps.shortestPath(undirected(edges), a, b).size - 1
    assert(hops(diamond, 5L, 1L) == 3)
    assert(hops(diamond, 2L, 3L) == 2)
    val twoIslands = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    assert(hops(twoIslands, 1L, 4L) == -1)
  }

  test("shortestPath reconstructs a valid minimal node sequence") {
    val adj = undirected(diamond)
    val p = GraphOps.shortestPath(adj, 1L, 5L)
    assert(p.length == 4) // 1 -> {2|3} -> 4 -> 5
    assert(p.head == 1L && p.last == 5L)
    assert(p(2) == 4L && (p(1) == 2L || p(1) == 3L))
    // deterministic across runs (min-parent tiebreak)
    assert(GraphOps.shortestPath(adj, 1L, 5L) == p)
    assert(GraphOps.shortestPath(adj, 1L, 1L) == Seq(1L))
    val twoIslands = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    assert(GraphOps.shortestPath(undirected(twoIslands), 1L, 4L).isEmpty)
  }

  test("shortestPathFrame: (step, id) rows mirror shortestPath; empty when unreachable") {
    val adj = undirected(diamond)
    val seq = GraphOps.shortestPath(adj, 1L, 5L)
    val frame = GraphOps.shortestPathFrame(adj, 1L, 5L)
      .orderBy(col("step")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(frame.toSeq == seq.zipWithIndex.map { case (id, i) => (i, id) })
    // min-parent tiebreak picks node 2 over 3 on the diamond
    assert(frame(1) == (1, 2L))
    val twoIslands = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    assert(GraphOps.shortestPathFrame(undirected(twoIslands), 1L, 4L).count() == 0L)
    // a maxDepth cap short of the target yields the same empty frame the
    // oracle's capped unrolling produces
    assert(GraphOps.shortestPathFrame(adj, 1L, 5L, maxDepth = 2).count() == 0L)
  }

  test("triangles: compact-forward enumeration equals brute force (3 seeds)") {
    // K4 has exactly 4 triangles; each vertex sits in 3
    val k4 = (for { i <- 1L to 4L; j <- 1L to 4L if i < j } yield (i, j))
      .toDF("src", "dst")
    val t4 = GraphOps.triangles(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(t4 == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
    val p4 = GraphOps.triangleParticipation(k4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p4 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // triangle-free graph (star) finds none; duplicate/reversed/self
    // edges don't create phantom triangles
    val star = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (1L, 1L))
      .toDF("src", "dst")
    assert(GraphOps.triangles(star).count() == 0L)
    // random graphs vs driver-side brute force over canonical edges
    for (seed <- Seq(11, 12, 13)) {
      val rnd = new scala.util.Random(seed)
      val n = 15
      val es = (1 to 60).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = es.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      val brute = (for {
        (a, b) <- canon; c <- 0L until n.toLong
        if b < c && canon((a, c)) && canon((b, c))
      } yield (a, b, c)).toSet
      val got = GraphOps.triangles(es.toDF("src", "dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == brute, s"seed $seed")
    }
  }

  test("orientEdges: oriented out-degree respects the √(2m) hub bound") {
    // 1000-leaf star: naively the hub holds C(1000,2) ≈ 500k wedges; the
    // degree orientation points every edge leaf → hub, so max oriented
    // out-degree is 1 and the wedge join sees ZERO pairs
    val star = (1L to 1000L).map(i => (0L, i)).toDF("src", "dst")
    val starOut = GraphOps.orientEdges(star)
      .groupBy("src").count().agg(max("count")).head().getLong(0)
    assert(starOut == 1L)
    assert(GraphOps.triangles(star).count() == 0L)
    // random graphs: out-degree ≤ √(2m) for every vertex
    for (seed <- Seq(21, 22)) {
      val rnd = new scala.util.Random(seed)
      val es = (1 to 400)
        .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
      val m = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct.size
      val maxOut = GraphOps.orientEdges(es.toDF("src", "dst"))
        .groupBy("src").count().agg(max("count")).head().getLong(0)
      assert(maxOut.toDouble <= math.sqrt(2.0 * m) + 1e-9,
        s"seed $seed: maxOut=$maxOut m=$m")
    }
  }

  test("kCorePeel: fixpoint equals true k-core; bounded rounds replay") {
    // K4 plus a tail 4-5-6: the 3-core is exactly the K4 (5 and 6 both
    // fall below 3 in round one; 4 keeps degree 3 inside the clique)
    val g = ((for { i <- 1L to 4L; j <- 1L to 4L if i < j } yield (i, j)) ++
      Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val adj = undirected(g)
    val core = GraphOps.kCorePeel(adj, k = 3, rounds = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // bounded rounds: after ONE round only vertex 6 (degree 1) is gone;
    // 5 survives with in-core degree 1 — the documented mid-peel state
    val one = GraphOps.kCorePeel(adj, k = 2, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L, 5L -> 1L))
    // a too-high k empties the graph
    assert(GraphOps.kCorePeel(adj, k = 10, rounds = 3).count() == 0L)
    // random graphs: generous rounds reach the fixpoint, which must
    // equal a driver-side run-to-fixpoint peel (2 seeds, k = 2 and 3)
    for (seed <- Seq(31, 32); kk <- Seq(2, 3)) {
      val rnd = new scala.util.Random(seed)
      val es = (1 to 80)
        .map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter { case (a, b) => a != b }
      val canon = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // local peel to fixpoint
      var nodes = canon.flatMap { case (a, b) => Seq(a, b) }.toSet
      var changed = true
      while (changed) {
        val deg = canon.filter { case (a, b) => nodes(a) && nodes(b) }
          .flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).map { case (x, xs) => x -> xs.size }
        val keep = nodes.filter(x => deg.getOrElse(x, 0) >= kk)
        changed = keep != nodes
        nodes = keep
      }
      val expected = canon.filter { case (a, b) => nodes(a) && nodes(b) }
        .flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (x, xs) => x -> xs.size.toLong }
      val got = GraphOps.kCorePeel(undirected(es.toDF("src", "dst")), kk, rounds = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed k=$kk")
    }
  }

  test("random DAGs: bfsDepths equals a local reference BFS (3 seeds)") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.12
      } yield (a.toLong, b.toLong))
      val got = GraphOps.bfsDepths(edges.toDF("src", "dst"), Seq(0L).toDF("id"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // local reference BFS
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var want = Map(0L -> 0)
      var frontier = Seq(0L)
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(x => adj.getOrElse(x, Nil))
          .filterNot(want.contains).distinct
        want = want ++ frontier.map(_ -> d)
      }
      assert(got == want, s"seed=$seed")
    }
  }

  /** Driver-side union-find over `edges`: (id → smallest id of its
    * component) for every endpoint, self-loops included. */
  private def componentsRef(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = if (parent(x) == x) x else find(parent(x))
    for ((u, v) <- edges) {
      parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def components(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedComponents finds the two islands") {
    val cc = components(GraphOps.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")))
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("star CC converges on a long chain where min-label propagation can't") {
    // 80-node path: diameter 79, so min-label propagation would need 79
    // rounds; the star rounds need O(log² n). driverCutoff=0 forces the
    // DISTRIBUTED star rounds (the default would take the size-gated
    // driver union-find on a fixture this small)
    val chain = (0L until 79L).map(i => (i, i + 1)).toDF("src", "dst")
    val cc = components(GraphOps.connectedComponents(chain, driverCutoff = 0))
    assert(cc.size == 80 && cc.values.forall(_ == 0L))
  }

  test("star CC equals a driver union-find reference on random graphs (5 seeds)") {
    for (seed <- Seq(1, 7, 13, 21, 33)) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(120)
      val m = n / 2 + rnd.nextInt(2 * n)
      val es = (1 to m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val want = componentsRef(es)
      val edges = es.toDF("src", "dst")
      // both the size-gated driver union-find (default at this size) and
      // the forced distributed star rounds must agree with the reference
      val viaDriver = components(GraphOps.connectedComponents(edges))
      val viaStar = components(GraphOps.connectedComponents(edges, driverCutoff = 0))
      assert(viaDriver == want, s"seed=$seed n=$n m=$m (driver)")
      assert(viaStar == want, s"seed=$seed n=$n m=$m (star)")
    }
  }

  test("star CC: isolated-pair and self-referential inputs (both paths)") {
    for (cutoff <- Seq(0, 100000)) {
      val cc = components(GraphOps.connectedComponents(
        Seq((5L, 5L), (7L, 8L)).toDF("src", "dst"), driverCutoff = cutoff))
      // self-loop node keeps its own id; the pair maps to its min
      assert(cc == Map(5L -> 5L, 7L -> 7L, 8L -> 7L), s"cutoff=$cutoff")
    }
  }

  test("pageRankIntSync: hand-computed star graph, exact integer values") {
    // symmetric star 1–2, 1–3: outdeg 1→2, 2→1, 3→1; pr0 = 1,000,000.
    // share(1) = (1e6*850) DIV 2000 = 425,000 to each leaf;
    // share(leaf) = 850,000 to the center.
    // p1: center 150,000 + 1,700,000 = 1,850,000; leaves 575,000 each.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val p1 = GraphOps.pageRank(edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p1 == Map(1L -> 1850000L, 2L -> 575000L, 3L -> 575000L))
    // deterministic across runs at depth 5, and the center stays on top
    val a = GraphOps.pageRank(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphOps.pageRank(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a(1L) > a(2L) && a(2L) == a(3L))
  }

  test("pageRankIntSync equals a driver integer-PR reference on random graphs (3 seeds)") {
    // positive-long Scala `/` is floor division = the operator's DIV
    def ref(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val e = edges.distinct
      val verts = (e.map(_._1) ++ e.map(_._2)).distinct
      val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      var pr = verts.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val contrib = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        for ((u, v) <- e)
          contrib(v) += (pr(u) * 850L) / (1000L * outdeg(u))
        pr = verts.map(v => v -> (150000L + contrib(v))).toMap
      }
      pr
    }
    for (seed <- Seq(5, 17, 29)) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(20)
      val edges = (1 to 3 * n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val got = GraphOps.pageRank(edges.toDF("src", "dst"), iters = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = ref(edges, 4)
      assert(got == want, s"seed=$seed n=$n")
      // mass bounds: teleport floor per vertex; flooring/dangling only
      // ever LOSE mass vs the 1e6-per-vertex start
      assert(got.values.forall(_ >= 150000L))
      assert(got.values.sum <= 1000000L * got.size)
    }
  }

  test("hitsIntSync: hand-computed chain, exact integer values") {
    // 1→2, 3→2, 2→4: only 2 and 4 have in-edges, only 1, 3, 2 have
    // out-edges. Iter 1: araw(2)=2e6, araw(4)=1e6, amax=2e6 →
    // auth(2)=1e6, auth(4)=500000; hraw(1)=hraw(3)=1e6, hraw(2)=500000,
    // hmax=1e6 → hub(1)=hub(3)=1e6, hub(2)=500000, hub(4)=0.
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 4L)).toDF("src", "dst")
    val r = GraphOps.hitsIntSync(edges, iters = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r == Map(
      1L -> (1000000L, 0L), 3L -> (1000000L, 0L),
      2L -> (500000L, 1000000L), 4L -> (0L, 500000L)))
  }

  test("hitsIntSync equals a driver integer-HITS reference on random graphs (3 seeds)") {
    def ref(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
      val e = edges.distinct
      val verts = (e.map(_._1) ++ e.map(_._2)).distinct
      var hub = verts.map(_ -> 1000000L).toMap
      var auth = Map.empty[Long, Long]
      for (_ <- 1 to iters) {
        val araw = e.groupBy(_._2).map { case (v, es) =>
          v -> es.map(x => hub(x._1)).sum
        }
        val amax = araw.values.max
        auth = araw.map { case (v, x) => v -> (x * 1000000L) / amax }
        val hraw = e.groupBy(_._1).map { case (u, es) =>
          u -> es.map(x => auth.getOrElse(x._2, 0L)).sum
        }
        val hmax = hraw.values.max
        val h = hraw.map { case (u, x) => u -> (x * 1000000L) / hmax }
        hub = verts.map(v => v -> h.getOrElse(v, 0L)).toMap
      }
      verts.map(v => v -> (hub(v), auth.getOrElse(v, 0L))).toMap
    }
    for (seed <- Seq(7, 19, 31)) {
      val rnd = new scala.util.Random(seed)
      val n = 15 + rnd.nextInt(15)
      val edges = (1 to 3 * n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val got = GraphOps.hitsIntSync(edges.toDF("src", "dst"), iters = 4)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == ref(edges, 4), s"seed=$seed n=$n")
      // normalization invariant: each iteration's argmax lands on 1e6
      assert(got.values.map(_._1).max == 1000000L)
      assert(got.values.map(_._2).max == 1000000L)
    }
  }

  test("pageRankIntSync: dangling vertices keep teleport mass only") {
    // 1→2 directed: 2 has no out-edges, so after iter 1 vertex 1 holds
    // only the teleport floor and 2 holds teleport + 1's full damped mass
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val p1 = GraphOps.pageRank(edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p1 == Map(1L -> 150000L, 2L -> 1000000L))
  }

  test("pageRank, labelPropagation and connectedComponents rows do not move with shuffle partitions or AQE") {
    // one shared session: restore what the loop sets
    def withConf[T](kv: (String, String)*)(f: => T): T = {
      val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try f
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    def rows(df: DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val settings = for {
      parts <- Seq(1, 7, 64); aqe <- Seq(true, false)
    } yield (parts, aqe)
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      // a 20-node path (several star rounds) plus random edges, some
      // components and many count ties for LPA
      val es = (0L until 19L).map(i => (i, i + 1)) ++
        (1 to 50).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
          .filter(e => e._1 != e._2)
      val edges = es.toDF("src", "dst")
      val got = settings.map { case (parts, aqe) =>
        withConf("spark.sql.shuffle.partitions" -> parts.toString,
            "spark.sql.adaptive.enabled" -> aqe.toString) {
          (parts, aqe) -> Seq(
            rows(GraphOps.pageRank(edges, iters = 5)),
            rows(GraphOps.labelPropagation(edges, iters = 5)),
            rows(GraphOps.connectedComponents(edges)),
            rows(GraphOps.connectedComponents(edges, driverCutoff = 0)))
        }
      }
      val (base, want) = got.head
      assert(want(2) == componentsRef(es).toSeq.sorted, s"seed=$seed")
      for ((setting, rs) <- got.tail; (name, i) <- Seq(
          "pageRank", "labelPropagation", "CC driver", "CC star").zipWithIndex)
        assert(rs(i) == want(i), s"seed=$seed $name at $setting differs from $base")
    }
    // the traversals over one seeded graph's adjacency, read as given
    def anyRows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString(",")).toSeq.sorted
    val rnd = new scala.util.Random(19)
    val es = (0L until 19L).map(i => (i, i + 1)) ++
      (1 to 50).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    val adj = undirected(es.toDF("src", "dst"))
    val roots = Seq(0L, 7L, 40L).toDF("root")
    val got = settings.map { case (parts, aqe) =>
      withConf("spark.sql.shuffle.partitions" -> parts.toString,
          "spark.sql.adaptive.enabled" -> aqe.toString) {
        (parts, aqe) -> Seq(
          GraphOps.shortestPath(adj, 0L, 19L).map(_.toString),
          anyRows(GraphOps.kCorePeel(adj, k = 2, rounds = 3)),
          anyRows(GraphOps.linkPrediction(adj, maxNeighbors = 4)),
          anyRows(Betweenness.forwardCounts(adj, roots, maxDepth = 6)))
      }
    }
    val (base, want) = got.head
    assert(want.forall(_.nonEmpty), s"empty result at $base")
    for ((setting, rs) <- got.tail; (name, i) <- Seq(
        "shortestPath", "kCorePeel", "linkPrediction", "forwardCounts").zipWithIndex)
      assert(rs(i) == want(i), s"$name at $setting differs from $base")
  }

  test("labelPropagation returns a label per vertex") {
    val lp = GraphOps.labelPropagation(diamond, iters = 3).collect()
    assert(lp.length == 5)
  }

  test("degrees") {
    val d = GraphOps.degrees(diamond).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(d(1L) == ((2L, 0L)))
    assert(d(4L) == ((1L, 2L)))
    assert(d(5L) == ((0L, 1L)))
  }

  test("vertex ids are stable and distinct; the collision check fails fast") {
    val keys = Seq("uri:a", "uri:b", "uri:c", "uri:a").toDF("uri")
      .select(Vertices.id(col("uri")).as("id"), col("uri"))
    Vertices.assertNoCollisions(keys) // a repeated key is no collision
    val ids = keys.collect().map(r => r.getString(1) -> r.getLong(0))
    assert(ids.toMap.size == 3 && ids.map(_._2).distinct.length == 3)
    assert(ids.filter(_._1 == "uri:a").map(_._2).distinct.length == 1)
    val clash = Seq((7L, "uri:a"), (7L, "uri:b")).toDF("id", "uri")
    intercept[IllegalStateException](Vertices.assertNoCollisions(clash))
  }

  test("linkPrediction: square closed forms; hub cap bounds pairs, not weights") {
    import org.apache.spark.sql.functions.col
    // square 1-2-3-4-1: the two diagonals each have 2 common neighbors
    // of degree 2 (log2 2 = 1 -> aa term exactly 1e6 each)
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val got = graft.operators.GraphOps.linkPrediction(undirected(square))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(
      (1L, 3L) -> ((2L, 2000000L)),
      (2L, 4L) -> ((2L, 2000000L))))
    // star 0-{1..5} with cap 3: only the 3 smallest leaves pair up
    // (3 pairs), but each Adamic-Adar term uses the FULL degree 5
    val star = (1L to 5L).map(l => (0L, l)).toDF("src", "dst")
    val capped = graft.operators.GraphOps.linkPrediction(undirected(star), maxNeighbors = 3)
      .orderBy(col("node_a"), col("node_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val term = math.round(1000000.0 / (math.log(5.0) / math.log(2.0)))
    assert(capped.toSeq == Seq(
      (1L, 2L, 1L, term), (1L, 3L, 1L, term), (2L, 3L, 1L, term)))
  }

  test("linkPrediction: a multigraph's undirectedAdjacency equals its simple graph") {
    import org.apache.spark.sql.functions.col
    // pseudo-random multigraph with dup/reversed edges and self-loops —
    // exactly what undirectedAdjacency must collapse
    val pairs = (1 to 400).map { i =>
      val a = (i * 2654435761L) % 37
      val b = (i * 40503L + 7) % 37
      (a, b)
    }
    // the same graph collapsed on the driver: both directions of every
    // distinct non-loop edge
    val simple = pairs.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct
    def predicted(adj: DataFrame) = graft.operators.GraphOps
      .linkPrediction(adj, maxNeighbors = 5)
      .orderBy(col("node_a"), col("node_b")).collect().toSeq
    val viaMultigraph = predicted(undirected(pairs.toDF("src", "dst")))
    val viaSimple = predicted((simple ++ simple.map(_.swap)).toDF("src", "dst"))
    assert(viaMultigraph.nonEmpty && viaMultigraph == viaSimple)
  }

  test("linkPrediction: two-level salted cap equals the naive smallest-k cap") {
    import org.apache.spark.sql.functions.col
    // a 200-neighbor hub plus random chaff: the hub's neighbor list
    // spreads over many salt sub-buckets, so the per-bucket survivors >>
    // the final k and the level-2 ranking must pick exactly the k
    // globally-smallest ids
    val hub = (1L to 200L).map(l => (0L, 1000L + l))
    val chaff = (1 to 300).map { i =>
      ((i * 48271L) % 23 + 2000L, (i * 16807L + 3) % 29 + 2000L)
    }
    val edges = (hub ++ chaff).toDF("src", "dst")
    val k = 4
    val got = graft.operators.GraphOps.linkPrediction(undirected(edges), maxNeighbors = k)
      .orderBy(col("node_a"), col("node_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // naive reference: smallest-k neighbor lists per center via plain
    // Scala, then wedge pairs + full-degree Adamic-Adar terms
    val simple = edges.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val nbrs = (simple ++ simple.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val want = nbrs.toSeq.flatMap { case (u, vs) =>
      val deg = vs.size
      val aaTerm = math.round(1000000.0 / (math.log(deg.toDouble) / math.log(2.0)))
      vs.take(k).combinations(2).map(p => ((p(0), p(1)), aaTerm))
    }.groupBy(_._1).view
      .mapValues(ts => (ts.size.toLong, ts.map(_._2).sum)).toSeq
      .map { case ((a, b), (cn, aa)) => (a, b, cn, aa) }
      .sortBy(t => (t._1, t._2))
    assert(got == want)
  }
}
