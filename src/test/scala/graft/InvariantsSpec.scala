package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The rows-only catalog entries (no DuckDB oracle) carry self-verifying
  * invariant columns — the exact value or an independent recompute riding
  * in the same row as the estimate. This spec asserts their bounds, so the
  * semantics of every `no_oracle` query are pinned here even though the
  * driver-level gate for them is cardinality-only.
  *
  * Candidate mining runs at sf0.01 (sf0.001 legitimately yields zero
  * pairs); everything else at sf0.001.
  */
class InvariantsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfTiny = "/root/testdata/sf0.001"
  private val sfSmall = "/root/testdata/sf0.01"

  private def q(name: String, dir: String): Array[Row] =
    SparkEntry.queries(name)(spark, dir).collect()

  test("dd01: MinHash estimate within signature sampling error of exact Jaccard") {
    val rows = q("dd01_minhash_candidates", sfSmall)
    assert(rows.nonEmpty)
    val errs = rows.map(r =>
      math.abs(r.getAs[Double]("est_jaccard") - r.getAs[Double]("exact_jaccard")))
    info(s"n=${rows.length} maxErr=${errs.max} meanErr=${errs.sum / errs.length}")
    // 64-hash signature: binomial std-err <= 0.5/sqrt(64) ~ 0.0625
    assert(errs.max <= 0.35, s"worst |est-exact| ${errs.max}")
    assert(errs.sum / errs.length <= 0.15, s"mean |est-exact| ${errs.sum / errs.length}")
  }

  test("dd02: low-hamming SimHash pairs have real token overlap") {
    val rows = q("dd02_simhash_pairs", sfSmall)
    assert(rows.nonEmpty)
    val jac = rows.map(_.getAs[Double]("exact_jaccard"))
    info(s"n=${rows.length} minJac=${jac.min} meanJac=${jac.sum / jac.length}")
    // candidates at hamming <= 32/64 must not be random pairs: random docs
    // in this corpus share almost no token set
    assert(jac.sum / jac.length >= 0.05, s"mean exact jaccard ${jac.sum / jac.length}")
  }

  // dd04 graduated from invariant-column checking to a full DuckDB oracle
  // (portable Rademacher hyperplanes + bit-exact cosine replay) in round 5
  // — its correctness gate is now the hash-match, like dd01/dd02/dd03.

  test("ann01: LSH top-k recall against the in-query exact ranks") {
    // exact_rank is 0 (not null) for a true LSH miss since the lane
    // graduated to a full oracle in round 5
    val rows = q("ann01_lsh_topk", sfTiny)
    assert(rows.length == 10)
    val hits = rows.count(_.getAs[Long]("exact_rank") > 0L)
    info(s"recall@10 = ${hits / 10.0}")
    assert(hits >= 3, s"LSH recall@10 collapsed: $hits/10")
  }

  test("ann02: IVF top-k recall against the in-query exact ranks") {
    // sf0.01: at sf0.001 the corpus (~200 vectors over 16 cells) makes
    // nProbe=4 recall genuinely tiny — not a code property worth pinning
    // exact_rank is 0 (not null) for a true IVF miss since the lane
    // graduated to a full oracle in round 5
    val rows = q("ann02_ivf_topk", sfSmall)
    assert(rows.length == 10)
    val hits = rows.count(_.getAs[Long]("exact_rank") > 0L)
    info(s"recall@10 = ${hits / 10.0}")
    assert(hits >= 4, s"IVF recall@10 collapsed: $hits/10")
  }

  test("ann03: dense ranks, monotone scores") {
    // cos_check dropped in round 5: the lane carries a full DuckDB oracle
    // now (portable hyperplanes), which pins scoring far harder
    val rows = q("ann03_knn_graph", sfTiny)
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("id")).foreach { case (id, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq ==
        (1L to rs.length.toLong), s"id $id ranks not dense")
      val scores = byRank.map(_.getAs[Double]("score"))
      assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-12),
        s"id $id scores not monotone")
    }
  }

  test("g04: community partition is consistent and beats random (modularity)") {
    import org.apache.spark.sql.functions._
    // sf0.01: the sf0.001 co-purchase graph is one dense blob (LPA
    // correctly returns a single community, modularity exactly 0).
    // The lane output (canonical min-member labels) is hash-gated by the
    // DuckDB oracle since round 7; this test keeps the SEMANTIC signal the
    // hash can't see — the labeling materially beats a random partition.
    val rows = q("g04_communities", sfSmall)
    assert(rows.length > 1, "LPA collapsed to one community")
    // rebuild the same membership and score it
    val l = spark.read.parquet(s"$sfSmall/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val edges = graft.operators.Joins.groupedPairs(l, "l_orderkey", "l_partkey")
      .groupBy(col("a").as("src"), col("b").as("dst"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select("src", "dst")
    val membership = graft.operators.GraphOps.labelPropagation(edges, iters = 5)
      .select(col("id"), col("label").as("community"))
    val m = graft.operators.Louvain.modularity(edges, membership)
    info(s"modularity = $m over ${rows.length} communities")
    assert(m > 0.005, s"labeling no better than random: modularity $m")
    // the lane's canonical rows ARE that membership: sizes sum to |V|
    assert(rows.map(_.getAs[Long]("csize")).sum == membership.count())
  }

  test("g05: half-sample estimates sum to the total and agree on top nodes") {
    val rows = q("g05_betweenness", sfTiny)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t, a, b) = (r.getAs[Double]("betweenness"),
        r.getAs[Double]("bc_a"), r.getAs[Double]("bc_b"))
      assert(math.abs(a + b - t) < 1e-9, s"halves don't sum: $a + $b != $t")
    }
    // independent halves must correlate: among the top-20 emitted, nodes
    // one half ranks high the other must not rank at zero systematically
    val nonzeroBoth = rows.count(r =>
      r.getAs[Double]("bc_a") > 0 && r.getAs[Double]("bc_b") > 0)
    info(s"top=${rows.length} nonzeroBoth=$nonzeroBoth")
    assert(nonzeroBoth >= rows.length / 2,
      s"halves decorrelated: only $nonzeroBoth/${rows.length} nonzero in both")
  }

  test("cu01: independent token recount matches; survivors satisfy the config") {
    val rows = q("cu01_curation", sfTiny)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tokens") == r.getAs[Long]("n_tokens_check"),
        s"doc ${r.getAs[Long]("doc_id")}: tokenizers disagree")
      assert(r.getAs[Boolean]("passes_config"),
        s"doc ${r.getAs[Long]("doc_id")} violates the curation config")
    }
  }

  test("sk01: sketch outputs respect their hard bounds") {
    val rows = q("sk01_approx_stats", sfTiny)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_events")
      val u = r.getAs[Long]("approx_users")
      // HLL rel-error 2%: even with error the estimate can't plausibly
      // exceed the row count by more than that
      assert(u <= (n * 1.05).toLong + 1, s"approx_users $u > n_events $n")
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p99") + 1e-12,
        "quantiles out of order")
    }
  }
}
