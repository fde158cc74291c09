package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.profile.Profiles
import graft.sources.EscoWarehouse
import graft.vector.{HashingEmbedder, SemanticSearch}

/** The read path's resident index, hermetically: the mini warehouse is
  * saved and loaded as a user's would be, and every answer of a
  * long-lived engine and warehouse (the engine's embedded corpus and the
  * warehouse's all-nodes profile rows, built on first use, then probed)
  * is pinned to the per-query formulation. */
class ResidentIndexSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark

  private lazy val whDir: String = {
    val dir = Files.createTempDirectory("graft-resident-wh").toString
    EscoWarehouse.save(TestWarehouse.build(spark), dir)
    dir
  }
  private lazy val wh: EscoWarehouse = EscoWarehouse.load(spark, whDir)

  private val embedder = new HashingEmbedder(64)
  private val queries = Seq("data", "manage data", "data engineer", "ml models")
  private val types = Seq("skill", "occupation", "both")

  /** Driver-side brute force: the same embedder and the cosine the
    * engine computes, strict `> threshold`, ties broken by uri. */
  private def bruteForce(query: String, nodeType: String, threshold: Double,
      limit: Int): Seq[(String, Double)] = {
    def corpus(df: DataFrame) =
      df.select(col("conceptUri"), concat_ws(". ", col("preferredLabel"),
        col("altLabels"), col("description"))).collect()
        .map(r => (r.getString(0), embedder.embedQuery(r.getString(1))))
    val pool = nodeType match {
      case "skill" => corpus(wh.skills)
      case "occupation" => corpus(wh.occupations)
      case _ => corpus(wh.skills) ++ corpus(wh.occupations)
    }
    val q = embedder.embedQuery(query)
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      var dot, na, nb = 0.0
      a.indices.foreach { i =>
        val (x, y) = (a(i).toDouble, b(i).toDouble)
        dot += x * y; na += x * x; nb += y * y
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    pool.map { case (u, v) => (u, cosine(v, q)) }.toSeq
      .filter(_._2 > threshold)
      .sortBy { case (u, s) => (-s, u) }
      .take(limit)
  }

  private def hits(df: DataFrame): Seq[(String, Double)] =
    df.collect().map(r => (r.getAs[String]("uri"), r.getAs[Double]("score"))).toSeq

  /** The per-query profile search the resident path replaces. */
  private def perQueryProfile(engine: SemanticSearch, query: String,
      nodeType: String, threshold: Double, limit: Int): DataFrame = {
    val h = engine.search(query, nodeType, threshold, limit)
    val anchors = h.select(col("uri"))
    val expanded =
      if (nodeType == "skill") Profiles.skillRelatedGraph(wh, anchors)
      else Profiles.occupationRelatedGraph(wh, anchors)
    h.join(expanded, Seq("uri"), "left_outer").orderBy(desc("score"), col("uri"))
  }

  private def fileScans(plan: SparkPlan): Int =
    collect(plan) { case s: FileSourceScanExec => s }.size

  test("search equals a brute force, on first and on repeated calls of one engine") {
    val engine = new SemanticSearch(wh, embedder)
    for (round <- 1 to 2; t <- types; q <- queries; (th, lim) <- Seq((-1.0, 10), (0.1, 3))) {
      val got = hits(engine.search(q, t, th, lim))
      val want = bruteForce(q, t, th, lim)
      assert(got.map(_._1) == want.map(_._1), s"round $round '$q' $t $th $lim")
      got.zip(want).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) <= 1e-12, s"round $round '$q' $t: $a vs $b")
      }
    }
  }

  test("profileSearch equals hits joined with the hits' related graph, [] never null") {
    val engine = new SemanticSearch(wh, embedder)
    for (t <- types; q <- queries) {
      val got = Profiles.profileSearch(wh, engine, q, t, -1.0, 10)
      val want = perQueryProfile(engine, q, t, -1.0, 10)
      assert(got.columns.toSeq == want.columns.toSeq)
      val rows = got.collect().toSeq
      assert(rows == want.collect().toSeq, s"'$q' $t")
      val profileCols = got.columns.drop(5)
      rows.foreach(r => profileCols.foreach(c => assert(!r.isNullAt(r.fieldIndex(c)), s"$c of $r")))
    }
    val skillRows = Profiles.profileSearch(wh, engine, "manage data", "skill", -1.0, 10)
      .collect().map(r => r.getAs[String]("uri") -> r).toMap
    assert(skillRows("s1").getAs[scala.collection.Seq[String]]("essential_for_occupations") ==
      Seq("data analyst", "data engineer", "ml engineer"))
    assert(skillRows("s4").getAs[scala.collection.Seq[String]]("related_skills").isEmpty)
    // a "both" search expands every hit with the occupation profile: the
    // skill hits have none and read [], as an unmatched OPTIONAL MATCH does
    val both = Profiles.profileSearch(wh, engine, "data", "both", -1.0, 10).collect()
    assert(both.exists(_.getAs[String]("type") == "Skill"))
    both.filter(_.getAs[String]("type") == "Skill").foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("essential_skills").isEmpty)
      assert(r.getAs[scala.collection.Seq[String]]("isco_groups").isEmpty)
    }
    assert(both.find(_.getAs[String]("uri") == "o1").get
      .getAs[scala.collection.Seq[String]]("isco_groups") == Seq("Data professionals"))
  }

  test("two engines over one warehouse give identical rows") {
    val (a, b) = (new SemanticSearch(wh, embedder), new SemanticSearch(wh, embedder))
    for (t <- types; q <- queries) {
      def rows(e: SemanticSearch): (Seq[Row], Seq[Row]) =
        (e.search(q, t, -1.0, 10).collect().toSeq,
          Profiles.profileSearch(wh, e, q, t, -1.0, 10).collect().toSeq)
      assert(rows(a) == rows(b), s"'$q' $t")
    }
  }

  /** Ids of the session's persisted RDDs (a resident frame is one). The
    * cleaner may drop those of collected engines at any time, so tests
    * count the ids that appear, never the total. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a warm query reads only the resident frames, never the warehouse files") {
    // a freshly loaded warehouse, whose profile frames no earlier test built
    val wh = EscoWarehouse.load(spark, whDir)
    val engine = new SemanticSearch(wh, embedder)
    val before = persisted
    types.foreach(t => Profiles.profileSearch(wh, engine, "data", t, 0.0, 5).collect())
    // the engine's two embedded corpora and the warehouse's two profile frames
    assert((persisted -- before).size == 4)
    for (t <- types) {
      val search = engine.search("manage data", t, 0.0, 5)
      val profile = Profiles.profileSearch(wh, engine, "manage data", t, 0.0, 5)
      Seq(search, profile).foreach { df =>
        df.collect()
        val plan = df.queryExecution.executedPlan
        assert(fileScans(plan) == 0, plan.toString)
      }
    }
    assert((persisted -- before).size == 4, "a warm query built a frame again")
    // the detector sees the lazy plan's file scans
    val lazyPlan = engine.skillsIndexed
    lazyPlan.collect()
    assert(fileScans(lazyPlan.queryExecution.executedPlan) > 0)
  }

  test("constructing an engine builds nothing; its first query of a type builds that type") {
    val before = persisted
    val engine = new SemanticSearch(wh, embedder)
    assert((persisted -- before).isEmpty)
    engine.search("data", "skill").collect()
    assert((persisted -- before).size == 1)
  }

  /** Replicate `df` k times, suffixing each URI column with the row's
    * replica index (EscoScaleSpec's construction). */
  private def xk(df: DataFrame, uriCols: Seq[String], k: Int): DataFrame = {
    val withK = df.withColumn("__k", explode(sequence(lit(0), lit(k - 1))))
    uriCols.foldLeft(withK) { (d, c) =>
      d.withColumn(c, concat(col(c), lit("#r"), col("__k")))
    }.drop("__k")
  }

  private def joinCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  test("profileSearch stays ONE plan over the mini warehouse: join count flat in limit and scale") {
    val wh10 = EscoWarehouse(
      skills = xk(wh.skills, Seq("conceptUri"), 10),
      occupations = xk(wh.occupations, Seq("conceptUri"), 10),
      iscoGroups = xk(wh.iscoGroups, Seq("conceptUri"), 10),
      broaderSkill = xk(wh.broaderSkill, Seq("parentUri", "childUri"), 10),
      broaderIsco = xk(wh.broaderIsco, Seq("parentUri", "childUri"), 10),
      broaderOccupation = xk(wh.broaderOccupation, Seq("parentUri", "childUri"), 10),
      partOfIscoGroup = xk(wh.partOfIscoGroup, Seq("occupationUri", "iscoUri"), 10),
      essentialFor = xk(wh.essentialFor, Seq("skillUri", "occupationUri"), 10),
      optionalFor = xk(wh.optionalFor, Seq("skillUri", "occupationUri"), 10),
      relatedSkill = xk(wh.relatedSkill, Seq("srcUri", "dstUri"), 10),
      partOfSkillGroup = xk(wh.partOfSkillGroup, Seq("skillUri", "groupUri"), 10))
    val search10 = new SemanticSearch(wh10, embedder)
    val searchBase = new SemanticSearch(wh, embedder)
    val q = "data engineer"
    for (t <- types) {
      val p3 = Profiles.profileSearch(wh10, search10, q, t, 0.1, 3)
      val p10 = Profiles.profileSearch(wh10, search10, q, t, 0.1, 10)
      val pBase = Profiles.profileSearch(wh, searchBase, q, t, 0.1, 10)
      val (j3, j10, jBase) = (joinCount(p3), joinCount(p10), joinCount(pBase))
      assert(j3 == j10, s"$t: plan shape varies with limit: $j3 vs $j10")
      assert(j10 == jBase, s"$t: plan shape varies with corpus scale: $j10 vs $jBase")
      val rows = p10.collect()
      assert(rows.nonEmpty && rows.length <= 10)
      val scores = rows.map(_.getAs[Double]("score"))
      assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }
}
