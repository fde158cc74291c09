package graft.cli

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{GeneratedInputs, SparkEvents, SparkTestSession, TestWarehouse}
import graft.analytics.EscoAnalytics
import graft.sources.EscoWarehouse

/** CLI smoke: every analyze subcommand (including the round-2 additions
  * and the anchored variants) runs end-to-end against a saved mini
  * warehouse without throwing. Output goes to stdout; the library-level
  * values are pinned in CatalogGapsSpec/EscoWarehouseSpec — this guards
  * the wiring. */
class EscoCliSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val whDir: String = {
    val dir = Files.createTempDirectory("graft-cli-wh").toString
    EscoWarehouse.save(TestWarehouse.build(spark), dir)
    dir
  }

  private val analyses = Seq(
    "node-counts", "rel-counts", "top-essential-skills",
    "top-optional-skills", "top-occupations", "isco-most-occupations",
    "skill-cooccurrence", "skill-depths",
    "top-skills-by-relationships", "top-occupations-optional",
    "transferable-skills", "skill-groups-most-skills",
    "combined-connections", "hits-exact",
    "triangles", "concept-core", "cluster-skills",
    "label-bpe", "label-cardinality", "suggest-relations",
    "description-novelty", "sample-skills", "kind-vocab-similarity",
    // the graph-analytics verbs, on the mini warehouse: wiring smoke for
    // the iterative paths too
    "isco-depths", "communities", "betweenness", "pagerank")

  analyses.foreach { name =>
    test(s"analyze $name runs") {
      EscoCli.run(spark, List("analyze", whDir, name))
    }
  }

  test("multi-verb analyze shares ONE graph build and ONE adjacency") {
    val wh = EscoWarehouse.load(spark, whDir)
    // every graph verb, without a session, on one loaded warehouse: the
    // way the multi-verb CLI case drives them
    val graphVerbs = Seq("skill-depths", "isco-depths", "communities",
      "communities-louvain", "pagerank", "hits-exact",
      "triangles", "concept-core", "suggest-relations", "betweenness")
    val rows = graphVerbs.map(n => n -> EscoCli.analyzeOne(wh, n).collect().toSet).toMap
    assert(EscoAnalytics.shortestPathBetweenSkills(wh, "manage data", "communicate") == 2)
    // the build-once pin: the collision-checked vertex frame, the id
    // edges, the symmetric adjacency and the related-skill adjacency each
    // materialized exactly once across all the verbs
    val session = wh.session
    assert(session.vertexBuilds == 1, "collision check rerun across verbs")
    assert(session.graphBuilds == 1, "edges rebuilt across verbs")
    assert(session.adjacencyBuilds == 1, "adjacency rebuilt across verbs")
    assert(session.relatedBuilds == 1, "related-skill adjacency rebuilt across verbs")
    // an explicit session answers what the warehouse's own does (rows
    // compared as sets: collect order of ties is plan dependent)
    val own = Some(new EscoAnalytics.GraphSession(wh))
    assert(EscoAnalytics.topTriangles(wh, session = own).collect().toSet == rows("triangles"))
    assert(EscoAnalytics.topBetweenness(wh, session = own).collect().toSet ==
      rows("betweenness"))
  }

  test("multi-verb analyze invocation runs end-to-end") {
    EscoCli.run(spark, List("analyze", whDir,
      "triangles", "suggest-relations", "pagerank", "hits-exact"))
  }

  test("every smoke-tested analysis name is in the multi-verb catalog guard") {
    analyses.foreach(n => assert(EscoCli.catalogNames.contains(n), n))
  }

  test("multi-verb analyze with a typo names the unrecognized verbs") {
    // one mistyped verb among valid ones used to fall through to the
    // generic usage blob; the message must name exactly the bad ones
    val msg = EscoCli.unknownVerbMessage(
      Seq("triangles", "trangles", "pagerank"))
    assert(msg.contains("unknown query trangles"))
    assert(!msg.contains("triangles,") && !msg.contains("pagerank,"))
    val msg2 = EscoCli.unknownVerbMessage(Seq("triangles", "foo", "bar"))
    assert(msg2.contains("unknown queries foo, bar"))
  }

  test("analyze related-occupations (direct and --bridge) runs") {
    EscoCli.run(spark,
      List("analyze", whDir, "related-occupations", "data engineer"))
    EscoCli.run(spark,
      List("analyze", whDir, "related-occupations", "data engineer", "--bridge"))
  }

  test("analyze skill-profile runs") {
    EscoCli.run(spark, List("analyze", whDir, "skill-profile", "manage data"))
  }

  test("analyze shortest-path runs (connected and disconnected pairs)") {
    // s1 -[related]- s2 in the mini warehouse: direct hop
    EscoCli.run(spark,
      List("analyze", whDir, "shortest-path", "manage data", "spark internals"))
    // s4 has no edges: the no-path branch must print, not throw
    EscoCli.run(spark,
      List("analyze", whDir, "shortest-path", "manage data", "lonely"))
  }

  test("analyze viz-graph runs") {
    EscoCli.run(spark, List("analyze", whDir, "viz-graph", "data engineer"))
  }

  test("analyze skill-viz-graph runs") {
    EscoCli.run(spark, List("analyze", whDir, "skill-viz-graph", "manage data"))
  }

  test("search --json and --profile-search run against the saved warehouse") {
    EscoCli.run(spark, List("search", whDir, "data", "--type", "skill",
      "--threshold", "-1.0", "--limit", "3", "--json"))
    EscoCli.run(spark, List("search", whDir, "data", "--type", "skill",
      "--threshold", "-1.0", "--profile-search"))
  }

  test("search --related prints the rows of --profile-search") {
    def printed(tpe: String, flag: String): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(EscoCli.run(spark, List("search", whDir, "data",
        "--type", tpe, "--threshold", "-1.0", "--json", flag)))
      out.toString("UTF-8")
    }
    // every node scores above -1: all 5 skills, all 3 occupations
    for ((tpe, rows) <- Seq("skill" -> 5, "occupation" -> 3, "both" -> 8)) {
      val profile = printed(tpe, "--profile-search")
      assert(profile.linesIterator.count(_.startsWith("{\"uri\"")) == rows, profile)
      assert(printed(tpe, "--related") == profile, tpe)
    }
  }

  test("real-ESCO smoke: shortest-path and viz-graph over the reference CSVs") {
    val dir = Files.createTempDirectory("graft-cli-realwh").toString
    val wh = EscoWarehouse.build(spark, "/root/reference/ESCO")
    EscoWarehouse.save(wh, dir)
    // a (parent, child) pair from the skill pillar: path length must be 1
    val pair = wh.broaderSkill
      .join(wh.skills.select(org.apache.spark.sql.functions.col("conceptUri")
          .as("parentUri"),
        org.apache.spark.sql.functions.col("preferredLabel").as("pl")),
        Seq("parentUri"))
      .join(wh.skills.select(org.apache.spark.sql.functions.col("conceptUri")
          .as("childUri"),
        org.apache.spark.sql.functions.col("preferredLabel").as("cl")),
        Seq("childUri"))
      .select("pl", "cl").head()
    EscoCli.run(spark,
      List("analyze", dir, "shortest-path", pair.getString(0), pair.getString(1)))
    val occLabel = wh.occupations
      .orderBy("conceptUri")
      .select("preferredLabel").head().getString(0)
    EscoCli.run(spark, List("analyze", dir, "viz-graph", occLabel))
    EscoCli.run(spark, List("analyze", dir, "combined-connections"))
  }

  // -- ingest, over CSVs generated at test time

  private def printed(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(EscoCli.run(spark, args.toList))
    out.toString("UTF-8")
  }

  test("ingest --embed: tables, index and the printed counts match the generator") {
    val gen = GeneratedInputs
    val dir = Files.createTempDirectory("graft-cli-ingest").toString
    val out = printed("ingest", gen.escoDir, dir, "--embed")
    val shown = out.linesIterator.map(_.split("\\s+"))
      .collect { case Array(k, v) => k -> v.toLong }.toMap
    val edgeTables = Seq("broader_skill", "broader_isco", "broader_occupation",
      "part_of_isco_group", "essential_for", "optional_for", "related_skill",
      "part_of_skill_group")
    assert(shown == Map("skills" -> gen.counts("skills"),
      "occupations" -> gen.counts("occupations"),
      "iscoGroups" -> gen.counts("isco_groups"),
      "edges" -> edgeTables.map(gen.counts).sum), out)
    for (t <- edgeTables :+ "skills" :+ "skills_indexed" :+ "occupations_indexed")
      assert(spark.read.parquet(s"$dir/$t").count() == gen.counts(t), t)
  }

  test("ingest: no job runs after the save wave") {
    val dir = Files.createTempDirectory("graft-cli-ingest-jobs").toString
    val (_, ev) = SparkEvents.record(spark)(
      printed("ingest", GeneratedInputs.escoDir, dir))
    val jobs = ev.jobs
    val firstSave = jobs.indexWhere(_._2.startsWith("graft: save "))
    assert(firstSave >= 0, jobs)
    val after = jobs.drop(firstSave).filterNot(_._2.startsWith("graft: save "))
    assert(after.isEmpty, s"jobs after the save wave began: $after")
  }

  test("ingest --delete-all with a bad escoDir leaves the old warehouse intact") {
    val dir = Files.createTempDirectory("graft-cli-keep").toString
    EscoWarehouse.save(TestWarehouse.build(spark), dir)
    def files() = {
      val s = Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }
    val before = files()
    val missing = Files.createTempDirectory("graft-cli-empty").toString + "/nope"
    intercept[Exception](
      EscoCli.run(spark, List("ingest", missing, dir, "--delete-all")))
    assert(files() == before)
    assert(EscoWarehouse.load(spark, dir).skills.count() == 5L)
  }

  test("kind-vocab-similarity: estimates stay in [0, 1] and pairs are ordered") {
    val wh = EscoWarehouse.load(spark, whDir)
    val rows = graft.analytics.EscoAnalytics.kindVocabularySimilarity(wh)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getString(0) < r.getString(1))
      val est = r.getAs[Long]("est_jaccard_micro")
      assert(est >= 0L && est <= 1000000L)
      assert(r.getAs[Long]("inter_k") <= r.getAs[Long]("union_kept"))
    }
  }

  test("label-cardinality: sketch estimates track the exact distinct") {
    val wh = EscoWarehouse.load(spark, whDir)
    val r = graft.analytics.EscoAnalytics.labelCardinality(wh).head()
    val exact = r.getAs[Long]("exact_distinct")
    assert(exact > 0L)
    // below k = 64 distinct hashes the KMV sketch IS the exact count
    assert(r.getAs[Long]("kmv_est") == exact)
    // the HLL small-range (linear-counting) estimate lands within 2x on
    // a tiny vocabulary — a broken register/rank chain lands far away
    val hll = r.getAs[Long]("hll_est_micro").toDouble / 1e6
    assert(hll > 0.5 * exact && hll < 2.0 * exact,
      s"hll=$hll exact=$exact")
  }
}
