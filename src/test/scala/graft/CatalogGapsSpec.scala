package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.EscoAnalytics
import graft.profile.Profiles
import graft.sources.EscoWarehouse

/** Hand-computable warehouse (built from in-memory frames, no CSVs) for the
  * catalog queries the reference defines at `analysis_queries.md:25-32`
  * (degree ranking incl. zero-degree), `:64-70` (optional-skill ranking),
  * `:95-101` (skill-group sizes), `:115-121` (transferable skills),
  * `:155-170` (anchored related occupations), `:280-306` (skill profile),
  * `:348-389` (skill network) and `:479-495` (viz projection).
  *
  * Graph: skills s1 "manage data", s2 "spark internals", s3 "communicate",
  * s4 "lonely" (NO edges at all), group g1 "data skills";
  * occupations o1 "data engineer", o2 "data analyst", o3 "ml engineer";
  * ISCO i1 (1234, "Data professionals") ⊂ i2 (25, "ICT professionals").
  * essential: s1→{o1,o2,o3}, s3→o2, s2→o3; optional: s2→o1, s3→o1;
  * related: s1—s2; broader: g1→{s1,s2}; partOf: o1,o2→i1, o3→i2.
  */
class CatalogGapsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val wh: EscoWarehouse = TestWarehouse.build(spark)

  test("topSkillsByRelationships ranks by outgoing degree, keeps zero-degree") {
    val rows = EscoAnalytics.topSkillsByRelationships(wh, k = 10).collect()
    assert(rows.length == 5) // every skill row, s4 and g1 included
    val counts = rows.map(r =>
      r.getString(0) -> r.getAs[Long]("relationship_count")).toMap
    // s1: 3 essential + 1 related; s2: 1 essential + 1 optional;
    // s3: 1 essential + 1 optional; g1: 2 broader; s4: OPTIONAL MATCH miss
    assert(counts == Map("s1" -> 4L, "s2" -> 2L, "s3" -> 2L,
      "g1" -> 2L, "s4" -> 0L))
    assert(rows.head.getString(0) == "s1")
    assert(rows.last.getString(0) == "s4")
  }

  test("skillGroupsWithMostSkills counts BROADER_THAN children of groups") {
    val rows = EscoAnalytics.skillGroupsWithMostSkills(wh).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(1) == "data skills")
    assert(rows.head.getAs[Long]("skill_count") == 2L)
  }

  test("transferableSkills counts DISTINCT ISCO groups per essential skill") {
    val rows = EscoAnalytics.transferableSkills(wh).collect()
    val counts = rows.map(r =>
      r.getString(1) -> r.getAs[Long]("isco_group_count")).toMap
    // s1 reaches i1 (via o1,o2) and i2 (via o3): distinct = 2 not 3
    assert(counts == Map("manage data" -> 2L, "communicate" -> 1L,
      "spark internals" -> 1L))
    assert(rows.head.getString(1) == "manage data")
  }

  test("topOccupationsByOptionalSkills mirrors the essential ranking") {
    val rows = EscoAnalytics.topOccupationsByOptionalSkills(wh).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(1) == "data engineer")
    assert(rows.head.getAs[Long]("skill_count") == 2L)
  }

  test("relatedOccupationsDirect collects connecting skills per neighbor") {
    val rows = EscoAnalytics.relatedOccupationsDirect(wh, "data engineer")
      .collect()
    assert(rows.map(_.getAs[String]("related_occupation")).toSet ==
      Set("data analyst", "ml engineer"))
    rows.foreach { r =>
      assert(r.getAs[String]("source_occupation") == "data engineer")
      assert(r.getAs[scala.collection.Seq[String]]("connecting_skills") ==
        Seq("manage data"))
      assert(r.getAs[String]("connection_type") == "Direct")
    }
  }

  test("relatedOccupationsViaRelatedSkills bridges RELATED_SKILL undirected") {
    val rows = EscoAnalytics
      .relatedOccupationsViaRelatedSkills(wh, "data engineer").collect()
    // o1 ←ess– s1 –rel– s2 –ess→ o3 is the only bridge
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("related_occupation") == "ml engineer")
    assert(r.getAs[scala.collection.Seq[String]]("source_skills") ==
      Seq("manage data"))
    assert(r.getAs[scala.collection.Seq[String]]("target_skills") ==
      Seq("spark internals"))
    assert(r.getAs[String]("connection_type") == "Indirect")
  }

  test("skillCompleteProfile: typed occupation structs + Q3-empty skill_groups") {
    val anchors = wh.skills.filter(col("conceptUri") === "s1")
      .select(col("conceptUri").as("uri"))
    val rows = Profiles.skillCompleteProfile(wh, anchors).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("skill") == "manage data")
    assert(r.getAs[String]("alternative_labels") == "handle data")
    val ess = r.getAs[scala.collection.Seq[Row]]("essential_for_occupations")
      .map(x => (x.getString(0), x.getString(1)))
    assert(ess == Seq(("data analyst", "Essential"),
      ("data engineer", "Essential"), ("ml engineer", "Essential")))
    assert(r.getAs[scala.collection.Seq[Row]]("optional_for_occupations").isEmpty)
    assert(r.getAs[scala.collection.Seq[String]]("broader_skills") ==
      Seq("data skills"))
    assert(r.getAs[scala.collection.Seq[String]]("narrower_skills").isEmpty)
    assert(r.getAs[scala.collection.Seq[String]]("related_skills") ==
      Seq("spark internals"))
    // Q3: PART_OF_SKILLGROUP never populated -> [] for every anchor
    assert(r.getAs[scala.collection.Seq[String]]("skill_groups").isEmpty)
  }

  test("skillTwoHopNetwork: seven typed collections in one plan") {
    val anchors = wh.skills.filter(col("conceptUri") === "s1")
      .select(col("conceptUri").as("uri"))
    val rows = Profiles.skillTwoHopNetwork(wh, anchors).collect()
    assert(rows.length == 1)
    val r = rows.head
    def pairs(c: String) = r.getAs[scala.collection.Seq[Row]](c)
      .map(x => (x.getString(0), x.getString(1)))
    assert(pairs("direct_essential_occupations") ==
      Seq(("data analyst", "Direct Essential"),
        ("data engineer", "Direct Essential"),
        ("ml engineer", "Direct Essential")))
    assert(pairs("direct_optional_occupations").isEmpty)
    assert(pairs("isco_groups_via_essential") ==
      Seq(("Data professionals", "Via Essential"),
        ("ICT professionals", "Via Essential")))
    assert(pairs("isco_groups_via_optional").isEmpty)
    assert(pairs("related_skills") == Seq(("spark internals", "Related")))
    // s1 -rel- s2: s2 essential for o3, optional for o1
    assert(pairs("occupations_via_related_essential") ==
      Seq(("ml engineer", "Via Related Skills Essential")))
    assert(pairs("occupations_via_related_optional") ==
      Seq(("data engineer", "Via Related Skills Optional")))
  }

  test("occupationVizGraph: property-map structs with type/relation tags") {
    val anchors = wh.occupations.filter(col("conceptUri") === "o1")
      .select(col("conceptUri").as("uri"))
    val rows = Profiles.occupationVizGraph(wh, anchors).collect()
    assert(rows.length == 1)
    val r = rows.head
    val occ = r.getAs[Row]("occupation")
    assert(occ.getString(0) == "data engineer")
    assert(occ.getString(1) == "Builds pipelines.")
    assert(occ.getString(2) == "Occupation")
    val ess = r.getAs[scala.collection.Seq[Row]]("essential_skills")
      .map(x => (x.getString(0), x.getString(1), x.getString(2)))
    assert(ess == Seq(("manage data", "Skill", "Essential")))
    val opt = r.getAs[scala.collection.Seq[Row]]("optional_skills")
      .map(x => (x.getString(0), x.getString(2)))
    assert(opt == Seq(("communicate", "Optional"),
      ("spark internals", "Optional")))
    val isco = r.getAs[scala.collection.Seq[Row]]("isco_groups")
      .map(x => (x.getString(0), x.getString(1), x.getString(2)))
    assert(isco == Seq(("Data professionals", "1234", "ISCOGroup")))
    // Q2: occupation BROADER_THAN edges never created -> always []
    assert(r.getAs[scala.collection.Seq[Row]]("broader_occupations").isEmpty)
    assert(r.getAs[scala.collection.Seq[Row]]("narrower_occupations").isEmpty)
  }

  test("skillVizGraph: the symmetric skill-side projection (analysis_queries 407-417)") {
    val anchors = wh.skills.filter(col("conceptUri") === "s1")
      .select(col("conceptUri").as("uri"))
    val rows = Profiles.skillVizGraph(wh, anchors).collect()
    assert(rows.length == 1)
    val r = rows.head
    val sk = r.getAs[Row]("skill")
    assert(sk.getString(0) == "manage data")
    assert(sk.getString(1) == "Manages data.")
    assert(sk.getString(2) == "Skill")
    val ess = r.getAs[scala.collection.Seq[Row]]("essential_for_occupations")
      .map(x => (x.getString(0), x.getString(1), x.getString(2)))
    assert(ess == Seq(("data analyst", "Occupation", "Essential"),
      ("data engineer", "Occupation", "Essential"),
      ("ml engineer", "Occupation", "Essential")))
    assert(r.getAs[scala.collection.Seq[Row]]("optional_for_occupations").isEmpty)
    val broader = r.getAs[scala.collection.Seq[Row]]("broader_skills")
      .map(x => (x.getString(0), x.getString(2)))
    assert(broader == Seq(("data skills", "Broader")))
    assert(r.getAs[scala.collection.Seq[Row]]("narrower_skills").isEmpty)
    val related = r.getAs[scala.collection.Seq[Row]]("related_skills")
      .map(x => (x.getString(0), x.getString(2)))
    assert(related == Seq(("spark internals", "Related")))
    // Q3: PART_OF_SKILLGROUP never populated -> always []
    assert(r.getAs[scala.collection.Seq[Row]]("skill_groups").isEmpty)
  }

  test("shortest path over the whole graph: labels in order, -1 / Nil when unreachable") {
    // s1 -[related]- s2 directly; s1 and s3 share o1 and o2
    assert(EscoAnalytics.shortestPathNodes(wh, "manage data", "spark internals") ==
      Seq("manage data", "spark internals"))
    assert(EscoAnalytics.shortestPathBetweenSkills(wh, "manage data", "spark internals") == 1)
    val viaJob = EscoAnalytics.shortestPathNodes(wh, "manage data", "communicate")
    assert(viaJob.size == 3 && viaJob.head == "manage data" && viaJob.last == "communicate")
    assert(Set("data engineer", "data analyst").contains(viaJob(1)))
    assert(EscoAnalytics.shortestPathBetweenSkills(wh, "manage data", "communicate") == 2)
    assert(EscoAnalytics.shortestPathBetweenSkills(wh, "manage data", "manage data") == 0)
    // s4 has no edges
    assert(EscoAnalytics.shortestPathNodes(wh, "manage data", "lonely").isEmpty)
    assert(EscoAnalytics.shortestPathBetweenSkills(wh, "manage data", "lonely") == -1)
  }

  test("shortest path: a label several skills share resolves to the smallest conceptUri") {
    // s9 repeats s1's label and s0 repeats s2's; neither has an edge, and
    // the skills span several partitions, so a pick in partition order
    // could land on either twin
    val twins = TestWarehouse.df(spark,
      Seq("conceptUri", "preferredLabel", "altLabels", "description"),
      ("s9", "manage data", null, "Twin."),
      ("s0", "spark internals", null, "Twin."))
      .withColumn("isSkillGroup", lit(false))
    val dup = wh.copy(skills = twins.unionByName(wh.skills).repartition(3))
    // "manage data" is s1, not s9
    assert(EscoAnalytics.shortestPathBetweenSkills(dup, "manage data", "communicate") == 2)
    // "spark internals" is s0, not s2: no edge reaches it
    assert(EscoAnalytics.shortestPathNodes(dup, "manage data", "spark internals").isEmpty)
    assert(EscoAnalytics.shortestPathNodes(dup, "spark internals", "manage data").isEmpty)
    val e = intercept[IllegalArgumentException](
      EscoAnalytics.shortestPathNodes(dup, "manage data", "no such skill"))
    assert(e.getMessage.contains("'no such skill'"))
  }
}
