package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EscoCsv, EscoWarehouse}

/** Ingest-parity golden tests against the real ESCO CSVs at
  * /root/reference/ESCO (read-only). skills_en.csv and
  * occupationSkillRelations_en.csv are absent from the snapshot
  * (.MISSING_LARGE_BLOBS) — the first suite pins the exact behavior
  * WITHOUT them (S4 silent-drop must zero the skill-anchored edges);
  * the second uses synthesized mini-fixtures with the documented headers
  * to exercise those two loaders, multiline parsing included.
  */
class EscoWarehouseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val escoDir = "/root/reference/ESCO"

  private lazy val wh = EscoWarehouse.build(spark, escoDir)

  test("golden counts: nodes (measured from the snapshot)") {
    assert(wh.occupations.count() == 3039L)
    assert(wh.iscoGroups.count() == 619L)
    // only SkillGroups exist without skills_en.csv; all dual-labeled (Q1)
    assert(wh.skills.count() == 640L)
    assert(wh.skills.filter(col("isSkillGroup")).count() == 640L)
  }

  test("golden counts: edges + quirk semantics") {
    // group→group rows of the 20,822-row skill pillar survive endpoint join
    assert(wh.broaderSkill.count() == 636L)
    // Q2: only ISCOGroup→ISCOGroup rows of the occ pillar survive
    assert(wh.broaderIsco.count() == 609L)
    assert(wh.broaderOccupation.count() == 0L)
    // J2 property join: every occupation maps to an ISCO group
    assert(wh.partOfIscoGroup.count() == 3039L)
    // S4 silent drop: skill endpoints missing → all 5,818 rows dropped
    assert(wh.relatedSkill.count() == 0L)
    // Q3: declared, never populated
    assert(wh.partOfSkillGroup.count() == 0L)
  }

  test("multiline CSV parsing: physical lines != records") {
    // occupations_en.csv has ~34k physical lines but 3,039 records; a
    // parser without multiLine+escape explodes this count
    val occ = EscoCsv.read(spark, s"$escoDir/occupations_en.csv",
      EscoCsv.occupationsSchema)
    assert(occ.count() == 3039L)
    // altLabels really contain embedded newlines
    assert(occ.filter(col("altLabels").contains("\n")).count() > 1000L)
  }

  test("allNodes reports Q1 dual labels; allEdges tags types") {
    val labelCounts = wh.allNodes.groupBy(col("labels")).count()
      .collect().map(r => r.getSeq[String](0).mkString(":") -> r.getLong(1)).toMap
    assert(labelCounts("Skill:SkillGroup") == 640L)
    assert(labelCounts("Occupation") == 3039L)
    assert(labelCounts("ISCOGroup") == 619L)
    val edgeCounts = wh.allEdges.groupBy(col("relType")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(edgeCounts("BROADER_THAN") == 636L + 609L)
    assert(edgeCounts("PART_OF_ISCOGROUP") == 3039L)
  }

  test("ingest is idempotent: rebuilding yields identical tables") {
    val again = EscoWarehouse.build(spark, escoDir)
    assert(again.occupations.count() == wh.occupations.count())
    assert(again.broaderSkill.exceptAll(wh.broaderSkill).isEmpty)
    assert(wh.broaderSkill.exceptAll(again.broaderSkill).isEmpty)
    assert(again.partOfIscoGroup.exceptAll(wh.partOfIscoGroup).isEmpty)
  }

  test("save/load round-trip") {
    val dir = Files.createTempDirectory("graft-wh").toString
    EscoWarehouse.save(wh, dir)
    val loaded = EscoWarehouse.load(spark, dir)
    assert(loaded.occupations.count() == 3039L)
    assert(loaded.skills.count() == 640L)
  }

  // -- twins of the six snapshot tests over generated CSVs (GeneratedEsco:
  // perfbench/gen.py at scale 0.1, checked against its expected.json), so
  // the ingest is tested wherever the snapshot is absent

  private def gen = GeneratedInputs
  private lazy val genWh = EscoWarehouse.build(spark, gen.escoDir)

  private def rows(t: String): Long = gen.counts(t)

  test("generated twin: node counts, Q1 groups flagged") {
    assert(genWh.occupations.count() == rows("occupations"))
    assert(genWh.iscoGroups.count() == rows("isco_groups"))
    assert(genWh.skills.count() == rows("skills"))
    assert(genWh.skills.filter(col("isSkillGroup")).count() == gen.skillGroups)
  }

  test("generated twin: edge counts + Q2/Q3/S4 semantics") {
    val tables = Seq(
      "broader_skill" -> genWh.broaderSkill, "broader_isco" -> genWh.broaderIsco,
      "broader_occupation" -> genWh.broaderOccupation,
      "part_of_isco_group" -> genWh.partOfIscoGroup,
      "essential_for" -> genWh.essentialFor, "optional_for" -> genWh.optionalFor,
      "related_skill" -> genWh.relatedSkill,
      "part_of_skill_group" -> genWh.partOfSkillGroup)
    for ((t, df) <- tables) assert(df.count() == rows(t), t)
    assert(rows("broader_occupation") == 0L && rows("part_of_skill_group") == 0L)
  }

  test("generated twin: multiline CSV parsing, physical lines != records") {
    val file = s"${gen.escoDir}/occupations_en.csv"
    val occ = EscoCsv.read(spark, file, EscoCsv.occupationsSchema)
    assert(occ.count() == rows("occupations"))
    assert(Files.readAllLines(Paths.get(file)).size > rows("occupations") + 1)
    assert(occ.filter(col("altLabels").contains("\n")).count() > 0L)
  }

  test("generated twin: allNodes dual labels; allEdges tags types") {
    val labelCounts = genWh.allNodes.groupBy(col("labels")).count()
      .collect().map(r => r.getSeq[String](0).mkString(":") -> r.getLong(1)).toMap
    assert(labelCounts("Skill:SkillGroup") == gen.skillGroups)
    assert(labelCounts("Skill") == rows("skills") - gen.skillGroups)
    assert(labelCounts("Occupation") == rows("occupations"))
    assert(labelCounts("ISCOGroup") == rows("isco_groups"))
    val edgeCounts = genWh.allEdges.groupBy(col("relType")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(edgeCounts("BROADER_THAN") == rows("broader_skill") + rows("broader_isco"))
    assert(edgeCounts("PART_OF_ISCOGROUP") == rows("part_of_isco_group"))
    assert(edgeCounts("ESSENTIAL_FOR") == rows("essential_for"))
    assert(edgeCounts("OPTIONAL_FOR") == rows("optional_for"))
    assert(edgeCounts("RELATED_SKILL") == rows("related_skill"))
  }

  test("generated twin: ingest is idempotent, all 11 tables identical") {
    val again = EscoWarehouse.build(spark, gen.escoDir)
    for (((a, b), i) <- again.productIterator.zip(genWh.productIterator)
        .zipWithIndex) {
      val (x, y) = (a.asInstanceOf[DataFrame], b.asInstanceOf[DataFrame])
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, s"table $i")
    }
  }

  test("generated twin: save/load round-trip, save reports rows written") {
    val dir = Files.createTempDirectory("graft-gen-wh").toString
    val written = EscoWarehouse.save(genWh, dir)
    val loaded = EscoWarehouse.load(spark, dir)
    for (t <- Seq("skills", "occupations", "isco_groups", "broader_skill",
        "essential_for", "related_skill")) {
      assert(written(t) == rows(t), t)
      assert(spark.read.parquet(s"$dir/$t").count() == rows(t), t)
    }
    assert(written.size == 11)
    assert(loaded.occupations.count() == rows("occupations"))
  }

  test("generated: without skills_en.csv only skill groups are skills (S4)") {
    val d = Files.createTempDirectory("graft-gen-noskills")
    Files.list(Paths.get(gen.escoDir)).forEach(f =>
      if (f.getFileName.toString != "skills_en.csv")
        Files.copy(f, d.resolve(f.getFileName)))
    val w = EscoWarehouse.build(spark, d.toString)
    assert(w.skills.count() == gen.skillGroups)
    assert(w.skills.filter(!col("isSkillGroup")).isEmpty)
    // every skill-anchored edge loses an endpoint; group -> group stays
    assert(w.essentialFor.isEmpty && w.optionalFor.isEmpty && w.relatedSkill.isEmpty)
    val groupPairs = EscoCsv.read(spark, s"$d/broaderRelationsSkillPillar_en.csv",
        EscoCsv.broaderRelationsSchema)
      .filter(col("conceptType") === "SkillGroup" && col("broaderType") === "SkillGroup")
      .select("conceptUri", "broaderUri").distinct().count()
    assert(groupPairs > 0L && w.broaderSkill.count() == groupPairs)
    assert(w.occupations.count() == rows("occupations"))
  }

  test("parse once: no built table's optimized plan reads a CSV") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
    for ((df, i) <- genWh.productIterator.map(_.asInstanceOf[DataFrame])
        .zipWithIndex) {
      val csvLeaves = df.queryExecution.optimizedPlan.collectLeaves().collect {
        case l: LogicalRelation => l.relation
      }.collect { case h: HadoopFsRelation if h.fileFormat.isInstanceOf[CSVFileFormat] => h }
      assert(csvLeaves.isEmpty, s"table $i reads ${csvLeaves.map(_.location)}")
    }
  }
}

/** Mini-fixture suite for the two loaders whose files are absent. */
class EscoFixtureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val dir = {
    val d = Files.createTempDirectory("esco-fix")
    def write(name: String, content: String): Unit =
      Files.writeString(d.resolve(name), content)
    // multiline quoted altLabels + "" escape, per the real CSV dialect
    write("skills_en.csv",
      """conceptType,conceptUri,skillType,reuseLevel,preferredLabel,altLabels,hiddenLabels,status,modifiedDate,scopeNote,definition,inScheme,description
        |KnowledgeSkillCompetence,uri:skill/1,skill/competence,cross-sector,manage data,"handle data
        |steward ""big"" data",,released,,,,scheme:x,Manages data pipelines.
        |KnowledgeSkillCompetence,uri:skill/2,knowledge,sector-specific,spark internals,,,released,,,,scheme:x,Knows Catalyst.
        |KnowledgeSkillCompetence,uri:skill/3,skill/competence,transversal,communicate,,,released,,,,scheme:x,Talks to humans.
        |""".stripMargin)
    write("skillGroups_en.csv",
      """conceptType,conceptUri,preferredLabel,altLabels,hiddenLabels,status,modifiedDate,scopeNote,inScheme,description,code
        |SkillGroup,uri:group/1,data skills,,,released,,,scheme:x,Data group,G1
        |""".stripMargin)
    write("occupations_en.csv",
      """conceptType,conceptUri,iscoGroup,preferredLabel,altLabels,hiddenLabels,status,modifiedDate,regulatedProfessionNote,scopeNote,definition,inScheme,description,code
        |Occupation,uri:occ/1,1234,data engineer,,,released,,,,,scheme:x,Builds pipelines.,1234.1
        |Occupation,uri:occ/2,1234,data analyst,,,released,,,,,scheme:x,Analyses data.,1234.2
        |""".stripMargin)
    write("ISCOGroups_en.csv",
      """conceptType,conceptUri,code,preferredLabel,status,altLabels,inScheme,description
        |ISCOGroup,uri:isco/1234,1234,Data professionals,released,,scheme:x,ISCO group
        |ISCOGroup,uri:isco/12,12,Managers-ish,released,,scheme:x,Parent group
        |""".stripMargin)
    write("broaderRelationsSkillPillar_en.csv",
      """conceptType,conceptUri,broaderType,broaderUri
        |KnowledgeSkillCompetence,uri:skill/1,SkillGroup,uri:group/1
        |KnowledgeSkillCompetence,uri:skill/2,SkillGroup,uri:group/1
        |KnowledgeSkillCompetence,uri:skill/404,SkillGroup,uri:group/1
        |""".stripMargin)
    write("broaderRelationsOccPillar_en.csv",
      """conceptType,conceptUri,broaderType,broaderUri
        |ISCOGroup,uri:isco/1234,ISCOGroup,uri:isco/12
        |Occupation,uri:occ/1,ISCOGroup,uri:isco/1234
        |""".stripMargin)
    write("occupationSkillRelations_en.csv",
      """occupationUri,relationType,skillType,skillUri
        |uri:occ/1,essential,skill/competence,uri:skill/1
        |uri:occ/1,optional,knowledge,uri:skill/2
        |uri:occ/2,essential,skill/competence,uri:skill/1
        |uri:occ/2,essential,skill/competence,uri:skill/3
        |uri:occ/2,essential,skill/competence,uri:skill/404
        |""".stripMargin)
    write("skillSkillRelations_en.csv",
      """originalSkillUri,originalSkillType,relationType,relatedSkillType,relatedSkillUri
        |uri:skill/1,skill/competence,optional,knowledge,uri:skill/2
        |uri:skill/1,skill/competence,essential,skill/competence,uri:skill/404
        |""".stripMargin)
    d.toString
  }

  private lazy val wh = EscoWarehouse.build(spark, dir)

  test("a skill group sharing a skill's URI fails the build") {
    val d = Files.createTempDirectory("esco-fix-collide")
    Files.list(Paths.get(dir)).forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    Files.writeString(d.resolve("skillGroups_en.csv"),
      """conceptType,conceptUri,preferredLabel,altLabels,hiddenLabels,status,modifiedDate,scopeNote,inScheme,description,code
        |SkillGroup,uri:skill/1,data skills,,,released,,,scheme:x,Data group,G1
        |""".stripMargin)
    val e = intercept[IllegalStateException](EscoWarehouse.build(spark, d.toString))
    assert(e.getMessage.contains("skills.conceptUri"))
  }

  test("skills load + Q1 union: 3 skills + 1 group, flag set") {
    assert(wh.skills.count() == 4L)
    assert(wh.skills.filter(col("isSkillGroup")).count() == 1L)
  }

  test("multiline + escaped quotes parse like pandas") {
    val alt = wh.skills.filter(col("conceptUri") === "uri:skill/1")
      .select(col("altLabels")).head().getString(0)
    assert(alt == "handle data\nsteward \"big\" data")
  }

  test("occupation-skill loader: relationType split + S4 silent drop") {
    // uri:skill/404 has no node → its essential row silently dropped
    assert(wh.essentialFor.count() == 3L)
    assert(wh.optionalFor.count() == 1L)
  }

  test("skill-skill loader keeps relType property, drops missing endpoints") {
    val rows = wh.relatedSkill.collect()
    assert(rows.length == 1)
    assert(rows.head.getString(2) == "optional")
  }

  test("skill pillar hierarchy joins both endpoints as :Skill (Q1)") {
    assert(wh.broaderSkill.count() == 2L)
  }

  test("combinedConnections (A7): direct lists, anti-self 2-hop") {
    val rows = graft.analytics.EscoAnalytics.combinedConnections(wh)
      .collect()
      .map(r => r.getString(1) -> ((r.getSeq[String](2), r.getSeq[String](3))))
      .toMap
    assert(rows("manage data")._1 == Seq("spark internals"))
    assert(rows("manage data")._2.isEmpty) // 1→2→1 removed by anti-self
    assert(rows("spark internals")._1 == Seq("manage data"))
  }

  test("degree analytics over the fixture graph (top-k catalog queries)") {
    import graft.analytics.EscoAnalytics
    val top = EscoAnalytics.topEssentialSkills(wh).collect()
    // skill/1 essential for both occupations; skill/3 for one
    assert(top.head.getString(1) == "manage data")
    assert(top.head.getAs[Long]("occupation_count") == 2L)
    val occs = EscoAnalytics.topOccupationsByEssentialSkills(wh).collect()
    assert(occs.head.getString(1) == "data analyst") // 2 essential skills
    assert(occs.head.getAs[Long]("skill_count") == 2L)
    val opt = EscoAnalytics.topOptionalSkills(wh).collect()
    assert(opt.length == 1 && opt.head.getString(1) == "spark internals")
  }

  test("skillCooccurrence (J4) counts shared occupations per skill pair") {
    val pairs = graft.analytics.EscoAnalytics.skillCooccurrence(wh).collect()
    // skills 1 and 3 are both essential for occ/2 -> one co-occurrence
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("shared_occupations") == 1L)
    assert(Set(pairs.head.getAs[String]("skill1"),
      pairs.head.getAs[String]("skill2")) == Set("manage data", "communicate"))
  }

  test("occupationCooccurrence mirrors the skill-side self-join") {
    val pairs = graft.analytics.EscoAnalytics.occupationCooccurrence(wh).collect()
    // occ/1 and occ/2 share exactly skill/1
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("shared_skills") == 1L)
  }

  test("skillsForIscoGroup: 3-hop ISCO → occupation → skill chain") {
    val skills = graft.analytics.EscoAnalytics.skillsForIscoGroup(wh, "1234")
      .collect().map(r => r.getString(1) -> r.getAs[Long]("occupation_count")).toMap
    assert(skills("manage data") == 2L)
    assert(skills("communicate") == 1L)
  }

  test("sharedSkills (J5 intersection) between the two occupations") {
    val shared = graft.analytics.EscoAnalytics
      .sharedSkills(wh, "data engineer", "data analyst").collect()
    assert(shared.map(_.getString(1)).toSeq == Seq("manage data"))
  }

  test("skillCommunities (G5) yields a stable partition of the related graph") {
    val comm = graft.analytics.EscoAnalytics.skillCommunities(wh, iters = 3)
      .collect()
    // fixture related graph: skill/1 - skill/2 only
    assert(comm.length == 2)
    assert(comm.map(_.getAs[Long]("communityId")).distinct.length <= 2)
  }

  test("similarSkillsWithOccupations (J8) anchors by CONTAINS and joins occupations") {
    val search = new graft.vector.SemanticSearch(
      wh, new graft.vector.HashingEmbedder(64))
    val rows = graft.analytics.EscoAnalytics
      .similarSkillsWithOccupations(wh, search, "manage", threshold = -1.0, k = 3)
      .collect()
    assert(rows.nonEmpty)
    val bySkill = rows.map(r => r.getString(1) ->
      r.getAs[scala.collection.Seq[String]]("occupations")).toMap
    // "spark internals" is optional-not-essential -> no occupations via J8
    assert(bySkill.keySet.contains("communicate"))
    assert(bySkill("communicate") == Seq("data analyst"))
  }

  test("occupationTwoHopNetwork (G9): typed struct collections") {
    val net = graft.analytics.EscoAnalytics
      .occupationTwoHopNetwork(wh, "data engineer").collect()
    assert(net.length == 1)
    assert(net.head.getString(1) == "manage data")
    val also = net.head.getSeq[org.apache.spark.sql.Row](2)
    assert(also.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("data analyst", "Essential")))
  }
}
