package graft.profile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.EscoWarehouse
import graft.vector.SemanticSearch

/** Profile / related-graph extraction (SURVEY G6–G9).
  *
  * The reference expands each search hit with a second Cypher round-trip of
  * five OPTIONAL MATCH + collect(DISTINCT) clauses (reference:
  * `src/semantic_search.py:111-169`), and profile search loops client-side
  * over hits — 1 + k round-trips (`src/semantic_search.py:185-215`). Here
  * each expansion is a grouped aggregation over an edge table and the whole
  * profile is ONE logical plan: anchors × 5 left-joined aggregates. k
  * anchors or k million anchors is the same plan.
  *
  * Cypher null semantics (SURVEY §7.4.1): `collect(DISTINCT x)` over an
  * unmatched OPTIONAL MATCH yields `[]` — reproduced by aggregating each
  * expansion independently (inner joins) and coalescing missing groups to
  * `array()` after the left join. Collected arrays are sorted for
  * deterministic output (Q4-style canonicalisation).
  *
  * Every function here is a lazy plan over the warehouse, except
  * [[profileSearch]]: it answers from all-nodes profile rows that the
  * search engine keeps resident, built by the engine's first profile
  * search of a type and kept as long as the engine (see
  * [[graft.vector.SemanticSearch]]).
  */
object Profiles {

  private def agg(
      edges: DataFrame, anchorCol: String, otherCol: String,
      labels: DataFrame, labelKey: String, outCol: String): DataFrame =
    edges
      .join(labels.withColumnRenamed(labelKey, otherCol), Seq(otherCol))
      .groupBy(col(anchorCol).as("uri"))
      .agg(sort_array(collect_set(col("preferredLabel"))).as(outCol))

  private def leftJoinAll(anchors: DataFrame, parts: Seq[(DataFrame, String)]): DataFrame =
    parts.foldLeft(anchors) { case (acc, (part, outCol)) =>
      acc.join(part, Seq("uri"), "left_outer")
        .withColumn(outCol, coalesce(col(outCol), array()))
    }

  /** Related graph for skill anchors (`uri` column): essential/optional
    * occupations, related skills (undirected J6), broader/narrower skills.
    * Mirrors `src/semantic_search.py:115-128`. */
  def skillRelatedGraph(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val skillLabels = wh.skills.select(col("conceptUri"), col("preferredLabel"))
    val occLabels = wh.occupations.select(col("conceptUri"), col("preferredLabel"))
    // J6: undirected RELATED_SKILL = union with reversal
    val relatedUndirected = wh.relatedSkill.select(col("srcUri"), col("dstUri"))
      .unionByName(wh.relatedSkill.select(col("dstUri").as("srcUri"),
        col("srcUri").as("dstUri")))
    leftJoinAll(anchors, Seq(
      agg(wh.essentialFor, "skillUri", "occupationUri", occLabels,
        "conceptUri", "essential_for_occupations") -> "essential_for_occupations",
      agg(wh.optionalFor, "skillUri", "occupationUri", occLabels,
        "conceptUri", "optional_for_occupations") -> "optional_for_occupations",
      agg(relatedUndirected, "srcUri", "dstUri", skillLabels,
        "conceptUri", "related_skills") -> "related_skills",
      agg(wh.broaderSkill.select(col("childUri"), col("parentUri")),
        "childUri", "parentUri", skillLabels,
        "conceptUri", "broader_skills") -> "broader_skills",
      agg(wh.broaderSkill.select(col("parentUri"), col("childUri")),
        "parentUri", "childUri", skillLabels,
        "conceptUri", "narrower_skills") -> "narrower_skills"
    ).map { case (df, c) => (df, c) })
  }

  /** Related graph for occupation anchors: essential/optional skills, ISCO
    * groups, broader/narrower occupations — the last two are always empty
    * because the reference never creates Occupation BROADER_THAN edges
    * (Q2; queried anyway at `src/semantic_search.py:135-136`). */
  def occupationRelatedGraph(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val skillLabels = wh.skills.select(col("conceptUri"), col("preferredLabel"))
    val iscoLabels = wh.iscoGroups.select(col("conceptUri"), col("preferredLabel"))
    val occLabels = wh.occupations.select(col("conceptUri"), col("preferredLabel"))
    leftJoinAll(anchors, Seq(
      agg(wh.essentialFor.select(col("occupationUri"), col("skillUri")),
        "occupationUri", "skillUri", skillLabels,
        "conceptUri", "essential_skills") -> "essential_skills",
      agg(wh.optionalFor.select(col("occupationUri"), col("skillUri")),
        "occupationUri", "skillUri", skillLabels,
        "conceptUri", "optional_skills") -> "optional_skills",
      agg(wh.partOfIscoGroup, "occupationUri", "iscoUri", iscoLabels,
        "conceptUri", "isco_groups") -> "isco_groups",
      agg(wh.broaderOccupation.select(col("childUri"), col("parentUri")),
        "childUri", "parentUri", occLabels,
        "conceptUri", "broader_occupations") -> "broader_occupations",
      agg(wh.broaderOccupation.select(col("parentUri"), col("childUri")),
        "parentUri", "childUri", occLabels,
        "conceptUri", "narrower_occupations") -> "narrower_occupations"
    ))
  }

  /** Complete profile with typed struct collections (SURVEY A5/G8,
    * `analysis_queries.md:253-306`): each related item as
    * struct(name, type) with a fixed field order, sorted. */
  def occupationCompleteProfile(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val skillLabels = wh.skills.select(col("conceptUri"), col("preferredLabel"))
    def typedAgg(edges: DataFrame, typ: String): DataFrame =
      edges
        .join(skillLabels.withColumnRenamed("conceptUri", "skillUri"), Seq("skillUri"))
        .groupBy(col("occupationUri").as("uri"))
        .agg(sort_array(collect_set(struct(
          col("preferredLabel").as("skill"), lit(typ).as("type")))).as(s"${typ.toLowerCase}_skills"))
    leftJoinAll(anchors, Seq(
      typedAgg(wh.essentialFor, "Essential") -> "essential_skills",
      typedAgg(wh.optionalFor, "Optional") -> "optional_skills"))
  }

  /** Typed struct collection: each related item as struct with fixed field
    * order and a literal tag, sorted (Q4 canonical). */
  private def typedAgg(
      edges: DataFrame, anchorCol: String, otherCol: String,
      labels: DataFrame, labelKey: String,
      itemField: String, typeTag: String, outCol: String): DataFrame =
    edges
      .join(labels.withColumnRenamed(labelKey, otherCol), Seq(otherCol))
      .groupBy(col(anchorCol).as("uri"))
      .agg(sort_array(collect_set(struct(
        col("preferredLabel").as(itemField),
        lit(typeTag).as("type")))).as(outCol))

  /** Complete SKILL profile with typed struct collections (SURVEY G8
    * skill side, `analysis_queries.md:280-306`): essential/optional
    * occupations as struct(occupation, type), broader/narrower/related
    * skills as plain lists, plus the always-empty SkillGroups collect —
    * `PART_OF_SKILLGROUP` is never created (Q3), so that column is `[]` for
    * every row, exactly like the reference. Hierarchy direction: BROADER_THAN
    * is ingested parent→child (`src/esco_ingest.py:183`), so `broader_skills`
    * here are the anchor's parents — the semantic reading of the reference's
    * (flipped) aliases, same convention as [[skillRelatedGraph]]. */
  def skillCompleteProfile(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val skillLabels = wh.skills.select(col("conceptUri"), col("preferredLabel"))
    val occLabels = wh.occupations.select(col("conceptUri"), col("preferredLabel"))
    val relatedUndirected = wh.relatedSkill.select(col("srcUri"), col("dstUri"))
      .unionByName(wh.relatedSkill.select(col("dstUri").as("srcUri"),
        col("srcUri").as("dstUri")))
    val base = anchors
      .join(wh.skills.select(col("conceptUri").as("uri"),
        col("preferredLabel").as("skill"),
        col("altLabels").as("alternative_labels"),
        col("description")), Seq("uri"))
    val withStructs = leftJoinAll(base, Seq(
      typedAgg(wh.essentialFor, "skillUri", "occupationUri", occLabels,
        "conceptUri", "occupation", "Essential",
        "essential_for_occupations") -> "essential_for_occupations",
      typedAgg(wh.optionalFor, "skillUri", "occupationUri", occLabels,
        "conceptUri", "occupation", "Optional",
        "optional_for_occupations") -> "optional_for_occupations",
      agg(wh.broaderSkill.select(col("childUri"), col("parentUri")),
        "childUri", "parentUri", skillLabels,
        "conceptUri", "broader_skills") -> "broader_skills",
      agg(wh.broaderSkill.select(col("parentUri"), col("childUri")),
        "parentUri", "childUri", skillLabels,
        "conceptUri", "narrower_skills") -> "narrower_skills",
      agg(relatedUndirected, "srcUri", "dstUri", skillLabels,
        "conceptUri", "related_skills") -> "related_skills",
      // Q3: partOfSkillGroup is declared-but-empty; the left join never
      // matches and every row coalesces to [] — the reference's behavior.
      agg(wh.partOfSkillGroup.select(col("skillUri"), col("groupUri")),
        "skillUri", "groupUri", skillLabels,
        "conceptUri", "skill_groups") -> "skill_groups"))
    withStructs.orderBy(col("uri"))
  }

  /** Skill-Occupation NETWORK around skill anchors (SURVEY G9 skill side,
    * `analysis_queries.md:348-389`): seven typed struct collections — the
    * skill's direct essential/optional occupations, the ISCO groups reached
    * through each, its related skills, and the occupations needing those
    * related skills. Each collection is an independent grouped aggregate
    * left-joined to the anchor (Cypher OPTIONAL MATCH + collect(DISTINCT)
    * semantics: no match → `[]`), so the whole 2-hop network is ONE plan. */
  def skillTwoHopNetwork(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val occLabels = wh.occupations.select(col("conceptUri"), col("preferredLabel"))
    val iscoLabels = wh.iscoGroups.select(col("conceptUri"), col("preferredLabel"))
    val skillLabels = wh.skills.select(col("conceptUri"), col("preferredLabel"))
    val relatedUndirected = wh.relatedSkill.select(col("srcUri"), col("dstUri"))
      .unionByName(wh.relatedSkill.select(col("dstUri").as("srcUri"),
        col("srcUri").as("dstUri")))
    // skill → occupation → ISCO group, per rel kind
    def iscoVia(rel: DataFrame, tag: String, outCol: String): DataFrame =
      typedAgg(
        rel.join(wh.partOfIscoGroup, Seq("occupationUri"))
          .select(col("skillUri"), col("iscoUri")),
        "skillUri", "iscoUri", iscoLabels, "conceptUri",
        "iscoGroup", tag, outCol)
    // skill → related skill → occupation, per rel kind
    def occViaRelated(rel: DataFrame, tag: String, outCol: String): DataFrame =
      typedAgg(
        relatedUndirected.select(col("srcUri"), col("dstUri").as("skillUri"))
          .join(rel, Seq("skillUri"))
          .select(col("srcUri").as("anchor"), col("occupationUri")),
        "anchor", "occupationUri", occLabels, "conceptUri",
        "occupation", tag, outCol)
    val base = anchors
      .join(wh.skills.select(col("conceptUri").as("uri"),
        col("preferredLabel").as("skill")), Seq("uri"))
    leftJoinAll(base, Seq(
      typedAgg(wh.essentialFor, "skillUri", "occupationUri", occLabels,
        "conceptUri", "occupation", "Direct Essential",
        "direct_essential_occupations") -> "direct_essential_occupations",
      typedAgg(wh.optionalFor, "skillUri", "occupationUri", occLabels,
        "conceptUri", "occupation", "Direct Optional",
        "direct_optional_occupations") -> "direct_optional_occupations",
      iscoVia(wh.essentialFor, "Via Essential",
        "isco_groups_via_essential") -> "isco_groups_via_essential",
      iscoVia(wh.optionalFor, "Via Optional",
        "isco_groups_via_optional") -> "isco_groups_via_optional",
      typedAgg(relatedUndirected, "srcUri", "dstUri", skillLabels,
        "conceptUri", "skill", "Related",
        "related_skills") -> "related_skills",
      occViaRelated(wh.essentialFor, "Via Related Skills Essential",
        "occupations_via_related_essential") -> "occupations_via_related_essential",
      occViaRelated(wh.optionalFor, "Via Related Skills Optional",
        "occupations_via_related_optional") -> "occupations_via_related_optional"
    )).orderBy(col("uri"))
  }

  /** Property-map graph projection for visualization (SURVEY F9,
    * `analysis_queries.md:479-495`): the anchor occupation and each related
    * node rendered as a struct of selected properties plus literal
    * type/relation tags — the Cypher map projection `o {.preferredLabel,
    * .description, type: 'Occupation'}` as a Spark `struct`. Broader and
    * narrower occupation collections are always `[]` (Q2: occupation-pillar
    * BROADER_THAN edges are never created), replicated faithfully. */
  def occupationVizGraph(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val skillLabels = wh.skills.select(col("conceptUri"), col("preferredLabel"))
    val occLabels = wh.occupations.select(col("conceptUri"), col("preferredLabel"))
    def relTagged(edges: DataFrame, anchorCol: String, otherCol: String,
        labels: DataFrame, nodeType: String, relation: String,
        outCol: String): DataFrame =
      edges
        .join(labels.withColumnRenamed("conceptUri", otherCol), Seq(otherCol))
        .groupBy(col(anchorCol).as("uri"))
        .agg(sort_array(collect_set(struct(
          col("preferredLabel").as("preferredLabel"),
          lit(nodeType).as("type"),
          lit(relation).as("relation")))).as(outCol))
    val isco = wh.partOfIscoGroup
      .join(wh.iscoGroups.select(col("conceptUri").as("iscoUri"),
        col("preferredLabel"), col("code")), Seq("iscoUri"))
      .groupBy(col("occupationUri").as("uri"))
      .agg(sort_array(collect_set(struct(
        col("preferredLabel").as("preferredLabel"),
        col("code").as("code"),
        lit("ISCOGroup").as("type")))).as("isco_groups"))
    val base = anchors
      .join(wh.occupations.select(col("conceptUri").as("uri"),
        col("preferredLabel"), col("description")), Seq("uri"))
      .withColumn("occupation", struct(
        col("preferredLabel").as("preferredLabel"),
        col("description").as("description"),
        lit("Occupation").as("type")))
      .drop("preferredLabel", "description")
    leftJoinAll(base, Seq(
      relTagged(wh.essentialFor, "occupationUri", "skillUri", skillLabels,
        "Skill", "Essential", "essential_skills") -> "essential_skills",
      relTagged(wh.optionalFor, "occupationUri", "skillUri", skillLabels,
        "Skill", "Optional", "optional_skills") -> "optional_skills",
      isco -> "isco_groups",
      relTagged(wh.broaderOccupation.select(col("childUri"), col("parentUri")),
        "childUri", "parentUri", occLabels, "Occupation", "Broader",
        "broader_occupations") -> "broader_occupations",
      relTagged(wh.broaderOccupation.select(col("parentUri"), col("childUri")),
        "parentUri", "childUri", occLabels, "Occupation", "Narrower",
        "narrower_occupations") -> "narrower_occupations"
    )).orderBy(col("uri"))
  }

  /** Skill-side viz projection — the symmetric partner of
    * [[occupationVizGraph]], covering the Skill Profile Graph shape
    * (`analysis_queries.md:407-417`): the anchor skill as a typed struct
    * plus tagged collections for essential/optional occupations,
    * broader/narrower skills, undirected related skills, and skill groups
    * (empty by replicated Q3, still queryable). Same single-plan
    * grouped-collect shape: each relation aggregates once on its anchor
    * uri, then left-joins — no per-anchor round trips. */
  def skillVizGraph(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val skillLabels = wh.skills.select(col("conceptUri"), col("preferredLabel"))
    val occLabels = wh.occupations.select(col("conceptUri"), col("preferredLabel"))
    def relTagged(edges: DataFrame, anchorCol: String, otherCol: String,
        labels: DataFrame, nodeType: String, relation: String,
        outCol: String): DataFrame =
      edges
        .join(labels.withColumnRenamed("conceptUri", otherCol), Seq(otherCol))
        .groupBy(col(anchorCol).as("uri"))
        .agg(sort_array(collect_set(struct(
          col("preferredLabel").as("preferredLabel"),
          lit(nodeType).as("type"),
          lit(relation).as("relation")))).as(outCol))
    val relatedUndirected = wh.relatedSkill.select(col("srcUri"), col("dstUri"))
      .unionByName(wh.relatedSkill.select(col("dstUri").as("srcUri"),
        col("srcUri").as("dstUri")))
    val base = anchors
      .join(wh.skills.select(col("conceptUri").as("uri"),
        col("preferredLabel"), col("description")), Seq("uri"))
      .withColumn("skill", struct(
        col("preferredLabel").as("preferredLabel"),
        col("description").as("description"),
        lit("Skill").as("type")))
      .drop("preferredLabel", "description")
    leftJoinAll(base, Seq(
      relTagged(wh.essentialFor, "skillUri", "occupationUri", occLabels,
        "Occupation", "Essential", "essential_for_occupations")
        -> "essential_for_occupations",
      relTagged(wh.optionalFor, "skillUri", "occupationUri", occLabels,
        "Occupation", "Optional", "optional_for_occupations")
        -> "optional_for_occupations",
      relTagged(wh.broaderSkill.select(col("childUri"), col("parentUri")),
        "childUri", "parentUri", skillLabels, "Skill", "Broader",
        "broader_skills") -> "broader_skills",
      relTagged(wh.broaderSkill.select(col("parentUri"), col("childUri")),
        "parentUri", "childUri", skillLabels, "Skill", "Narrower",
        "narrower_skills") -> "narrower_skills",
      relTagged(relatedUndirected, "srcUri", "dstUri", skillLabels,
        "Skill", "Related", "related_skills") -> "related_skills",
      relTagged(wh.partOfSkillGroup, "skillUri", "groupUri", skillLabels,
        "SkillGroup", "PartOf", "skill_groups") -> "skill_groups"
    )).orderBy(col("uri"))
  }

  /** Two-phase profile search as ONE plan (SURVEY G7): top-k semantic hits
    * expanded with their related graph — replaces the reference's 1 + k
    * round-trip loop (`src/semantic_search.py:205-214`).
    *
    * The expansion's aggregates cover every node whatever the hits are, so
    * the engine keeps them resident: the first profile search of a type
    * builds [[skillRelatedGraph]] ("skill") or [[occupationRelatedGraph]]
    * (any other type) over every node a hit of that type can be, once per
    * engine and warehouse, and every search is `hits ⋈ resident profile
    * rows`. A hit with no relation of the profile's kind (a skill hit of a
    * "both" search has no occupation relations) reads `[]` in every
    * profile column, as Cypher's collect over an unmatched OPTIONAL MATCH
    * does. The resident rows live as long as the engine's other resident
    * frames (see [[SemanticSearch]]).
    *
    * @param wh the warehouse `search` searches: a hit whose node `wh` does
    *   not hold has no profile row and is left out
    */
  def profileSearch(
      wh: EscoWarehouse,
      search: SemanticSearch,
      query: String,
      nodeType: String = "occupation",
      threshold: Double = 0.5,
      limit: Int = 10): DataFrame = {
    val skill = nodeType.equalsIgnoreCase("skill")
    val profiles = search.resident((wh, if (skill) "skill" else "occupation")) {
      val skills = wh.skills.select(col("conceptUri").as("uri"))
      if (skill) skillRelatedGraph(wh, skills)
      else occupationRelatedGraph(wh,
        wh.occupations.select(col("conceptUri").as("uri")).unionByName(skills))
    }
    val hits = search.search(query, nodeType, threshold, limit)
    // every hit has a profile row, so the join is inner and the (at most
    // `limit`) hits are the broadcast side: a warm search streams the
    // resident rows once and exchanges nothing. One partition (the
    // dimension-sized resident scan runs as one task) lets the final order
    // sort its at most `limit` rows in place, without a range exchange.
    profiles.join(broadcast(hits), Seq("uri"))
      .select((hits.columns ++ profiles.columns.filter(_ != "uri")).map(col): _*)
      .coalesce(1)
      .orderBy(desc("score"), col("uri"))
  }
}
