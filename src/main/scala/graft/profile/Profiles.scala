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
  * loaded warehouse keeps, built by its first profile search of a type
  * and kept as long as the warehouse.
  */
object Profiles {

  /** Per anchor (`anchorCol` as `uri`), the sorted distinct `item`s of
    * its `edges`, each joined with `labels` (keyed by `conceptUri`) on
    * its other endpoint `otherCol`, as `outCol`. */
  private def collected(
      edges: DataFrame, anchorCol: String, otherCol: String,
      labels: DataFrame, item: Column, outCol: String): DataFrame =
    edges
      .join(labels.withColumnRenamed("conceptUri", otherCol), Seq(otherCol))
      .groupBy(col(anchorCol).as("uri"))
      .agg(sort_array(collect_set(item)).as(outCol))

  private val label = col("preferredLabel")

  /** A related item as struct(`field`: label, type: `tag`). */
  private def typed(field: String, tag: String): Column =
    struct(label.as(field), lit(tag).as("type"))

  /** A related node as struct(preferredLabel, type: `nodeType`,
    * relation: `relation`). */
  private def tagged(nodeType: String, relation: String): Column =
    struct(label.as("preferredLabel"), lit(nodeType).as("type"),
      lit(relation).as("relation"))

  /** `anchors` left-joined with each part (`uri` and one collected
    * column), a missing collection read as `[]`. */
  private def leftJoinAll(anchors: DataFrame, parts: DataFrame*): DataFrame =
    parts.foldLeft(anchors) { (acc, part) =>
      val outCol = part.columns.last
      acc.join(part, Seq("uri"), "left_outer")
        .withColumn(outCol, coalesce(col(outCol), array()))
    }

  private def labels(nodes: DataFrame): DataFrame =
    nodes.select(col("conceptUri"), col("preferredLabel"))

  /** Related graph for skill anchors (`uri` column): essential/optional
    * occupations, related skills (undirected J6), broader/narrower skills.
    * Mirrors `src/semantic_search.py:115-128`. */
  def skillRelatedGraph(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val (skillLabels, occLabels) = (labels(wh.skills), labels(wh.occupations))
    leftJoinAll(anchors,
      collected(wh.essentialFor, "skillUri", "occupationUri", occLabels,
        label, "essential_for_occupations"),
      collected(wh.optionalFor, "skillUri", "occupationUri", occLabels,
        label, "optional_for_occupations"),
      collected(wh.relatedSkillUndirected, "srcUri", "dstUri", skillLabels,
        label, "related_skills"),
      collected(wh.broaderSkill.select(col("childUri"), col("parentUri")),
        "childUri", "parentUri", skillLabels, label, "broader_skills"),
      collected(wh.broaderSkill.select(col("parentUri"), col("childUri")),
        "parentUri", "childUri", skillLabels, label, "narrower_skills"))
  }

  /** Related graph for occupation anchors: essential/optional skills, ISCO
    * groups, broader/narrower occupations — the last two are always empty
    * because the reference never creates Occupation BROADER_THAN edges
    * (Q2; queried anyway at `src/semantic_search.py:135-136`). */
  def occupationRelatedGraph(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val (skillLabels, occLabels) = (labels(wh.skills), labels(wh.occupations))
    leftJoinAll(anchors,
      collected(wh.essentialFor.select(col("occupationUri"), col("skillUri")),
        "occupationUri", "skillUri", skillLabels, label, "essential_skills"),
      collected(wh.optionalFor.select(col("occupationUri"), col("skillUri")),
        "occupationUri", "skillUri", skillLabels, label, "optional_skills"),
      collected(wh.partOfIscoGroup, "occupationUri", "iscoUri",
        labels(wh.iscoGroups), label, "isco_groups"),
      collected(wh.broaderOccupation.select(col("childUri"), col("parentUri")),
        "childUri", "parentUri", occLabels, label, "broader_occupations"),
      collected(wh.broaderOccupation.select(col("parentUri"), col("childUri")),
        "parentUri", "childUri", occLabels, label, "narrower_occupations"))
  }

  /** Complete profile with typed struct collections (SURVEY A5/G8,
    * `analysis_queries.md:253-306`): each related item as
    * struct(name, type) with a fixed field order, sorted. */
  def occupationCompleteProfile(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val skillLabels = labels(wh.skills)
    leftJoinAll(anchors,
      collected(wh.essentialFor, "occupationUri", "skillUri", skillLabels,
        typed("skill", "Essential"), "essential_skills"),
      collected(wh.optionalFor, "occupationUri", "skillUri", skillLabels,
        typed("skill", "Optional"), "optional_skills"))
  }

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
    val (skillLabels, occLabels) = (labels(wh.skills), labels(wh.occupations))
    val base = anchors
      .join(wh.skills.select(col("conceptUri").as("uri"),
        col("preferredLabel").as("skill"),
        col("altLabels").as("alternative_labels"),
        col("description")), Seq("uri"))
    leftJoinAll(base,
      collected(wh.essentialFor, "skillUri", "occupationUri", occLabels,
        typed("occupation", "Essential"), "essential_for_occupations"),
      collected(wh.optionalFor, "skillUri", "occupationUri", occLabels,
        typed("occupation", "Optional"), "optional_for_occupations"),
      collected(wh.broaderSkill.select(col("childUri"), col("parentUri")),
        "childUri", "parentUri", skillLabels, label, "broader_skills"),
      collected(wh.broaderSkill.select(col("parentUri"), col("childUri")),
        "parentUri", "childUri", skillLabels, label, "narrower_skills"),
      collected(wh.relatedSkillUndirected, "srcUri", "dstUri", skillLabels,
        label, "related_skills"),
      // Q3: partOfSkillGroup is declared-but-empty; the left join never
      // matches and every row coalesces to [] — the reference's behavior.
      collected(wh.partOfSkillGroup.select(col("skillUri"), col("groupUri")),
        "skillUri", "groupUri", skillLabels, label, "skill_groups"))
      .orderBy(col("uri"))
  }

  /** Skill-Occupation NETWORK around skill anchors (SURVEY G9 skill side,
    * `analysis_queries.md:348-389`): seven typed struct collections — the
    * skill's direct essential/optional occupations, the ISCO groups reached
    * through each, its related skills, and the occupations needing those
    * related skills. Each collection is an independent grouped aggregate
    * left-joined to the anchor (Cypher OPTIONAL MATCH + collect(DISTINCT)
    * semantics: no match → `[]`), so the whole 2-hop network is ONE plan. */
  def skillTwoHopNetwork(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val occLabels = labels(wh.occupations)
    val related = wh.relatedSkillUndirected
    // skill → occupation → ISCO group, per rel kind
    def iscoVia(rel: DataFrame, tag: String, outCol: String): DataFrame =
      collected(
        rel.join(wh.partOfIscoGroup, Seq("occupationUri"))
          .select(col("skillUri"), col("iscoUri")),
        "skillUri", "iscoUri", labels(wh.iscoGroups),
        typed("iscoGroup", tag), outCol)
    // skill → related skill → occupation, per rel kind
    def occViaRelated(rel: DataFrame, tag: String, outCol: String): DataFrame =
      collected(
        related.select(col("srcUri"), col("dstUri").as("skillUri"))
          .join(rel, Seq("skillUri"))
          .select(col("srcUri").as("anchor"), col("occupationUri")),
        "anchor", "occupationUri", occLabels, typed("occupation", tag), outCol)
    val base = anchors
      .join(wh.skills.select(col("conceptUri").as("uri"),
        col("preferredLabel").as("skill")), Seq("uri"))
    leftJoinAll(base,
      collected(wh.essentialFor, "skillUri", "occupationUri", occLabels,
        typed("occupation", "Direct Essential"), "direct_essential_occupations"),
      collected(wh.optionalFor, "skillUri", "occupationUri", occLabels,
        typed("occupation", "Direct Optional"), "direct_optional_occupations"),
      iscoVia(wh.essentialFor, "Via Essential", "isco_groups_via_essential"),
      iscoVia(wh.optionalFor, "Via Optional", "isco_groups_via_optional"),
      collected(related, "srcUri", "dstUri", labels(wh.skills),
        typed("skill", "Related"), "related_skills"),
      occViaRelated(wh.essentialFor, "Via Related Skills Essential",
        "occupations_via_related_essential"),
      occViaRelated(wh.optionalFor, "Via Related Skills Optional",
        "occupations_via_related_optional"))
      .orderBy(col("uri"))
  }

  /** Property-map graph projection for visualization (SURVEY F9,
    * `analysis_queries.md:479-495`): the anchor occupation and each related
    * node rendered as a struct of selected properties plus literal
    * type/relation tags — the Cypher map projection `o {.preferredLabel,
    * .description, type: 'Occupation'}` as a Spark `struct`. Broader and
    * narrower occupation collections are always `[]` (Q2: occupation-pillar
    * BROADER_THAN edges are never created), replicated faithfully. */
  def occupationVizGraph(wh: EscoWarehouse, anchors: DataFrame): DataFrame = {
    val (skillLabels, occLabels) = (labels(wh.skills), labels(wh.occupations))
    val base = anchors
      .join(wh.occupations.select(col("conceptUri").as("uri"),
        col("preferredLabel"), col("description")), Seq("uri"))
      .withColumn("occupation", struct(
        col("preferredLabel").as("preferredLabel"),
        col("description").as("description"),
        lit("Occupation").as("type")))
      .drop("preferredLabel", "description")
    leftJoinAll(base,
      collected(wh.essentialFor, "occupationUri", "skillUri", skillLabels,
        tagged("Skill", "Essential"), "essential_skills"),
      collected(wh.optionalFor, "occupationUri", "skillUri", skillLabels,
        tagged("Skill", "Optional"), "optional_skills"),
      collected(wh.partOfIscoGroup, "occupationUri", "iscoUri",
        wh.iscoGroups.select(col("conceptUri"), col("preferredLabel"), col("code")),
        struct(label.as("preferredLabel"), col("code").as("code"),
          lit("ISCOGroup").as("type")), "isco_groups"),
      collected(wh.broaderOccupation.select(col("childUri"), col("parentUri")),
        "childUri", "parentUri", occLabels, tagged("Occupation", "Broader"),
        "broader_occupations"),
      collected(wh.broaderOccupation.select(col("parentUri"), col("childUri")),
        "parentUri", "childUri", occLabels, tagged("Occupation", "Narrower"),
        "narrower_occupations"))
      .orderBy(col("uri"))
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
    val (skillLabels, occLabels) = (labels(wh.skills), labels(wh.occupations))
    val base = anchors
      .join(wh.skills.select(col("conceptUri").as("uri"),
        col("preferredLabel"), col("description")), Seq("uri"))
      .withColumn("skill", struct(
        col("preferredLabel").as("preferredLabel"),
        col("description").as("description"),
        lit("Skill").as("type")))
      .drop("preferredLabel", "description")
    leftJoinAll(base,
      collected(wh.essentialFor, "skillUri", "occupationUri", occLabels,
        tagged("Occupation", "Essential"), "essential_for_occupations"),
      collected(wh.optionalFor, "skillUri", "occupationUri", occLabels,
        tagged("Occupation", "Optional"), "optional_for_occupations"),
      collected(wh.broaderSkill.select(col("childUri"), col("parentUri")),
        "childUri", "parentUri", skillLabels, tagged("Skill", "Broader"),
        "broader_skills"),
      collected(wh.broaderSkill.select(col("parentUri"), col("childUri")),
        "parentUri", "childUri", skillLabels, tagged("Skill", "Narrower"),
        "narrower_skills"),
      collected(wh.relatedSkillUndirected, "srcUri", "dstUri", skillLabels,
        tagged("Skill", "Related"), "related_skills"),
      collected(wh.partOfSkillGroup, "skillUri", "groupUri", skillLabels,
        tagged("SkillGroup", "PartOf"), "skill_groups"))
      .orderBy(col("uri"))
  }

  /** Two-phase profile search as ONE plan (SURVEY G7): top-k semantic hits
    * expanded with their related graph — replaces the reference's 1 + k
    * round-trip loop (`src/semantic_search.py:205-214`).
    *
    * The expansion's aggregates cover every node whatever the hits are, so
    * they are kept resident. One rule places them: warehouse-derived
    * frames live on the loaded warehouse, and embedder-derived frames
    * (the embedded corpora `search` scans) live on the engine. The first
    * profile search of a type over `wh` builds [[skillRelatedGraph]]
    * ("skill") or [[occupationRelatedGraph]] (any other type) over every
    * node a hit of that type can be, once per warehouse whatever the
    * engine, and every search is `hits ⋈ resident profile rows`. A hit
    * with no relation of the profile's kind (a skill hit of a "both"
    * search has no occupation relations) reads `[]` in every profile
    * column, as Cypher's collect over an unmatched OPTIONAL MATCH does.
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
    val profiles =
      if (nodeType.equalsIgnoreCase("skill")) wh.session.skillProfiles
      else wh.session.occupationProfiles
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
