package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftFunctions
import graft.operators.{GraphOps, Vertices}
import graft.profile.Profiles
import graft.sources.EscoWarehouse
import graft.vector.SemanticSearch

/** The reference's analysis-query catalog (`analysis_queries.md`, ~30
  * Cypher queries) re-expressed as named DataFrame functions. Each function
  * cites the query block it replaces. All are lazy plans; Catalyst
  * broadcasts the dimension-sized node tables into the edge joins.
  */
object EscoAnalytics {

  /** Node counts by label array (A8, `analysis_queries.md:10-12`). Q1
    * dual-labels: SkillGroups report [Skill, SkillGroup]. */
  def nodeCounts(wh: EscoWarehouse): DataFrame =
    wh.allNodes
      .groupBy(col("labels")).agg(count(lit(1)).as("count"))
      .orderBy(desc("count"))

  /** Relationship counts by type (A9, `analysis_queries.md:17-20`). */
  def relationshipCounts(wh: EscoWarehouse): DataFrame =
    wh.allEdges
      .groupBy(col("relType")).agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), col("relType"))

  /** Top skills by TOTAL outgoing relationship count, zero-degree skills
    * included (`analysis_queries.md:25-32`: `MATCH (s:Skill) OPTIONAL MATCH
    * (s)-[r]->()`). The OPTIONAL MATCH becomes a left join against the
    * pre-aggregated degree frame with a coalesce-to-0 — skills with no
    * outgoing edge keep a row, exactly like the Cypher. One shuffle on the
    * edge table's srcUri; the node side is dimension-sized and broadcast. */
  def topSkillsByRelationships(wh: EscoWarehouse, k: Int = 20): DataFrame = {
    val outDegrees = wh.allEdges
      .groupBy(col("srcUri").as("conceptUri"))
      .agg(count(lit(1)).as("relationship_count"))
    wh.skills.select(col("conceptUri"), col("preferredLabel"))
      .join(outDegrees, Seq("conceptUri"), "left_outer")
      .withColumn("relationship_count",
        coalesce(col("relationship_count"), lit(0L)))
      .orderBy(desc("relationship_count"), col("conceptUri"))
      .limit(k)
  }

  /** Skill groups with the most (narrower) skills
    * (`analysis_queries.md:95-101`: `MATCH (sg:SkillGroup)-[:BROADER_THAN]->
    * (s:Skill)`). BROADER_THAN is ingested parent→child (reference
    * `src/esco_ingest.py:183`), so this counts each group's children; by Q1
    * dual-labeling, children that are themselves groups match `:Skill` and
    * count too. */
  def skillGroupsWithMostSkills(wh: EscoWarehouse, k: Int = 20): DataFrame =
    wh.broaderSkill
      .join(wh.skills.filter(col("isSkillGroup"))
        .select(col("conceptUri").as("parentUri"), col("preferredLabel")),
        Seq("parentUri"))
      .groupBy(col("parentUri").as("conceptUri"), col("preferredLabel"))
      .agg(count(lit(1)).as("skill_count"))
      .orderBy(desc("skill_count"), col("conceptUri"))
      .limit(k)

  /** Transferable skills: essential across the most distinct ISCO groups
    * (`analysis_queries.md:115-121`): skill →ESSENTIAL_FOR→ occupation
    * →PART_OF_ISCOGROUP→ group, `count(DISTINCT group)`. Two broadcast-able
    * dimension joins then one distinct-count shuffle keyed on skillUri. */
  def transferableSkills(wh: EscoWarehouse, k: Int = 20): DataFrame =
    wh.essentialFor
      .join(wh.partOfIscoGroup, Seq("occupationUri"))
      .join(wh.skills.select(col("conceptUri").as("skillUri"),
        col("preferredLabel")), Seq("skillUri"))
      .groupBy(col("skillUri"), col("preferredLabel"))
      .agg(countDistinct(col("iscoUri")).as("isco_group_count"))
      .orderBy(desc("isco_group_count"), col("skillUri"))
      .limit(k)

  /** Top skills by number of occupations requiring them essentially
    * (`analysis_queries.md:37-41`). */
  def topEssentialSkills(wh: EscoWarehouse, k: Int = 20): DataFrame =
    wh.essentialFor
      .join(wh.skills.select(col("conceptUri").as("skillUri"),
        col("preferredLabel")), Seq("skillUri"))
      .groupBy(col("skillUri"), col("preferredLabel"))
      .agg(count(lit(1)).as("occupation_count"))
      .orderBy(desc("occupation_count"), col("skillUri"))
      .limit(k)

  /** Top skills by optional demand (`analysis_queries.md:47-50`). */
  def topOptionalSkills(wh: EscoWarehouse, k: Int = 20): DataFrame =
    wh.optionalFor
      .join(wh.skills.select(col("conceptUri").as("skillUri"),
        col("preferredLabel")), Seq("skillUri"))
      .groupBy(col("skillUri"), col("preferredLabel"))
      .agg(count(lit(1)).as("occupation_count"))
      .orderBy(desc("occupation_count"), col("skillUri"))
      .limit(k)

  /** Occupations with the most essential skills (`analysis_queries.md:57-61`). */
  def topOccupationsByEssentialSkills(wh: EscoWarehouse, k: Int = 20): DataFrame =
    wh.essentialFor
      .join(wh.occupations.select(col("conceptUri").as("occupationUri"),
        col("preferredLabel")), Seq("occupationUri"))
      .groupBy(col("occupationUri"), col("preferredLabel"))
      .agg(count(lit(1)).as("skill_count"))
      .orderBy(desc("skill_count"), col("occupationUri"))
      .limit(k)

  /** Occupations with the most OPTIONAL skills
    * (`analysis_queries.md:64-70`) — the optional mirror of
    * [[topOccupationsByEssentialSkills]]. */
  def topOccupationsByOptionalSkills(wh: EscoWarehouse, k: Int = 20): DataFrame =
    wh.optionalFor
      .join(wh.occupations.select(col("conceptUri").as("occupationUri"),
        col("preferredLabel")), Seq("occupationUri"))
      .groupBy(col("occupationUri"), col("preferredLabel"))
      .agg(count(lit(1)).as("skill_count"))
      .orderBy(desc("skill_count"), col("occupationUri"))
      .limit(k)

  /** ISCO groups with most occupations (`analysis_queries.md:78-81`; the
    * SURVEY §7.2 first-slice query). */
  def iscoGroupsWithMostOccupations(wh: EscoWarehouse, k: Int = 20): DataFrame =
    wh.partOfIscoGroup
      .join(wh.iscoGroups.select(col("conceptUri").as("iscoUri"),
        col("preferredLabel"), col("code")), Seq("iscoUri"))
      .groupBy(col("iscoUri"), col("preferredLabel"), col("code"))
      .agg(count(lit(1)).as("occupation_count"))
      .orderBy(desc("occupation_count"), col("code"))
      .limit(k)

  /** Skill co-occurrence: pairs essential for the same occupation (J4,
    * `analysis_queries.md:127-131`). The classic self-join-through-shared-
    * neighbor; anti-self predicate keeps s1 < s2 so each pair counts once
    * per shared occupation. */
  def skillCooccurrence(wh: EscoWarehouse, k: Int = 20): DataFrame = {
    // shape chosen from the data (Joins.adaptivePairs): an occupation's
    // essential-skill set is small and bounded, so this resolves to the
    // grouped shape (measured 2x over the self-join) — but a degenerate
    // load (one occupation with thousands of skills) would flip it to the
    // spread-out join instead of serializing the fan-out into one task
    val pairs = graft.operators.Joins
      .adaptivePairs(wh.essentialFor, "occupationUri", "skillUri")
      .groupBy(col("a").as("s1"), col("b").as("s2"))
      .agg(count(lit(1)).as("shared_occupations"))
    val labels = wh.skills.select(col("conceptUri"), col("preferredLabel"))
    pairs
      .join(labels.select(col("conceptUri").as("s1"),
        col("preferredLabel").as("skill1")), Seq("s1"))
      .join(labels.select(col("conceptUri").as("s2"),
        col("preferredLabel").as("skill2")), Seq("s2"))
      .orderBy(desc("shared_occupations"), col("s1"), col("s2"))
      .limit(k)
  }

  /** Occupation co-occurrence: pairs sharing essential skills (the J4
    * self-join mirrored to the occupation side, `analysis_queries.md:
    * 156-170` family). */
  def occupationCooccurrence(wh: EscoWarehouse, k: Int = 20): DataFrame = {
    // grouped by SKILL a popular skill's occupation list is a potential
    // hot key — adaptivePairs probes the distribution and picks the
    // spread-out self-join exactly when such a key exists
    val pairs = graft.operators.Joins
      .adaptivePairs(wh.essentialFor, "skillUri", "occupationUri")
      .groupBy(col("a").as("o1"), col("b").as("o2"))
      .agg(count(lit(1)).as("shared_skills"))
    val labels = wh.occupations.select(col("conceptUri"), col("preferredLabel"))
    pairs
      .join(labels.select(col("conceptUri").as("o1"),
        col("preferredLabel").as("occupation1")), Seq("o1"))
      .join(labels.select(col("conceptUri").as("o2"),
        col("preferredLabel").as("occupation2")), Seq("o2"))
      .orderBy(desc("shared_skills"), col("o1"), col("o2"))
      .limit(k)
  }

  /** Occupations related to ONE anchor through directly shared essential
    * skills, with the connecting skills collected
    * (`analysis_queries.md:155-161`): anchor ←ESSENTIAL_FOR– skill
    * –ESSENTIAL_FOR→ other. The anchor side is a 1-row broadcast; the
    * grouped collect shuffles on the related-occupation uri only. */
  def relatedOccupationsDirect(wh: EscoWarehouse, occLabel: String): DataFrame = {
    val anchor = wh.occupations
      .filter(col("preferredLabel") === occLabel)
      .select(col("conceptUri").as("occupationUri"),
        col("preferredLabel").as("source_occupation"))
    val anchorSkills = wh.essentialFor
      .join(broadcast(anchor), Seq("occupationUri"))
      .select(col("skillUri"), col("occupationUri").as("anchorUri"),
        col("source_occupation"))
    anchorSkills
      .join(wh.essentialFor.withColumnRenamed("occupationUri", "otherUri"),
        Seq("skillUri"))
      .filter(col("otherUri") =!= col("anchorUri")) // WHERE o1 <> o2
      .join(wh.skills.select(col("conceptUri").as("skillUri"),
        col("preferredLabel").as("skill")), Seq("skillUri"))
      .join(wh.occupations.select(col("conceptUri").as("otherUri"),
        col("preferredLabel").as("related_occupation")), Seq("otherUri"))
      // anchorUri in the keys: Cypher matches per NODE, so two anchors
      // sharing the same preferredLabel must not pool their skills
      .groupBy(col("anchorUri").as("source_uri"), col("source_occupation"),
        col("otherUri"), col("related_occupation"))
      .agg(sort_array(collect_set(col("skill"))).as("connecting_skills"))
      .withColumn("connection_type", lit("Direct"))
      .withColumn("n_connecting", size(col("connecting_skills")))
      .orderBy(desc("n_connecting"), col("source_uri"), col("otherUri"))
      .drop("otherUri", "n_connecting")
  }

  /** Occupations related to ONE anchor through the RELATED_SKILL bridge
    * (`analysis_queries.md:163-170`): anchor ←ESSENTIAL_FOR– s1
    * –RELATED_SKILL– s2 –ESSENTIAL_FOR→ other, undirected middle hop,
    * source and target skills collected separately. */
  def relatedOccupationsViaRelatedSkills(
      wh: EscoWarehouse, occLabel: String): DataFrame = {
    val anchor = wh.occupations
      .filter(col("preferredLabel") === occLabel)
      .select(col("conceptUri").as("occupationUri"),
        col("preferredLabel").as("source_occupation"))
    val undirected = wh.relatedSkillUndirected
    val skillLabels = wh.skills.select(col("conceptUri"), col("preferredLabel"))
    wh.essentialFor // anchor's skills s1
      .join(broadcast(anchor), Seq("occupationUri"))
      .select(col("skillUri").as("s1"), col("occupationUri").as("anchorUri"),
        col("source_occupation"))
      .join(undirected.select(col("srcUri").as("s1"), col("dstUri").as("s2")),
        Seq("s1"))
      .join(wh.essentialFor.select(col("skillUri").as("s2"),
        col("occupationUri").as("otherUri")), Seq("s2"))
      .filter(col("otherUri") =!= col("anchorUri")) // WHERE o1 <> o2
      .join(skillLabels.select(col("conceptUri").as("s1"),
        col("preferredLabel").as("source_skill")), Seq("s1"))
      .join(skillLabels.select(col("conceptUri").as("s2"),
        col("preferredLabel").as("target_skill")), Seq("s2"))
      .join(wh.occupations.select(col("conceptUri").as("otherUri"),
        col("preferredLabel").as("related_occupation")), Seq("otherUri"))
      // per-anchor-NODE grouping (see relatedOccupationsDirect)
      .groupBy(col("anchorUri").as("source_uri"), col("source_occupation"),
        col("otherUri"), col("related_occupation"))
      .agg(sort_array(collect_set(col("source_skill"))).as("source_skills"),
        sort_array(collect_set(col("target_skill"))).as("target_skills"))
      .withColumn("connection_type", lit("Indirect"))
      .orderBy(col("source_uri"), col("otherUri"))
      .drop("otherUri")
  }

  /** Skills essential to occupations of one ISCO group (3-hop chain
    * ISCO → occupation → skill, `analysis_queries.md:424-432` family). */
  def skillsForIscoGroup(wh: EscoWarehouse, iscoCode: String, k: Int = 20): DataFrame = {
    val group = wh.iscoGroups.filter(col("code") === iscoCode)
      .select(col("conceptUri").as("iscoUri"))
    wh.partOfIscoGroup
      .join(group, Seq("iscoUri"), "left_semi")
      .join(wh.essentialFor, Seq("occupationUri"))
      .join(wh.skills.select(col("conceptUri").as("skillUri"),
        col("preferredLabel")), Seq("skillUri"))
      .groupBy(col("skillUri"), col("preferredLabel"))
      .agg(countDistinct(col("occupationUri")).as("occupation_count"))
      .orderBy(desc("occupation_count"), col("skillUri"))
      .limit(k)
  }

  /** Skills shared between two occupations by label (J5,
    * `analysis_queries.md:156-160`). */
  def sharedSkills(wh: EscoWarehouse, occLabel1: String, occLabel2: String): DataFrame = {
    val occ = wh.occupations.select(col("conceptUri"), col("preferredLabel"))
    def skillsOf(label: String) = occ.filter(col("preferredLabel") === label)
      .join(wh.essentialFor.withColumnRenamed("occupationUri", "conceptUri"),
        Seq("conceptUri"))
      .select(col("skillUri"))
    skillsOf(occLabel1).intersect(skillsOf(occLabel2))
      .join(wh.skills.select(col("conceptUri").as("skillUri"),
        col("preferredLabel")), Seq("skillUri"))
      .orderBy(col("preferredLabel"))
  }

  /** ISCO hierarchy depth distribution (G1, `analysis_queries.md:87-90`):
    * variable-length BROADER_THAN* with Cypher path-counting semantics. */
  def iscoHierarchyDepths(wh: EscoWarehouse): DataFrame =
    hierarchyDepths(wh, wh.broaderIsco, maxDepth = 10)

  /** SkillGroup hierarchy depth distribution (G1 second instance,
    * `analysis_queries.md:107-110`) over the skill pillar. */
  def skillHierarchyDepths(wh: EscoWarehouse): DataFrame =
    hierarchyDepths(wh, wh.broaderSkill, maxDepth = 12)

  /** (depth, nodes, paths) of a parent→child hierarchy, walked from its
    * roots: parents that are nobody's child. */
  private def hierarchyDepths(
      wh: EscoWarehouse, hierarchy: DataFrame, maxDepth: Int): DataFrame = {
    val edges = wh.session.idEdges(hierarchy, "parentUri", "childUri")
    val roots = edges.select(col("src").as("id")).distinct()
      .join(edges.select(col("dst").as("id")).distinct(), Seq("id"), "left_anti")
    GraphOps.varLengthPaths(edges, roots, maxDepth)
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("nodes"), sum(col("n_paths")).as("paths"))
      .orderBy(col("depth"))
  }

  /** The vertex ids of the skills labelled `label1` and `label2`, the
    * shortest path's endpoints, resolved in one job. A label several
    * skills share resolves to the one with the smallest `conceptUri`, so
    * the endpoint never depends on partition order; a label no skill has
    * fails with a nameable IllegalArgumentException (the CLI surfaces the
    * message). */
  private def idsOfSkillLabels(
      wh: EscoWarehouse, label1: String, label2: String): (Long, Long) = {
    val ids = wh.skills
      .filter(col("preferredLabel").isin(label1, label2))
      .groupBy(col("preferredLabel"))
      .agg(Vertices.id(min(col("conceptUri"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def id(label: String) = ids.getOrElse(label,
      throw new IllegalArgumentException(s"no skill with preferredLabel '$label'"))
    (id(label1), id(label2))
  }

  /** Undirected shortest path length between two skills by label (G2,
    * `analysis_queries.md:138-141`); -1 when they are not connected
    * within 15 hops. */
  def shortestPathBetweenSkills(
      wh: EscoWarehouse, label1: String, label2: String): Int =
    shortestPathNodes(wh, label1, label2).size - 1

  /** Full G2 semantics: the shortest path's node labels in order (the
    * Cypher query returns the path object; `analysis_queries.md:138-141`).
    * The warehouse session's id edges ([[GraphSession.edges]], shared
    * with PageRank) are symmetrized, partitioned on `src` and persisted
    * for the call ([[GraphOps.shortestPath]]'s `edgesPrepared` contract):
    * every BFS level probes them instead of re-deriving their union, and
    * its join exchanges only the frontier, because the cached scan keeps
    * the `src` partitioning, which a checkpoint would not. */
  def shortestPathNodes(
      wh: EscoWarehouse, label1: String, label2: String): Seq[String] = {
    val (from, to) = idsOfSkillLabels(wh, label1, label2)
    val session = wh.session
    val e = session.edges
    val undirected = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ids =
      try GraphOps.shortestPath(undirected, from, to, maxDepth = 15, edgesPrepared = true)
      finally undirected.unpersist(blocking = false)
    val labelById = session.vertices
      .filter(col("id").isin(ids: _*))
      .select(col("id"), col("preferredLabel"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    ids.map(labelById)
  }

  /** Louvain proper over the skill-relation graph (G5,
    * `analysis_queries.md:237-242`): modularity-based communities like the
    * reference's GDS call; community ids differ (documented), the
    * partition itself is comparable. */
  def skillCommunitiesLouvain(wh: EscoWarehouse, levels: Int = 2): DataFrame =
    skillCommunitiesBy(wh)(graft.operators.Louvain.run(_, levels = levels)
      .select(col("id"), col("community").as("communityId")))

  /** LPA communities — the fast approximation (documented alternative to
    * Louvain above): returns (uri, label, communityId) ordered like the
    * Cypher. */
  def skillCommunities(wh: EscoWarehouse, iters: Int = 5): DataFrame =
    skillCommunitiesBy(wh)(GraphOps.labelPropagation(_, iters)
      .select(col("id"), col("label").as("communityId")))

  /** (uri, preferredLabel, communityId) of the RELATED_SKILL graph's
    * vertices, from `communities`' (id, communityId) over its id edges. */
  private def skillCommunitiesBy(wh: EscoWarehouse)(
      communities: DataFrame => DataFrame): DataFrame = {
    val session = wh.session
    session.labeled(communities(session.idEdges(wh.relatedSkill, "srcUri", "dstUri")))
      .select(col("uri"), col("preferredLabel"), col("communityId"))
      .orderBy(col("communityId"), col("preferredLabel")) // T3 multi-key sort
  }

  /** Combined direct + indirect skill connections (A7 multi-stage
    * aggregation, `analysis_queries.md:173-197`): for each skill, the
    * directly related skills and the 2-hop "related of related", collected
    * separately then combined — the Cypher `WITH collect … WITH collect`
    * pipeline as chained grouped aggregations. */
  def combinedConnections(wh: EscoWarehouse, k: Int = 20): DataFrame = {
    val undirected = wh.relatedSkillUndirected
    val labels = wh.skills.select(col("conceptUri"), col("preferredLabel"))
    val direct = undirected
      .join(labels.withColumnRenamed("conceptUri", "dstUri"), Seq("dstUri"))
      .groupBy(col("srcUri"))
      .agg(sort_array(collect_set(col("preferredLabel"))).as("direct_skills"))
    val twoHop = undirected.as("a")
      .join(undirected.as("b"), col("a.dstUri") === col("b.srcUri"))
      .filter(col("a.srcUri") =!= col("b.dstUri")) // P5 anti-self
      .select(col("a.srcUri").as("srcUri"), col("b.dstUri").as("indirect"))
      .join(labels.withColumnRenamed("conceptUri", "indirect"), Seq("indirect"))
      .groupBy(col("srcUri"))
      .agg(sort_array(collect_set(col("preferredLabel"))).as("indirect_skills"))
    direct
      .join(twoHop, Seq("srcUri"), "left_outer")
      .withColumn("indirect_skills", coalesce(col("indirect_skills"), array()))
      .join(labels.withColumnRenamed("conceptUri", "srcUri"), Seq("srcUri"))
      .withColumn("n_direct", size(col("direct_skills")))
      .orderBy(desc("n_direct"), col("srcUri"))
      .limit(k)
      .select(col("srcUri").as("uri"), col("preferredLabel"),
        col("direct_skills"), col("indirect_skills"))
  }

  /** 2-hop network extraction around one occupation (G9,
    * `analysis_queries.md:312-345`): its skills, and for each skill the
    * other occupations needing it — typed struct collections. */
  def occupationTwoHopNetwork(wh: EscoWarehouse, occLabel: String): DataFrame = {
    val anchor = wh.occupations
      .filter(col("preferredLabel") === occLabel)
      .select(col("conceptUri").as("occupationUri"))
    val skills = wh.essentialFor
      .join(anchor, Seq("occupationUri"), "left_semi")
      .join(wh.skills.select(col("conceptUri").as("skillUri"),
        col("preferredLabel").as("skill")), Seq("skillUri"))
    val otherOccs = skills
      .join(wh.essentialFor.withColumnRenamed("occupationUri", "otherOcc"),
        Seq("skillUri"))
      .join(anchor.withColumnRenamed("occupationUri", "otherOcc"),
        Seq("otherOcc"), "left_anti")
      .join(wh.occupations.select(col("conceptUri").as("otherOcc"),
        col("preferredLabel").as("occupation")), Seq("otherOcc"))
    otherOccs
      .groupBy(col("skillUri"), col("skill"))
      .agg(sort_array(collect_set(
        struct(col("occupation").as("occupation"),
          lit("Essential").as("type")))).as("also_needed_by"))
      .orderBy(col("skill"))
  }

  /** Every frame derived from one warehouse's tables, each built at most
    * once, by the first query that needs it. One rule places resident
    * frames: warehouse-derived frames live here, on the loaded warehouse
    * (`wh.session`, which every verb and `Profiles.profileSearch` read),
    * and embedder-derived frames live on the [[SemanticSearch]] engine.
    *
    * A vertex id is [[Vertices.id]] of its URI, so every edge table maps
    * to ids by projection ([[idEdges]]), and ranked ids get their URI and
    * label back by one join on `id` ([[labeled]]). The first use
    * materializes the vertex frame and runs the session's one collision
    * check over it. The vertex frame, the long-id edge list, THE one
    * symmetrized simple adjacency over it, the related-skill adjacency
    * and the two all-nodes profile frames are each materialized AT MOST
    * once (localCheckpoint — every frame has several downstream
    * consumers) instead of once per verb — the `adjPrepared` discipline
    * `GraphOps.linkPrediction` / `kCorePeel` honor. A session constructed
    * over `wh` is independent of `wh.session`; [[topBetweenness]] and
    * [[topTriangles]] accept one in its place. The `*Builds` counters
    * exist so EscoCliSpec can pin the build-once contract. */
  final class GraphSession(wh: EscoWarehouse) {
    private[graft] var vertexBuilds = 0
    private[graft] var graphBuilds = 0
    private[graft] var adjacencyBuilds = 0
    private[graft] var relatedBuilds = 0
    /** Every node as (id, uri, preferredLabel), collision-checked. The
      * checkpoint is lazy: the check's job is the one that materializes
      * it, so the nodes are read and hashed once. */
    lazy val vertices: DataFrame = {
      vertexBuilds += 1
      val v = wh.allNodes
        .select(Vertices.id(col("conceptUri")).as("id"),
          col("conceptUri").as("uri"), col("preferredLabel"))
        .localCheckpoint(false)
      Vertices.assertNoCollisions(v)
      v
    }
    /** `df`'s (`srcCol`, `dstCol`) URI pairs as (src, dst) vertex ids. */
    def idEdges(df: DataFrame, srcCol: String, dstCol: String): DataFrame = {
      vertices // no id leaves the session before the collision check ran
      df.select(Vertices.id(col(srcCol)).as("src"), Vertices.id(col(dstCol)).as("dst"))
    }
    /** `ranked` with each vertex's uri and preferredLabel, joined on `id`. */
    def labeled(ranked: DataFrame): DataFrame = ranked.join(vertices, Seq("id"))
    /** Every edge of the warehouse as (src, dst) vertex ids. */
    lazy val edges: DataFrame = {
      graphBuilds += 1
      idEdges(wh.allEdges, "srcUri", "dstUri").localCheckpoint(true)
    }
    /** `undirectedAdjacency` over the long-id edges — the
      * linkPrediction/kCorePeel `adjPrepared` shape, shared by
      * triangles + concept-core (+ any future undirected verb). */
    lazy val adjacency: DataFrame = {
      adjacencyBuilds += 1
      GraphOps.undirectedAdjacency(edges).localCheckpoint(true)
    }
    /** RELATED_SKILL adjacency (string URIs) for suggest-relations. */
    lazy val relatedSkillAdjacency: DataFrame = {
      relatedBuilds += 1
      GraphOps.undirectedAdjacency(
        wh.relatedSkill.select(col("srcUri").as("src"),
          col("dstUri").as("dst")))
        .localCheckpoint(true)
    }
    /** [[Profiles.skillRelatedGraph]] of every skill: the rows a skill
      * profile search joins its hits with. */
    lazy val skillProfiles: DataFrame =
      Profiles.skillRelatedGraph(wh, skillUris).localCheckpoint(eager = true)
    /** [[Profiles.occupationRelatedGraph]] of every occupation and skill:
      * every node a hit of an occupation or "both" search can be. */
    lazy val occupationProfiles: DataFrame =
      Profiles.occupationRelatedGraph(wh,
        wh.occupations.select(col("conceptUri").as("uri")).unionByName(skillUris))
        .localCheckpoint(eager = true)
    private def skillUris = wh.skills.select(col("conceptUri").as("uri"))
  }

  /** PageRank top-N over the full graph (companion centrality to G4;
    * GraphX-native). */
  def topPageRank(wh: EscoWarehouse, n: Int = 20, tol: Double = 0.001): DataFrame = {
    val s = wh.session
    s.labeled(GraphOps.pageRank(s.edges, tol))
      .select(col("uri"), col("preferredLabel"), col("rank"))
      .orderBy(desc("rank"), col("uri"))
      .limit(n)
  }

  /** [[topPageRank]]'s deterministic twin: integer micro-unit PageRank
    * ([[GraphOps.pageRankIntSync]]) — bit-reproducible across runs and
    * engines where GraphX's double accumulation is not; the variant to
    * reach for when centrality feeds a regression-tested pipeline. */
  def topPageRankExact(wh: EscoWarehouse, n: Int = 20, iters: Int = 10): DataFrame = {
    val s = wh.session
    s.labeled(GraphOps.pageRankIntSync(s.edges, iters))
      .select(col("uri"), col("preferredLabel"), col("pr").as("rank_micro"))
      .orderBy(desc("rank_micro"), col("uri"))
      .limit(n)
  }

  /** HITS hubs & authorities over the full concept graph in integer
    * micro-units ([[GraphOps.hitsIntSync]]) — separates "skills many
    * occupations require" (authorities on requirement edges) from
    * "occupations that require many central skills" (hubs), where plain
    * degree or PageRank conflates the two roles. Deterministic and
    * engine-replayable like [[topPageRankExact]]. */
  def topHitsExact(wh: EscoWarehouse, n: Int = 20, iters: Int = 4): DataFrame = {
    val s = wh.session
    s.labeled(GraphOps.hitsIntSync(s.edges, iters))
      .select(col("uri"), col("preferredLabel"),
        col("hub").as("hub_micro"), col("auth").as("auth_micro"))
      .orderBy(desc("auth_micro"), desc("hub_micro"), col("uri"))
      .limit(n)
  }

  /** Triangle-participation top-N over the full graph — graph-cohesion
    * centrality beyond the reference catalog ([[GraphOps.triangles]],
    * degree-ordered wedge join, hub-skew-immune), over the session's
    * symmetric adjacency: orientEdges canonicalizes it to the same simple
    * edge set as the raw edges. `session` replaces `wh.session` with a
    * caller's own [[GraphSession]] over `wh`. */
  def topTriangles(
      wh: EscoWarehouse,
      n: Int = 20,
      session: Option[GraphSession] = None): DataFrame = {
    val s = session.getOrElse(wh.session)
    s.labeled(GraphOps.triangleParticipation(
        s.adjacency.select(col("a").as("src"), col("b").as("dst"))))
      .select(col("uri"), col("preferredLabel"), col("n_triangles"))
      .orderBy(desc("n_triangles"), col("uri"))
      .limit(n)
  }

  /** k-core of the full graph ([[GraphOps.kCorePeel]]): the densely
    * interconnected taxonomy backbone that survives iterative removal of
    * weakly connected concepts — a graph-cleaning view the reference has
    * no equivalent for. The generous default round cap is effectively
    * run-to-fixpoint (kCorePeel early-exits the first no-op round, so a
    * converged graph never pays for the headroom); pass a small `rounds`
    * only when the bounded-round mid-peel view is wanted. */
  def conceptCore(wh: EscoWarehouse, k: Int = 3, rounds: Int = 100): DataFrame = {
    val s = wh.session
    s.labeled(GraphOps.kCorePeel(s.adjacency, k, rounds, adjPrepared = true))
      .select(col("uri"), col("preferredLabel"), col("core_degree"))
      .orderBy(desc("core_degree"), col("uri"))
  }

  /** Cluster the skill catalog by embedding — Lloyd's k-means in exact
    * integer micro-units ([[graft.operators.Similarity.Ivf.kMeansAssignInt]]):
    * the SemDeDup-style grouping step for near-duplicate skill discovery
    * and per-cluster curation, deterministic and engine-replayable like
    * [[topPageRankExact]]. Output: one row per embedded skill,
    * (uri, preferredLabel, cluster, d2), cluster-then-distance ordered
    * so each cluster reads nearest-first. */
  def clusterSkills(wh: EscoWarehouse, k: Int = 16, iters: Int = 2): DataFrame = {
    // localCheckpoint: kMeansAssignInt drives several actions (init
    // collect + one per iteration + final assignment) and the label
    // rejoin is one more — without it each re-runs the full embedding
    // pipeline over the catalog
    val base = new graft.vector.SemanticSearch(
        wh, new graft.vector.HashingEmbedder())
      .skillsIndexed
      .filter(col("embedding").isNotNull)
      .select(col("conceptUri"), col("preferredLabel"), col("embedding"))
      .localCheckpoint()
    graft.operators.Similarity.Ivf
      .kMeansAssignInt(base, "conceptUri", "embedding", k, iters)
      .join(base.select(col("conceptUri"), col("preferredLabel")),
        Seq("conceptUri"))
      .select(col("conceptUri").as("uri"), col("preferredLabel"),
        col("cell").as("cluster"), col("d2"))
      .orderBy(col("cluster"), col("d2"), col("uri"))
  }

  /** Least-novel skill descriptions ([[graft.operators.CorpusStats
    * .novelGramRate]] over the catalog in conceptUri order): descriptions
    * whose 3-grams mostly first appeared in EARLIER descriptions — the
    * template/boilerplate-description detector, the catalog-curation twin
    * of the corpus novelty lane. Output: (uri, preferredLabel, n_grams,
    * novel_grams, novel_permille), least novel first. */
  def descriptionNovelty(wh: EscoWarehouse, n: Int = 20): DataFrame = {
    val described = wh.skills
      .filter(col("description").isNotNull && length(col("description")) > 0)
      .select(col("conceptUri"), col("preferredLabel"), col("description"))
      .localCheckpoint() // feeds the gram pipeline AND the label rejoin
    graft.operators.CorpusStats
      .novelGramRate(described, "conceptUri", "description", nGram = 3)
      .join(described.select(col("conceptUri"), col("preferredLabel")),
        Seq("conceptUri"))
      .select(col("conceptUri").as("uri"), col("preferredLabel"),
        col("n_grams"), col("novel_grams"), col("novel_permille"))
      .orderBy(col("novel_permille"), col("uri"))
      .limit(n)
  }

  /** Deterministic fixed-count sample per catalog kind (skill vs skill
    * group — the Q1 dual-label axis, present in every warehouse
    * generation; `skillType` is not persisted)
    * ([[graft.operators.Sampling.stratifiedFixedSample]]): the balanced
    * review/eval subset a curation pass pulls from the catalog —
    * content-addressed, so reruns and catalog growth elsewhere never
    * reshuffle a stratum's picks beyond the hash order. */
  def sampleSkills(wh: EscoWarehouse, k: Int = 5): DataFrame = {
    val typed = wh.skills
      .select(col("conceptUri"), col("preferredLabel"),
        when(col("isSkillGroup"), lit("skill-group")).otherwise(lit("skill"))
          .as("kind"))
      .localCheckpoint() // sample + label rejoin
    graft.operators.Sampling
      .stratifiedFixedSample(typed, "conceptUri", "kind", k,
        salt = "esco-sample")
      .join(typed.select(col("conceptUri"), col("preferredLabel")),
        Seq("conceptUri"))
      .select(col("kind"), col("sample_rank"),
        col("conceptUri").as("uri"), col("preferredLabel"))
      .orderBy(col("kind"), col("sample_rank"))
  }

  /** BPE merge table trained on the skill labels
    * ([[graft.operators.CorpusStats.bpeTrain]]): the catalog-local
    * tokenizer a search/embedding layer would train over its own label
    * vocabulary — subword merges concentrate on the catalog's
    * morphology ("-ing", "-tion", domain stems). Driver-held merge
    * table, vocabulary-bounded rounds. Output: (step, left, right,
    * pair_count). */
  def labelBpeMerges(wh: EscoWarehouse, steps: Int = 8): DataFrame =
    graft.operators.CorpusStats.bpeTrain(
      wh.skills.select(col("preferredLabel").as("text")), "text", steps)

  /** Label-vocabulary cardinality, sketch vs exact — the observability
    * row a catalog-refresh pipeline logs each run: the KMV bottom-k
    * estimate and the HLL micro-estimate ([[graft.operators.Sketches]])
    * NEXT TO the exact distinct token count, self-verifying in the
    * rows-only-lane convention (the estimates must bracket the truth,
    * pinned in EscoCliSpec). One row. */
  def labelCardinality(wh: EscoWarehouse): DataFrame = {
    val labels = wh.skills.select(col("preferredLabel").as("text"))
      .localCheckpoint() // three scans below
    val exact = labels
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("tok"))
      .filter(length(col("tok")) > 0)
      .agg(countDistinct(col("tok")).as("exact_distinct"))
    val kmv = graft.operators.Sketches.kmvDistinct(labels, "text", k = 64)
      .select(col("est_distinct").as("kmv_est"))
    val hll = graft.operators.Sketches.hllEstimate(
      graft.operators.Sketches.hllRegisters(labels, "text", p = 6), p = 6)
      .select(col("est_micro").as("hll_est_micro"))
    exact.crossJoin(kmv).crossJoin(hll) // three one-row frames
  }

  /** Vocabulary similarity between the catalog's text domains — skill,
    * skill-group and occupation label+description vocabularies — via
    * [[graft.operators.Sketches.sourceJaccard]] bottom-k sketches: the
    * "are these text domains interchangeable for a shared
    * tokenizer/embedder?" table a catalog-curation pass logs (low
    * skill↔occupation overlap argues for domain-specific models).
    * All pair work on k-bounded sketches; one catalog scan.
    * Output: (src_a, src_b, union_kept, inter_k, est_jaccard_micro). */
  def kindVocabularySimilarity(wh: EscoWarehouse, k: Int = 64): DataFrame = {
    val skillTexts = wh.skills.select(
      when(col("isSkillGroup"), lit("skill-group")).otherwise(lit("skill"))
        .as("kind"),
      concat_ws(" ", col("preferredLabel"), col("description")).as("text"))
    val occTexts = wh.occupations.select(
      lit("occupation").as("kind"),
      concat_ws(" ", col("preferredLabel"), col("description")).as("text"))
    graft.operators.Sketches.sourceJaccard(
        skillTexts.unionByName(occTexts), "kind", "text", k)
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Suggest MISSING related-skill edges by link prediction over the
    * RELATED_SKILL graph ([[graft.operators.GraphOps.linkPrediction]]):
    * skill pairs that share many related skills but are not themselves
    * related — the classic common-neighbor / Adamic–Adar recommender,
    * here proposing catalog-curation candidates. Already-related pairs
    * are anti-joined away. Output: (uri_a, label_a, uri_b, label_b,
    * common_neighbors, aa_micro), strongest first. */
  def suggestedRelations(wh: EscoWarehouse, n: Int = 20): DataFrame = {
    val existing = wh.relatedSkill
      .select(least(col("srcUri"), col("dstUri")).as("node_a"),
        greatest(col("srcUri"), col("dstUri")).as("node_b"))
      .distinct()
    val labels = wh.skills.select(col("conceptUri"), col("preferredLabel"))
    val predicted = graft.operators.GraphOps.linkPrediction(
      wh.session.relatedSkillAdjacency,
      maxNeighbors = 64, adjPrepared = true)
    predicted
      .join(existing, Seq("node_a", "node_b"), "left_anti")
      .join(labels.select(col("conceptUri").as("node_a"),
        col("preferredLabel").as("label_a")), Seq("node_a"))
      .join(labels.select(col("conceptUri").as("node_b"),
        col("preferredLabel").as("label_b")), Seq("node_b"))
      .select(col("node_a").as("uri_a"), col("label_a"),
        col("node_b").as("uri_b"), col("label_b"),
        col("common_neighbors"), col("aa_micro"))
      .orderBy(desc("common_neighbors"), desc("aa_micro"),
        col("uri_a"), col("uri_b"))
      .limit(n)
  }

  /** Betweenness centrality top-N over the full graph (G4,
    * `analysis_queries.md:221-227`) — sampled Brandes; the reference's GDS
    * call is exact, divergence documented (SURVEY §7.5). `session`
    * replaces `wh.session` with a caller's own [[GraphSession]] over `wh`. */
  def topBetweenness(
      wh: EscoWarehouse,
      n: Int = 20,
      sampleK: Int = 16,
      session: Option[GraphSession] = None): DataFrame = {
    val s = session.getOrElse(wh.session)
    s.labeled(graft.operators.Betweenness.approx(s.edges, k = sampleK))
      .select(col("uri"), col("preferredLabel"),
        col("betweenness"), col("scaled"))
      .orderBy(desc("betweenness"), col("uri"))
      .limit(n)
  }

  /** Stored-vs-stored similarity join: skills similar to a named skill and
    * the occupations needing them (J8, `analysis_queries.md:511-522`). */
  def similarSkillsWithOccupations(
      wh: EscoWarehouse,
      search: SemanticSearch,
      skillLabelContains: String,
      threshold: Double = 0.6,
      k: Int = 10): DataFrame = {
    val indexed = search.skillsIndexed
    val anchor = indexed
      .filter(col("preferredLabel").contains(skillLabelContains)) // P7
      .select(col("embedding").as("anchor_vec"),
        col("conceptUri").as("anchor_uri"))
      // total order before LIMIT: several labels can contain the substring
      // and an unordered limit(1) is partition-order-dependent
      .orderBy(col("anchor_uri"))
      .limit(1)
    val similar = indexed
      .crossJoin(broadcast(anchor))
      .filter(col("conceptUri") =!= col("anchor_uri")) // P5
      .withColumn("score",
        GraftFunctions.cosineSim(col("embedding"), col("anchor_vec")))
      .filter(col("score") > threshold)
      .orderBy(desc("score"), col("conceptUri"))
      .limit(k)
      .select(col("conceptUri").as("skillUri"),
        col("preferredLabel").as("similar_skill"), col("score"))
    similar
      .join(wh.essentialFor, Seq("skillUri"), "left_outer")
      .join(wh.occupations.select(col("conceptUri").as("occupationUri"),
        col("preferredLabel").as("occupation")), Seq("occupationUri"), "left_outer")
      .groupBy(col("skillUri"), col("similar_skill"), col("score"))
      .agg(sort_array(collect_set(col("occupation"))).as("occupations"))
      .orderBy(desc("score"), col("skillUri"))
  }
}
