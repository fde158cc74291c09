package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.analytics.EscoAnalytics
import graft.enrich.{IdentityTranslator, Translate}
import graft.profile.Profiles
import graft.sources.EscoWarehouse
import graft.vector.{HashingEmbedder, SemanticSearch}

/** Thin CLI mirroring the reference's `esco_cli.py` subcommands
  * (reference: `src/esco_cli.py:225-374`): ingest / search / analyze /
  * translate, JSON output parity for search results
  * (`src/esco_cli.py:92-94`). All heavy lifting stays in the library.
  *
  * Usage:
  *   ingest    <escoCsvDir> <warehouseDir> [--embed] [--embeddings-only]
  *             [--delete-all]
  *   search    <warehouseDir> <query> [--type skill|occupation|both]
  *             [--threshold 0.5] [--limit 10] [--json]
  *             [--profile-search | --related]
  *   analyze   <warehouseDir> <queryName>
  *   analyze   <warehouseDir> related-occupations <occLabel> [--bridge]
  *   analyze   <warehouseDir> skill-profile <skillLabel>
  *   analyze   <warehouseDir> shortest-path <label1> <label2>
  *   analyze   <warehouseDir> viz-graph <occLabel>
  *   analyze   <warehouseDir> skill-viz-graph <skillLabel>
  *   curate    <documentsParquet> <outDir>
  *   translate <warehouseDir> <property>
  */
object EscoCli {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "graft-esco-cli")
    try run(spark, args.toList)
    finally spark.stop()
  }

  private[cli] def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "ingest" :: escoDir :: whDir :: rest =>
      val opts = parseOpts(rest)
      if (opts.contains("embeddings-only")) {
        // reference `ingest --embeddings-only` (src/esco_cli.py:221):
        // regenerate the vector index over an existing warehouse
        val wh = EscoWarehouse.load(spark, whDir)
        new SemanticSearch(wh, new HashingEmbedder()).persistIndex(whDir)
        println(s"embeddings refreshed under $whDir")
      } else {
        // reference `--delete-all` (src/esco_cli.py:222) = S7 full wipe;
        // parquet overwrite mode already replaces every table, so the
        // flag only forces removal of tables a schema change orphaned.
        // Wipe AFTER the source builds — a typo'd escoDir must fail
        // before the existing warehouse is destroyed.
        val wh = EscoWarehouse.build(spark, escoDir)
        if (opts.contains("delete-all")) {
          val dir = new java.io.File(whDir)
          if (dir.exists()) {
            def rm(f: java.io.File): Unit = {
              // listFiles is null on IO/permission races, not just empty
              Option(f.listFiles()).foreach(_.foreach(rm))
              f.delete(): Unit
            }
            rm(dir)
          }
        }
        EscoWarehouse.save(wh, whDir)
        // reference ingest ends with embedding generation
        // (src/esco_ingest.py:410-412); one columnar pass here
        if (opts.contains("embed"))
          new SemanticSearch(wh, new HashingEmbedder()).persistIndex(whDir)
        val counts = Seq(
          "skills" -> wh.skills.count(),
          "occupations" -> wh.occupations.count(),
          "iscoGroups" -> wh.iscoGroups.count(),
          "edges" -> wh.allEdges.count())
        counts.foreach { case (k, v) => println(f"$k%-12s $v") }
      }

    case "search" :: whDir :: query :: rest =>
      val opts = parseOpts(rest)
      val wh = EscoWarehouse.load(spark, whDir)
      val search = new SemanticSearch(wh, new HashingEmbedder())
      val nodeType = opts.getOrElse("type", "both")
      val threshold = opts.getOrElse("threshold", "0.5").toDouble
      val limit = opts.getOrElse("limit", "10").toInt
      // --profile-search (and its alias --related): hits + related graph
      // in ONE plan (reference did 1 + k round trips)
      val result =
        if (opts.contains("profile-search") || opts.contains("related"))
          Profiles.profileSearch(wh, search, query, nodeType, threshold, limit)
        else search.search(query, nodeType, threshold, limit)
      if (opts.contains("json")) printJson(result) else printTable(result)

    case "analyze" :: whDir :: queryName :: Nil =>
      val wh = EscoWarehouse.load(spark, whDir)
      printTable(analyzeOne(wh, queryName))

    // several catalog analyses in ONE invocation share the loaded
    // warehouse, and so its session: warehouse-derived frames (the
    // collision-checked vertex frame, the id edges, THE one symmetric
    // adjacency) live on the warehouse and materialize once instead of
    // once per verb (`esco analyze <wh> triangles suggest-relations
    // pagerank-exact ...`). Guarded on every name being a catalog verb
    // so the anchored label-argument forms below (related-occupations
    // <label> etc.) are never swallowed.
    case "analyze" :: whDir :: names
        if names.size >= 2 && names.forall(catalogNames.contains) =>
      val wh = EscoWarehouse.load(spark, whDir)
      for (name <- names) {
        println(s"== $name ==")
        printTable(analyzeOne(wh, name))
      }

    // anchored analyses that need a label argument
    case "analyze" :: whDir :: "related-occupations" :: occLabel :: rest =>
      val opts = parseOpts(rest)
      val wh = EscoWarehouse.load(spark, whDir)
      val df =
        if (opts.contains("bridge"))
          EscoAnalytics.relatedOccupationsViaRelatedSkills(wh, occLabel)
        else EscoAnalytics.relatedOccupationsDirect(wh, occLabel)
      printTable(df)

    case "analyze" :: whDir :: "skill-profile" :: skillLabel :: Nil =>
      val wh = EscoWarehouse.load(spark, whDir)
      val anchors = wh.skills
        .filter(col("preferredLabel") === skillLabel)
        .select(col("conceptUri").as("uri"))
      printTable(Profiles.skillCompleteProfile(wh, anchors))

    // G2: the path object itself, like the reference's shortestPath Cypher
    case "analyze" :: whDir :: "shortest-path" :: label1 :: label2 :: Nil =>
      val wh = EscoWarehouse.load(spark, whDir)
      try {
        val path = EscoAnalytics.shortestPathNodes(wh, label1, label2)
        if (path.isEmpty)
          println(s"no path between '$label1' and '$label2' (within depth 15)")
        else
          println(s"length=${path.length - 1}  ${path.mkString(" -> ")}")
      } catch {
        // unknown label: a usage-level message, not a stack trace — but
        // still a nonzero exit so scripted callers see the failure
        case e: IllegalArgumentException =>
          System.err.println(e.getMessage)
          sys.exit(1)
      }

    case "analyze" :: whDir :: "viz-graph" :: occLabel :: Nil =>
      val wh = EscoWarehouse.load(spark, whDir)
      val anchors = wh.occupations
        .filter(col("preferredLabel") === occLabel)
        .select(col("conceptUri").as("uri"))
      printTable(Profiles.occupationVizGraph(wh, anchors))

    case "analyze" :: whDir :: "skill-viz-graph" :: skillLabel :: Nil =>
      val wh = EscoWarehouse.load(spark, whDir)
      val anchors = wh.skills
        .filter(col("preferredLabel") === skillLabel)
        .select(col("conceptUri").as("uri"))
      printTable(Profiles.skillVizGraph(wh, anchors))

    case "curate" :: docsParquet :: outDir :: Nil =>
      val docs = spark.read.parquet(docsParquet)
      val (curated, dropped) = graft.operators.Curation.curate(
        docs, "doc_id", "text",
        graft.operators.Curation.Config(keepLangs =
          Seq("en", "fr", "es", "de", "und")))
      curated.write.mode("overwrite").parquet(s"$outDir/curated")
      dropped.write.mode("overwrite").parquet(s"$outDir/dropped")
      val stats = dropped.groupBy(col("drop_reason")).count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
      // count from the (cached) pipeline frame, not a re-read of the sink
      println(s"kept=${curated.count()} dropped: $stats")

    case "translate" :: whDir :: property :: Nil =>
      val wh = EscoWarehouse.load(spark, whDir)
      val translated = Translate.translateProperty(
        wh.occupations, property, new IdentityTranslator("he:"))
      // S6 columnar write-back: rewrite the table, not per-node round-trips
      translated.write.mode("overwrite").parquet(s"$whDir/occupations_translated")
      println(s"translated ${Translate.propertyMap.getOrElse(property, property)} " +
        s"-> $whDir/occupations_translated")

    // a multi-verb analyze with a typo in ONE name used to fall through
    // to the generic usage blob (unlike the single-verb path, which
    // names the bad verb) — if any name is a catalog verb, say exactly
    // which of the others were not. Matched AFTER the anchored
    // label-argument forms above, so `related-occupations <label>` etc.
    // are never swallowed.
    case "analyze" :: _ :: names
        if names.size >= 2 && names.exists(catalogNames.contains) =>
      System.err.println(unknownVerbMessage(names))
      sys.exit(2)

    case _ =>
      System.err.println(
        """usage:
          |  ingest    <escoCsvDir> <warehouseDir> [--embed] [--embeddings-only] [--delete-all]
          |  search    <warehouseDir> <query> [--type T] [--threshold X] [--limit N] [--json]
          |            [--profile-search | --related]
          |  analyze   <warehouseDir> <queryName>   (node-counts rel-counts
          |            top-essential-skills top-optional-skills top-occupations
          |            isco-most-occupations skill-cooccurrence isco-depths
          |            skill-depths communities communities-louvain betweenness
          |            pagerank pagerank-exact hits-exact triangles concept-core
          |            cluster-skills label-bpe label-cardinality
          |            suggest-relations description-novelty sample-skills
          |            kind-vocab-similarity
          |            top-skills-by-relationships
          |            top-occupations-optional transferable-skills
          |            skill-groups-most-skills combined-connections)
          |  analyze   <warehouseDir> <q1> <q2> ...   (several catalog verbs
          |            share ONE graph build per invocation)
          |  analyze   <warehouseDir> related-occupations <occLabel> [--bridge]
          |  analyze   <warehouseDir> skill-profile <skillLabel>
          |  analyze   <warehouseDir> shortest-path <label1> <label2>
          |  analyze   <warehouseDir> viz-graph <occLabel>
          |  analyze   <warehouseDir> skill-viz-graph <skillLabel>
          |  curate    <documentsParquet> <outDir>
          |  translate <warehouseDir> <property>""".stripMargin)
      sys.exit(2)
  }

  /** One catalog analysis by name; graph-family verbs take their vertex
    * ids and graph frames from `wh`'s session, so the verbs of one
    * invocation share them. */
  private[cli] def analyzeOne(
      wh: EscoWarehouse, queryName: String): DataFrame = queryName match {
    case "node-counts" => EscoAnalytics.nodeCounts(wh)
    case "rel-counts" => EscoAnalytics.relationshipCounts(wh)
    case "top-essential-skills" => EscoAnalytics.topEssentialSkills(wh)
    case "top-optional-skills" => EscoAnalytics.topOptionalSkills(wh)
    case "top-occupations" => EscoAnalytics.topOccupationsByEssentialSkills(wh)
    case "isco-most-occupations" => EscoAnalytics.iscoGroupsWithMostOccupations(wh)
    case "skill-cooccurrence" => EscoAnalytics.skillCooccurrence(wh)
    case "isco-depths" => EscoAnalytics.iscoHierarchyDepths(wh)
    case "communities" => EscoAnalytics.skillCommunities(wh)
    case "communities-louvain" => EscoAnalytics.skillCommunitiesLouvain(wh)
    case "betweenness" => EscoAnalytics.topBetweenness(wh)
    case "pagerank" => EscoAnalytics.topPageRank(wh)
    case "pagerank-exact" => EscoAnalytics.topPageRankExact(wh)
    case "hits-exact" => EscoAnalytics.topHitsExact(wh)
    case "triangles" => EscoAnalytics.topTriangles(wh)
    case "concept-core" => EscoAnalytics.conceptCore(wh)
    case "cluster-skills" => EscoAnalytics.clusterSkills(wh)
    case "label-bpe" => EscoAnalytics.labelBpeMerges(wh)
    case "label-cardinality" => EscoAnalytics.labelCardinality(wh)
    case "suggest-relations" => EscoAnalytics.suggestedRelations(wh)
    case "description-novelty" => EscoAnalytics.descriptionNovelty(wh)
    case "sample-skills" => EscoAnalytics.sampleSkills(wh)
    case "kind-vocab-similarity" =>
      EscoAnalytics.kindVocabularySimilarity(wh)
    case "top-skills-by-relationships" =>
      EscoAnalytics.topSkillsByRelationships(wh)
    case "top-occupations-optional" =>
      EscoAnalytics.topOccupationsByOptionalSkills(wh)
    case "transferable-skills" => EscoAnalytics.transferableSkills(wh)
    case "skill-groups-most-skills" =>
      EscoAnalytics.skillGroupsWithMostSkills(wh)
    case "skill-depths" => EscoAnalytics.skillHierarchyDepths(wh)
    case "combined-connections" => EscoAnalytics.combinedConnections(wh)
    case other => sys.error(
      s"unknown analysis '$other'; see EscoAnalytics for the catalog")
  }

  /** Names [[analyzeOne]] accepts — the multi-verb guard. */
  private[cli] val catalogNames: Set[String] = Set(
    "node-counts", "rel-counts", "top-essential-skills",
    "top-optional-skills", "top-occupations", "isco-most-occupations",
    "skill-cooccurrence", "isco-depths", "communities",
    "communities-louvain", "betweenness", "pagerank", "pagerank-exact",
    "hits-exact", "triangles", "concept-core", "cluster-skills",
    "label-bpe", "label-cardinality", "suggest-relations",
    "description-novelty", "sample-skills", "kind-vocab-similarity",
    "top-skills-by-relationships", "top-occupations-optional",
    "transferable-skills", "skill-groups-most-skills", "skill-depths",
    "combined-connections")

  /** Error line for a multi-verb analyze carrying names outside
    * [[catalogNames]]: name exactly the unrecognized ones (the
    * single-verb path already errors with the bad name; falling through
    * to the generic usage blob hid WHICH of five verbs was mistyped). */
  private[cli] def unknownVerbMessage(names: Seq[String]): String = {
    val unknown = names.filterNot(catalogNames.contains)
    s"analyze: unknown quer${if (unknown.size == 1) "y" else "ies"} " +
      s"${unknown.mkString(", ")} (known catalog verbs: " +
      s"${catalogNames.toSeq.sorted.mkString(" ")})"
  }

  private def parseOpts(rest: List[String]): Map[String, String] = {
    def loop(xs: List[String], acc: Map[String, String]): Map[String, String] = xs match {
      case "--json" :: t => loop(t, acc + ("json" -> "true"))
      case "--embed" :: t => loop(t, acc + ("embed" -> "true"))
      case "--embeddings-only" :: t => loop(t, acc + ("embeddings-only" -> "true"))
      case "--delete-all" :: t => loop(t, acc + ("delete-all" -> "true"))
      case "--related" :: t => loop(t, acc + ("related" -> "true"))
      case "--bridge" :: t => loop(t, acc + ("bridge" -> "true"))
      case "--profile-search" :: t => loop(t, acc + ("profile-search" -> "true"))
      case k :: v :: t if k.startsWith("--") => loop(t, acc + (k.drop(2) -> v))
      case Nil => acc
      case other => sys.error(s"bad options: $other")
    }
    loop(rest, Map.empty)
  }

  private def printTable(df: DataFrame): Unit = df.show(50, truncate = false)

  /** JSON lines, reference `esco_cli.py --output json` parity. */
  private def printJson(df: DataFrame): Unit =
    df.toJSON.collect().foreach(println)
}
