package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftFunctions
import graft.functions.VectorOps
import graft.operators.Barriers
import graft.sources.EscoWarehouse

/** Pluggable text embedder (SURVEY M1/M2).
  *
  * The reference embeds with sentence-transformers MiniLM-L6-v2, 384-dim
  * (reference: `src/embedding_utils.py:8-20`) — a Python-only model. The
  * engine treats the embedder as a trait: `HashingEmbedder` is the
  * deterministic zero-egress implementation (feature hashing, same math on
  * executors via the `hash_embed` Catalyst expression and on the driver for
  * query strings); an ONNX MiniLM implementation would slot in behind the
  * same trait without touching any query code.
  */
trait TextEmbedder extends Serializable {
  def dim: Int
  /** Add `outCol: array<float>` embedding of `textCol`. */
  def embed(df: DataFrame, textCol: Column, outCol: String): DataFrame
  /** Driver-side embedding of one query string (the reference also embeds
    * the query client-side, `src/semantic_search.py:54`). */
  def embedQuery(text: String): Seq[Float]
}

final class HashingEmbedder(override val dim: Int = 384) extends TextEmbedder {
  override def embed(df: DataFrame, textCol: Column, outCol: String): DataFrame =
    df.withColumn(outCol, GraftFunctions.hashEmbed(textCol, dim))
  override def embedQuery(text: String): Seq[Float] = {
    val a = VectorOps.hashEmbed(text, dim)
    (0 until dim).map(a.getFloat)
  }
}

/** Character-trigram feature-hashing embedder: same trait, subword
  * granularity — robust to token variants ("developer"/"developers" share
  * most trigrams where word hashing sees disjoint tokens). Executor side
  * runs the composed Column plan (pad → trigrams → hashed bag), the driver
  * side replays identical math for query strings. */
final class CharNgramEmbedder(override val dim: Int = 384, n: Int = 3)
    extends TextEmbedder {
  import org.apache.spark.sql.functions._

  private def grams(text: String): Seq[String] = {
    // boundary pad, then '_' for spaces so downstream whitespace
    // tokenization can't split a gram. Locale.ROOT + code-point windows
    // give ASCII-EXACT driver/executor parity with Spark's lower() and
    // code-point-based substr(). Caveat: Spark's UTF8String.toLowerCase
    // fast-paths ASCII but delegates its non-ASCII slow path to the
    // default-locale String.toLowerCase, so on non-ASCII text under a
    // non-ROOT default JVM locale (e.g. Turkish dotted-I) executors can
    // still diverge from this ROOT-locale replay — pin -Duser.language on
    // the cluster if non-ASCII query parity matters.
    val padded =
      "_" + text.toLowerCase(java.util.Locale.ROOT).replace(' ', '_') + "_"
    val cps = padded.codePoints().toArray
    if (cps.length < n) Seq(padded)
    else (0 to cps.length - n).map(i => new String(cps, i, n))
  }

  override def embed(df: DataFrame, textCol: Column, outCol: String): DataFrame = {
    // reuse the executor-side hash_embed over space-joined trigrams so both
    // embedders share one audited normalization/hash path. Pure Column
    // composition (no UDF): the gramming stays inside WholeStageCodegen.
    val padded = concat(lit("_"), translate(lower(textCol), " ", "_"), lit("_"))
    val joined = array_join(
      transform(
        // shorter-than-n input yields the single padded string, exactly
        // like the driver-side grams()
        sequence(lit(1), greatest(length(padded) - lit(n - 1), lit(1))),
        i => padded.substr(i, lit(n))),
      " ")
    // null text → null embedding (array_join would otherwise swallow the
    // null into "", giving every null-text row the SAME vector — two null
    // rows must not score cosine 1.0 against each other)
    val gramsCol = when(textCol.isNull, lit(null).cast("string"))
      .otherwise(joined)
    df.withColumn(outCol, GraftFunctions.hashEmbed(gramsCol, dim))
  }

  override def embedQuery(text: String): Seq[Float] = {
    val a = VectorOps.hashEmbed(grams(text).mkString(" "), dim)
    (0 until dim).map(a.getFloat)
  }
}

/** Engine-portable bulk embedding: the md5 verification twin of the
  * murmur `hash_embed` expression (same pattern as graft.operators.Dedup's
  * `*Portable` signature family). Same feature-hashing shape — token →
  * (slot, ±1) → signed bag → L2 normalize — but the token hash is md5-32
  * and the aggregation is relational, so a SQL oracle replays every float
  * bit-for-bit: slot counts are exact integers, and the only float ops
  * (1/√norm, one multiply, one float cast) are correctly-rounded IEEE
  * steps identical in any engine. The murmur expression stays the 100 TB
  * default (~2× cheaper hashing, zero shuffle); this path's shuffle is
  * bounded at `dim` partial-aggregated rows per document after map-side
  * combine — never the token stream.
  */
object PortableHashEmbedder {

  /** The UNNORMALIZED integer accumulator frame behind [[embed]]:
    * (idCol, accs array<long>) for every distinct input id. Exposed
    * because exact-integer consumers (hybrid retrieval's cosine, which
    * ranks on `dot/sqrt(normA·normB)` computed from these longs in ONE
    * IEEE sqrt + division, so the ordering replays bit-for-bit
    * cross-engine) want the accumulators, not the float-rounded unit
    * vectors. A NULL text accumulates to the zero vector, exactly as
    * the SQL replay's dense grid does (an explode-side drop would
    * silently lose the row). */
  def accumulate(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    val toks = df.select(col(idCol),
      explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
    val h = graft.functions.PortableHash.h32(col("tok"))
    val slotted = toks.select(col(idCol),
      (shiftright(h, 1) % dim).cast("int").as("slot"),
      when(h % 2 === 0, 1L).otherwise(-1L).as("sign"))
    val acc = slotted.groupBy(col(idCol), col("slot"))
      .agg(sum(col("sign")).as("acc"))
    val bags = acc.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("slot"), col("acc"))))
        .as("m"))
    // dense grid over ALL input ids: a NULL-text row has no token rows
    // (explode drops them), so it re-enters here with a null map and
    // falls out as the zero vector — element_at(NULL, j) is null → 0
    df.select(col(idCol)).distinct()
      .join(bags, Seq(idCol), "left")
      .select(col(idCol), transform(sequence(lit(0), lit(dim - 1)),
        j => coalesce(element_at(col("m"), j), lit(0L))).as("accs"))
  }

  /** (idCol, embedding array<float>) for every distinct input id —
    * ids must be unique non-null (the usual corpus contract); a NULL
    * text embeds to the zero vector ([[accumulate]] holds the zero
    * accumulator for it). */
  def embed(df: DataFrame, idCol: String, textCol: String, dim: Int): DataFrame = {
    val dense = accumulate(df, idCol, textCol, dim)
    val norm = aggregate(col("accs"), lit(0L), (s, x) => s + x * x)
    val inv = when(norm === 0L, lit(0.0))
      .otherwise(lit(1.0) / sqrt(norm.cast("double")))
    dense.select(col(idCol),
      transform(col("accs"), x => (x.cast("double") * inv).cast("float"))
        .as("embedding"))
  }
}

/** Semantic search over the warehouse (SURVEY V1, `src/semantic_search.py`).
  *
  * Faithful to the reference's *actual* execution: a brute-force scored
  * scan with strict `score > threshold` and top-k (the Neo4j vector index
  * it creates is never used by its search path — SURVEY §4.1). Spark plans
  * the top-k as TakeOrderedAndProject: no global sort, no corpus shuffle.
  * The scale path (LSH / IVF) lives in graft.operators.Similarity.
  *
  * Resident read index. Like the reference, which embeds every node once
  * at ingest (`src/esco_ingest.py:332-389`) and scans the stored vectors
  * per query, an engine embeds each node type once: the first search of a
  * type materializes (`conceptUri`, `preferredLabel`, `description`,
  * `embedding`) with null embeddings removed, and every later search of
  * that type scans the resident frame. One rule places every resident
  * frame: embedder-derived frames (these two corpora) live on the engine,
  * and warehouse-derived frames (the profile rows, the graph frames) live
  * on the loaded warehouse. Nothing is built at construction: the first
  * query of each kind pays the build. The corpora are eager local
  * checkpoints and live as long as the engine: Spark's ContextCleaner
  * frees their blocks once the engine is garbage collected. An engine
  * therefore answers from the warehouse as it was at its first query of
  * each type, not from later writes to the warehouse's files; build one
  * engine per warehouse and reuse it for every query.
  * [[skillsIndexed]] and [[occupationsIndexed]] stay lazy plans, so
  * [[persistIndex]] and the analytics that embed the corpus read the
  * warehouse as it is.
  */
class SemanticSearch(wh: EscoWarehouse, embedder: TextEmbedder) {

  /** Embedding text: label + altLabels + description (reference F6,
    * `src/embedding_utils.py:24-29`; nulls skipped by concat_ws rather
    * than Python's "nan" artifact — documented divergence). */
  private def embedText: Column =
    concat_ws(". ", col("preferredLabel"), col("altLabels"), col("description"))

  /** Skills with embeddings (includes SkillGroups per Q1 — faithful:
    * `MATCH (s:Skill)` sees them too). */
  lazy val skillsIndexed: DataFrame =
    embedder.embed(wh.skills, embedText, "embedding")

  lazy val occupationsIndexed: DataFrame =
    embedder.embed(wh.occupations, embedText, "embedding")

  /** The columns a search reads, rows without an embedding removed (P2),
    * kept for the engine's lifetime (an eager local checkpoint), so every
    * later query scans the materialized rows instead of re-deriving the
    * plan from Parquet. A checkpoint, not a `persist`: the CacheManager
    * would share a cached plan between engines over the same files. */
  private def embedded(indexed: DataFrame): DataFrame = indexed
    .filter(col("embedding").isNotNull)
    .select(col("conceptUri"), col("preferredLabel"), col("description"),
      col("embedding"))
    .localCheckpoint(eager = true)

  private lazy val skillsEmbedded = embedded(skillsIndexed)
  private lazy val occupationsEmbedded = embedded(occupationsIndexed)

  /** Materialize the embedding columns to Parquet (S5 write-back as a
    * columnar rewrite — the reference does 2 Bolt round-trips per node,
    * `src/esco_ingest.py:350-386`; here it is one pass per table). The
    * two writes are independent, so they run as one concurrent
    * [[Barriers.buildAll]] wave. */
  def persistIndex(dir: String): Unit = {
    val writes = Seq(skillsIndexed -> "skills_indexed",
      occupationsIndexed -> "occupations_indexed")
    Barriers.buildAll(wh.skills.sparkSession)(writes.map { case (df, n) =>
      () => df.write.mode("overwrite").parquet(s"$dir/$n")
    }: _*)
  }

  /** `is_data_indexed` semi-join probe (reference `src/semantic_search.py:14-37`). */
  def isDataIndexed: Boolean =
    !skillsIndexed.filter(col("embedding").isNotNull).isEmpty

  /** Top-k semantic search (reference `src/semantic_search.py:39-109`)
    * over the resident embedded frame of each searched type.
    * @param nodeType "skill", "occupation" or "both" (P8 label disjunction)
    */
  def search(
      query: String,
      nodeType: String = "both",
      threshold: Double = 0.5,
      limit: Int = 10): DataFrame = {
    val qv = embedder.embedQuery(query)
    def scored(resident: DataFrame, typ: String) = resident
      .withColumn("score", GraftFunctions.cosineSim(col("embedding"), typedLit(qv)))
      .select(
        col("conceptUri").as("uri"),
        col("preferredLabel").as("label"),
        col("description"),
        lit(typ).as("type"), // F2: deterministic type literal (Q4 decision)
        col("score"))
    val base = nodeType.toLowerCase match {
      case "skill" => scored(skillsEmbedded, "Skill")
      case "occupation" => scored(occupationsEmbedded, "Occupation")
      case _ => scored(skillsEmbedded, "Skill")
        .unionByName(scored(occupationsEmbedded, "Occupation"))
    }
    base
      .filter(col("score") > threshold) // P6: strict >, reference default 0.5
      .orderBy(desc("score"), col("uri"))
      .limit(limit)
  }
}
