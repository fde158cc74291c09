package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Barriers, Curation, Joins}

class CurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val good =
    "the quick brown fox is one of the animals that live in the forest " +
    "and it hunts for food while the sun is up in the sky over the trees"

  private lazy val docs = Seq(
    (1L, good),
    (2L, good), // exact dup of 1
    (3L, good + " tonight"), // near dup of 1
    (4L, "short text"), // too short
    (5L, "9384 2837 4952 1029 8473 1111 2222 3333 4444 5555 6666"), // low quality
    (6L, "le chat est sur la table et il est content dans la maison " +
      "avec le chien et la souris qui sont des animaux de la ferme") // non-en
  ).toDF("doc_id", "text")

  test("curate: filters + exact dedup + near dedup, with drop reasons") {
    val (curated, dropped) = Curation.curate(docs, "doc_id", "text")
    val keptIds = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    val reasons = dropped.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keptIds == Set(1L))
    assert(reasons(2L) == "exact_duplicate")
    assert(reasons(3L) == "near_duplicate")
    assert(reasons(4L) == "too_short")
    assert(reasons(5L) == "low_quality")
    assert(reasons(6L) == "language")
    // every input either kept or explained
    assert(keptIds.size + reasons.size == 6)
  }

  test("curate normalize=true: composed vs decomposed encodings become EXACT duplicates") {
    // same sentence, once with composed é, once decomposed (e + combining
    // acute) and messier whitespace — byte-different, semantically equal
    val composedText = good + " caf\u00e9"
    val decomposedText = good + "  cafe\u0301 "
    val pair = Seq((1L, composedText), (2L, decomposedText)).toDF("doc_id", "text")
    // without normalization the md5s differ, so only the (probabilistic)
    // minhash NEAR-dup stage can catch the pair
    val (_, droppedPlain) = Curation.curate(pair, "doc_id", "text")
    val plainReasons = droppedPlain.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(plainReasons.get(2L).forall(_ == "near_duplicate"), plainReasons)
    // with normalization they are byte-identical -> deterministic EXACT dup
    val (normed, droppedN) = Curation.curate(pair, "doc_id", "text",
      Curation.Config(normalize = true))
    assert(normed.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    val reasons = droppedN.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reasons(2L) == "exact_duplicate")
  }

  test("curate resolves near-dup CHAINS transitively (cluster, not pairwise)") {
    // 1 ~ 5 and 3 ~ 5 are near-dups; 1 ~ 3 is below threshold. Pairwise
    // drop-the-larger keeps {1, 3}; the cluster policy keeps only {1}.
    val base = (0 until 50).map(i => s"word$i alpha").mkString(" ")
    def edit(eds: (Int, String)*) =
      eds.foldLeft(base.split(" ")) { case (ws, (at, to)) =>
        ws.updated(at, to)
      }.mkString(" ")
    // J(1,5)=J(3,5)≈(98-6)/(98+6)≈0.88; J(1,3)≈(98-12)/(98+12)≈0.78
    val chain = Seq(
      (1L, edit(20 -> "changeda", 40 -> "changedb")),
      (3L, edit(60 -> "changedc", 80 -> "changedd")),
      (5L, base)
    ).toDF("doc_id", "text")
    val cfg = Curation.Config(
      minTokens = 5L, minQuality = 0L, keepLangs = Seq("en", "und"),
      minhashHashes = 512, minhashBands = 64, nearDupJaccard = 0.83)
    val (curated, dropped) = Curation.curate(chain, "doc_id", "text", cfg)
    val kept = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    val reasons = dropped.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept == Set(1L),
      s"kept $kept, reasons $reasons — chain not resolved transitively")
    assert(reasons(3L) == "near_duplicate" && reasons(5L) == "near_duplicate")
  }

  test("annotate adds one-scan metrics") {
    val a = Curation.annotate(docs, "doc_id", "text")
      .filter(col("doc_id") === 1L).head()
    assert(a.getAs[Long]("n_tokens") > 20L)
    assert(a.getAs[String]("lang_guess") == "en")
    assert(a.getAs[String]("fingerprint").length == 32)
  }

  test("saltedJoin equals plain join") {
    val fact = (1L to 1000L).map(i => (i % 3, i)).toDF("k", "v") // heavy skew on 3 keys
    val dim = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).groupBy("name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Joins.saltedJoin(fact, dim, "k", salts = 8)
      .groupBy("name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == salted)
  }

  test("saltedJoin left_outer keeps unmatched fact rows") {
    val fact = Seq((1L, "x"), (99L, "y")).toDF("k", "v")
    val dim = Seq((1L, "a")).toDF("k", "name")
    val rows = Joins.saltedJoin(fact, dim, "k", salts = 4, joinType = "left_outer")
      .collect()
    assert(rows.length == 2)
    assert(rows.count(_.isNullAt(2)) == 1)
  }

  test("blocklistGate: whole-token and phrase hits, case/space-insensitive") {
    val docs = Seq(
      (1L, "a clean page about nothing"),
      (2L, "the BAD word appears"), // case-folded single-term hit
      (3L, "badge of honor"), // substring of a term must NOT hit
      (4L, "a very  bad\tthing happened"), // phrase across messy whitespace
      (5L, "bad"), // term is the whole document
      (6L, " ")).toDF("doc_id", "text") // empty: keeps
    val out = graft.operators.Curation
      .blocklistGate(docs, "doc_id", "text", Seq("bad", "Bad  Thing"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (1L, 0L, true), (2L, 1L, false), (3L, 0L, true),
      (4L, 2L, false), (5L, 1L, false), (6L, 0L, true)))
    // policy-input validation fails fast
    assertThrows[IllegalArgumentException](
      graft.operators.Curation.blocklistGate(docs, "doc_id", "text", Nil))
    assertThrows[IllegalArgumentException](
      graft.operators.Curation.blocklistGate(docs, "doc_id", "text",
        Seq("bad", "BAD")))
  }

  test("saltedJoin rejects outer types that would duplicate dim rows") {
    val fact = Seq((1L, "x")).toDF("k", "v")
    val dim = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "outer")) {
      val e = intercept[IllegalArgumentException] {
        Joins.saltedJoin(fact, dim, "k", salts = 4, joinType = jt)
      }
      assert(e.getMessage.contains("inner/left"), jt)
    }
  }

  // -- the text pass's spread: same rows at any input partitioning

  private lazy val corpus = GeneratedInputs.corpus(2000)

  test("curate: identical curated and dropped rows over 1, 3 and 8 input partitions") {
    def run(parts: Int) = {
      val in = Barriers.stage(corpus.repartition(parts))
      assert(in.rdd.getNumPartitions == parts)
      val (curated, dropped) = Curation.curate(in, "doc_id", "text")
      (curated.collect().toSet, dropped.collect().toSet)
    }
    val one = run(1)
    assert(one._2.map(_.getString(1)).contains("exact_duplicate"))
    assert(one._2.map(_.getString(1)).contains("near_duplicate"))
    assert(one._1.size + one._2.size == 2000)
    assert(run(3) == one)
    assert(run(8) == one)
  }

  test("curate: a one-partition input's text pass runs defaultParallelism tasks") {
    val in = Barriers.stage(corpus.repartition(1))
    val n = in.count()
    val (_, ev) = SparkEvents.record(spark)(Curation.curate(in, "doc_id", "text"))
    // the text pass reads every document from the spread's shuffle and
    // writes every document's stats to the keeper ranking's shuffle
    val textPass = ev.stages.filter(s =>
      s.taskMetrics.shuffleReadMetrics.recordsRead == n &&
        s.taskMetrics.shuffleWriteMetrics.recordsWritten == n)
    assert(textPass.nonEmpty, ev.stages.map(s => (s.numTasks, s.name)))
    assert(textPass.map(_.numTasks).toSet ==
      Set(spark.sparkContext.defaultParallelism))
  }

  test("curate: an input with an exchange is not executed to count its partitions") {
    val reads = spark.sparkContext.longAccumulator("curate input rows")
    val mark = udf { (t: String) => reads.add(1L); t }.asNondeterministic()
    // the counting projection runs below the exchange: any extra run of
    // the input's shuffle stage reads every row again
    val in = corpus.withColumn("text", mark(col("text"))).repartition(2)
    Curation.curate(in, "doc_id", "text")
    assert(reads.value == 2000L)
  }
}
