package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftFunctions._
import graft.functions.TextFunctions._

class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def one(text: String) = Seq(text).toDF("text")

  test("token and char counts") {
    val r = one("Hello  world, this is  Spark!")
      .select(tokenCount(col("text")), charCount(col("text"))).head()
    assert(r.getLong(0) == 5L)
    assert(r.getLong(1) == 29L)
  }

  test("digit / punct / stopword counts") {
    val r = one("the cat, 42 dogs and 7 fish!")
      .select(digitCount(col("text")), punctCount(col("text")),
        stopwordCount(col("text"))).head()
    assert(r.getLong(0) == 3L) // 4,2,7
    assert(r.getLong(1) == 2L) // comma, bang
    assert(r.getLong(2) == 2L) // the, and
  }

  test("quality score stays in [0,100] and orders sensibly") {
    val df = Seq(
      ("good", "the quick brown fox is one of the animals that live in the forest and it hunts for food"),
      ("bad", "9384 2837 4952 1029 !!!! ???? ,,,, 8473")
    ).toDF("id", "text").select(col("id"), qualityScore(col("text")).as("q"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.values.forall(v => v >= 0 && v <= 100))
    assert(m("good") > m("bad"))
  }

  test("langIdNgram identifies stopword-rich languages") {
    val df = Seq(
      ("en", "the cat sat on the mat and it was happy"),
      ("fr", "le chat est sur la table et il est content"),
      ("es", "el gato es un animal y la casa es grande"),
      ("de", "der hund ist ein tier und die katze ist nicht da"),
      ("und", "zzz qqq xxx")
    ).toDF("want", "text").select(col("want"), langIdNgram(col("text")).as("got"))
    df.collect().foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("lowerIcu gives the same bytes as Spark's lower, ASCII or not") {
    val texts = Seq("Hello WORLD", "\u00c4RGER \u00fcber STRA\u00dfE",
      "\u039f\u0394\u039f\u03a3 \u03a3", "\u0130stanbul", "\u01c5 \u01c8 \u1e9e", "", null)
    val local = texts.toDF("text") // projected by the interpreter
    for (df <- Seq(local, local.repartition(2))) { // ... and by codegen
      val rows = df.select(lower(col("text")), lowerIcu(col("text"))).collect()
      assert(rows.length == texts.size)
      rows.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
    }
  }

  test("token n-grams") {
    val r = one("a b c d")
      .select(tokenNgrams(col("text"), 3).as("g")).head().getSeq[String](0)
    assert(r == Seq("a b c", "b c d"))
    val short = one("a b")
      .select(tokenNgrams(col("text"), 3).as("g")).head().getSeq[String](0)
    assert(short.isEmpty)
  }

  test("md5 fingerprint equals reference value") {
    val r = one("abc").select(md5Fingerprint(col("text"))).head().getString(0)
    assert(r == "900150983cd24fb0d6963f7d28e17f72")
  }

  test("minhash signature: identical texts identical, similar texts close") {
    val df = Seq(
      ("a", "one two three four five six seven eight nine ten"),
      ("b", "one two three four five six seven eight nine ten"),
      ("c", "one two three four five six seven eight nine eleven"),
      ("d", "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("id", "text")
      .select(col("id"), minhashSig(tokenNgrams(col("text"), 3), 64).as("sig"))
    val sigs = df.collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(sigs("a") == sigs("b"))
    val simAC = sigs("a").zip(sigs("c")).count { case (x, y) => x == y } / 64.0
    val simAD = sigs("a").zip(sigs("d")).count { case (x, y) => x == y } / 64.0
    assert(simAC > 0.5, s"near-dup minhash sim was $simAC")
    assert(simAD < 0.2, s"unrelated minhash sim was $simAD")
  }

  test("simhash: hamming small for near-dups, large for unrelated") {
    val df = Seq(
      ("a", "one two three four five six seven eight nine ten"),
      ("c", "one two three four five six seven eight nine eleven"),
      ("d", "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("id", "text")
      .select(col("id"), simhash64(tokens(col("text"))).as("sig"))
    val sigs = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(sigs("a"), sigs("c")) < ham(sigs("a"), sigs("d")))
  }

  test("rolling fingerprint: equal for equal text, deterministic") {
    val df = Seq("some document body here", "some document body here",
      "another entirely different body").toDF("text")
      .select(rollingFingerprint(col("text"), 8).as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("normalizeText: NFC composes decomposed accents, strips controls, collapses whitespace") {
    val composed = "Caf\u00e9"        // é as one code point
    val decomposed = "Cafe\u0301"    // e + combining acute
    val df = Seq(
      (1L, composed), (2L, decomposed),
      (3L, "  ab\u0007\t\tc\r\nd  "), // BEL stripped, ws collapsed, trimmed
      (4L, null.asInstanceOf[String])
    ).toDF("id", "text")
      .select(col("id"), normalizeText(col("text")).as("n"))
    val got = df.collect().map(r => r.getAs[Long]("id") ->
      Option(r.getAs[String]("n"))).toMap
    // the whole point: both accent encodings normalize to the SAME string
    assert(got(1L) == got(2L) && got(1L) == Some(composed))
    assert(got(3L) == Some("ab c d"))
    assert(got(4L) == None)
    // and therefore the same md5 fingerprint (dedup treats them as equal)
    val fp = Seq(composed, decomposed).toDF("text")
      .select(md5Fingerprint(normalizeText(col("text"))).as("f"))
      .collect().map(_.getString(0))
    assert(fp(0) == fp(1))
  }

  test("repetition permilles: hand-computed duplicate line and 3-gram fractions") {
    val df = Seq(
      // 4 non-empty lines, "same" appears 3x -> dup = 2/4 = 500 pm
      (1L, "same\nsame\n\n  same  \nother"),
      // 6 tokens "a b a b a b": 4 3-grams, "a b a"/"b a b" each twice
      // -> dup = 2/4 = 500 pm
      (2L, "a b a b a b"),
      (3L, "all lines distinct\nno repeats here"),
      (4L, ""), (5L, "one two"), // too short for 3-grams
      (6L, "same\r\nsame") // CRLF: the \r must not break line matching
    ).toDF("id", "text").select(col("id"),
      dupLinePermille(col("text")).as("dl"),
      dupNgramPermille(col("text"), 3).as("dg"))
    val got = df.collect()
      .map(r => r.getAs[Long]("id") -> ((r.getAs[Long]("dl"), r.getAs[Long]("dg")))).toMap
    assert(got(1L)._1 == 500L, got(1L))
    assert(got(2L)._2 == 500L, got(2L))
    assert(got(3L) == ((0L, 0L)))
    assert(got(4L) == ((0L, 0L)))
    assert(got(5L)._2 == 0L)
    assert(got(6L)._1 == 500L, got(6L)) // CRLF duplicate detected
  }

  test("normalizeText: controls strip BEFORE NFC; page breaks become spaces, not fusions") {
    val df = Seq(
      // BEL between 'e' and combining acute would block NFC composition
      // if stripped after normalization
      (1L, "Cafe\u0007\u0301"),
      // form feed / vertical tab are page separators: collapse to a
      // space — deleting them would fuse the surrounding words
      (2L, "end of page.\fChapter 2"),
      (3L, "a\u000Bb")
    ).toDF("id", "text").select(col("id"), normalizeText(col("text")).as("n"))
    val got = df.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("n")).toMap
    assert(got(1L) == "Caf\u00e9", got(1L))
    assert(got(2L) == "end of page. Chapter 2")
    assert(got(3L) == "a b")
  }

  test("cleanLines: C4 rules — word floor, terminal punct, markers, repeat collapse") {
    val doc = Seq(
      "a good first sentence that ends well.",
      "short one.",                                   // < 3 words
      "no terminal punctuation on this line",         // no . ! ? "
      "we use cookie banners on this site today.",    // marker
      "a good first sentence that ends well.",        // exact repeat
      "another proper closing line stands here!"      // kept
    ).mkString("\n")
    val r = one(doc).select(
      cleanLines(col("text")).as("c"),
      cleanLinesCounts(col("text"))._1.as("k"),
      cleanLinesCounts(col("text"))._2.as("d")).head()
    assert(r.getString(0) ==
      "a good first sentence that ends well.\nanother proper closing line stands here!")
    assert(r.getLong(1) == 2L && r.getLong(2) == 4L)
    // repeat whose first occurrence was dropped is dropped with it
    val doc2 = Seq("short.", "short.", "a perfectly fine long line here.").mkString("\n")
    val r2 = one(doc2).select(cleanLines(col("text"))).head()
    assert(r2.getString(0) == "a perfectly fine long line here.")
    // requireTerminal = false keeps unpunctuated prose
    val r3 = one("no terminal punctuation on this line")
      .select(cleanLines(col("text"), requireTerminal = false)).head()
    assert(r3.getString(0) == "no terminal punctuation on this line")
    // empty text: the single empty line fails the word floor
    assert(one("").select(cleanLines(col("text"))).head().getString(0) == "")
  }

  test("tokenNgrams: codegen expression == HOF/SQL twin, exactly") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).limit(200)
    val edge = Seq("", "  spaced   out  ", "one", "two tokens",
      "caf\u00e9 na\u00efve \u4e2d\u6587 \u00fcber mix",
      "a b c d e f g").toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      val rows = real.unionByName(edge).select(
        tokenNgrams(col("text"), n).as("fast"),
        tokenNgramsHof(col("text"), n).as("hof")).collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n"))
    }
  }
}
