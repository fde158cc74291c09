package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions._

/** Registration + Column-level API for graft's custom Catalyst expressions.
  *
  * Expressions are registered as session temp functions and surfaced through
  * `call_function`, so they work identically from the Column API and from
  * `spark.sql(...)`. Registration is idempotent.
  */
object GraftFunctions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal int argument, got: $other")
  }

  /** Accept array<double>/array<int> vectors by inserting an explicit cast
    * to array<float>; a float→float cast is elided by Catalyst's
    * SimplifyCasts. Unconditional because the child may still be unresolved
    * here (calling .dataType would throw). */
  private def asFloatArray(e: Expression): Expression =
    Cast(e, ArrayType(FloatType))

  /** The single source of truth for name → expression builder, consumed by
    * both the session-level registry (`register`) and the build-time
    * `graft.plans.GraftExtensions` injection path. */
  private[graft] val functionBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" ->
      ((es: Seq[Expression]) => CosineSimilarity(asFloatArray(es(0)), asFloatArray(es(1)))),
    "dot_product" ->
      ((es: Seq[Expression]) => DotProduct(asFloatArray(es(0)), asFloatArray(es(1)))),
    "l2_norm" -> ((es: Seq[Expression]) => L2Norm(asFloatArray(es(0)))),
    "hash_embed" ->
      ((es: Seq[Expression]) => HashEmbed(es(0), intArg(es(1), "hash_embed dim"))),
    "minhash_sig" ->
      ((es: Seq[Expression]) => MinHashSignature(es(0), intArg(es(1), "minhash_sig k"))),
    "simhash64" -> ((es: Seq[Expression]) => SimHash64(es(0))),
    "rolling_fingerprint" ->
      ((es: Seq[Expression]) => RollingFingerprint(es(0), intArg(es(1), "rolling_fingerprint k"))),
    "ngram_hashes" ->
      ((es: Seq[Expression]) => NgramHashes(es(0), intArg(es(1), "ngram_hashes n"))),
    "minhash_from_hashes" ->
      ((es: Seq[Expression]) => MinHashFromHashes(es(0), intArg(es(1), "minhash_from_hashes k"))),
    "minhash_portable" ->
      ((es: Seq[Expression]) => MinHashPortable(es(0),
        intArg(es(1), "minhash_portable k"), intArg(es(2), "minhash_portable n"))),
    "simhash60_portable" -> ((es: Seq[Expression]) => SimHash60Portable(es(0))),
    "token_ngrams" ->
      ((es: Seq[Expression]) => TokenNgrams(es(0), intArg(es(1), "token_ngrams n"))),
    "asof_index" -> ((es: Seq[Expression]) => AsofIndex(es(0), es(1))),
    "dot_q8" -> ((es: Seq[Expression]) => DotProductQ8(es(0), es(1))),
    "nfc_normalize" -> ((es: Seq[Expression]) => NfcNormalize(es(0))),
    "lower_icu" -> ((es: Seq[Expression]) => LowerIcu(es(0))),
    "url_domain" -> ((es: Seq[Expression]) => UrlDomainExpr(es(0))),
    "canonicalize_url" -> ((es: Seq[Expression]) => CanonicalizeUrlExpr(es(0))),
    "lsh_buckets" ->
      ((es: Seq[Expression]) => LshBuckets(asFloatArray(es(0)), planesArg(es(1)))))

  /** Decode the hyperplane tensor from its literal argument form (see
    * [[lshBuckets]]): the planes are per-query driver-side constants, so
    * they travel as one foldable `array<array<array<float>>>` literal and
    * are unpacked once at expression-build time. SQL-text invocations
    * resolve `array(array(array(...F)))` constructors to a foldable
    * `CreateArray` tree, not a `Literal` — fold those first so the
    * registered function works from SQL too, not only the Column API. */
  private def planesArg(e: Expression): Seq[Seq[Seq[Float]]] = e match {
    case other if other.foldable && !other.isInstanceOf[Literal] =>
      planesArg(Literal(other.eval(), other.dataType))
    case Literal(v: org.apache.spark.sql.catalyst.util.ArrayData,
        ArrayType(ArrayType(ArrayType(FloatType, _), _), _)) =>
      v.toObjectArray(ArrayType(ArrayType(FloatType)))
        .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toObjectArray(ArrayType(FloatType))
          .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toFloatArray().toIndexedSeq)
          .toIndexedSeq)
        .toIndexedSeq
    case other => throw new IllegalArgumentException(
      s"lsh_buckets expects a literal array<array<array<float>>> plane tensor, got: $other")
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functionBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, es => builder(es), "scala_udf")
    }
  }

  // ---- Column API (requires register(spark) once per session) ----

  /** Cosine similarity between two array<float> columns → double. */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)

  def l2Norm(a: Column): Column = call_function("l2_norm", a)

  /** Deterministic feature-hashing embedding of a text column → array<float>(dim). */
  def hashEmbed(text: Column, dim: Int): Column =
    call_function("hash_embed", text, lit(dim))

  /** MinHash signature of an array<string> shingle column → array<int>(k). */
  def minhashSig(shingles: Column, k: Int): Column =
    call_function("minhash_sig", shingles, lit(k))

  /** 64-bit SimHash of an array<string> token column → long. */
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)

  /** Winnowing-style min-rolling-hash fingerprint of a text column → long. */
  def rollingFingerprint(text: Column, k: Int): Column =
    call_function("rolling_fingerprint", text, lit(k))

  /** Distinct hashed token n-grams of an array<string> column → array<long>. */
  def ngramHashes(tokens: Column, n: Int): Column =
    call_function("ngram_hashes", tokens, lit(n))

  /** MinHash signature over pre-hashed shingles → array<int>(k). */
  def minhashFromHashes(hashes: Column, k: Int): Column =
    call_function("minhash_from_hashes", hashes, lit(k))

  /** 1-based index of the greatest element <= ts in an ascending-sorted
    * array<bigint> timeline, null when none (feeds `element_at`). */
  def asofIndex(tsArray: Column, ts: Column): Column =
    call_function("asof_index", tsArray, ts)

  /** Integer dot product of two array<tinyint> quantized vectors → long. */
  def dotQ8(a: Column, b: Column): Column = call_function("dot_q8", a, b)

  /** Unicode NFC normalization of a string column (DuckDB-parity). */
  def nfcNormalize(s: Column): Column = call_function("nfc_normalize", s)

  /** `lower` of a string column without Spark's one-time collation table
    * build (see [[graft.functions.LowerIcu]]); same result bytes. */
  def lowerIcu(s: Column): Column = call_function("lower_icu", s)

  /** All signed-random-projection LSH buckets of an array<float> vector →
    * array<struct<band:int, bucket:long>>, one entry per plane table. */
  def lshBuckets(vec: Column, planes: Array[Array[Array[Float]]]): Column =
    call_function("lsh_buckets", vec,
      typedLit(planes.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq))
}
