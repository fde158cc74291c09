package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization of a string column (codegen'd).
  *
  * Spark has no built-in Unicode normalizer; text curation needs one
  * before any dedup/fingerprint step ("Café" composed vs decomposed must
  * hash identically — without NFC they are different md5s, different
  * minhash shingles, different exact-dup groups). Implemented over
  * `java.text.Normalizer` (the JDK's ICU-equivalent table); DuckDB's
  * `nfc_normalize` agrees byte-for-byte, which is what lets the tx01
  * oracle value-check the whole normalize pipeline.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.strings(prettyName, child.dataType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(a: Any): Any =
    TextOps.nfc(a.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextOps.nfc($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Lower-casing of a string column, byte-identical to Spark's `lower`
  * (its default ICU case mappings): ASCII text takes the ASCII fast
  * path, any other text ICU's root-locale `UCharacter.toLowerCase` — the
  * same two branches Spark's `lower` runs. It differs in one cost only:
  * Spark's branch lives in `CollationAwareUTF8String`, whose static
  * initializer builds a title-case table over all 1.1M code points
  * (~0.8 s on one core) the first time the JVM lowers any row, and
  * every other task of that stage blocks on the class initialization.
  * In a fresh JVM that stalls the first text pass — curation's tokens —
  * by the whole table build; this expression never loads that class.
  */
case class LowerIcu(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.strings(prettyName, child.dataType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lower_icu"

  override def nullSafeEval(a: Any): Any =
    TextOps.lower(a.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextOps.lower($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Token n-gram ("shingle") strings over an `array<string>` of tokens:
  * windows of `n` consecutive tokens joined by single spaces — output
  * `array<string>` of length `max(0, tokens - n + 1)`. Byte-identical to
  * the SQL/HOF formulation (`transform(sequence(...), i ->
  * array_join(slice(toks, i, n), ' '))`, kept as
  * TextFunctions.tokenNgramsHof for the equivalence spec) including
  * array_join's null filtering, but one tight loop per row instead of an
  * interpreted lambda + string copies per window (the shingle-string HOF
  * was measured at ~2x the whole lm02 lane). */
case class TokenNgrams(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(n > 0, "n must be positive")

  override def checkInputDataTypes(): TypeCheckResult =
    GraftTypeChecks.stringArrays(prettyName, child.dataType)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_ngrams"

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val cnt = arr.numElements()
    if (cnt < n)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else {
      val tb = new Array[Array[Byte]](cnt)
      var i = 0
      while (i < cnt) {
        val s = arr.getUTF8String(i)
        tb(i) = if (s == null) null else s.getBytes
        i += 1
      }
      val out = new Array[Any](cnt - n + 1)
      i = 0
      while (i <= cnt - n) {
        var len = 0
        var wrote = false
        var j = 0
        while (j < n) { // size pass
          val b = tb(i + j)
          if (b != null) { // array_join filters nulls (delimiter too)
            if (wrote) len += 1
            len += b.length
            wrote = true
          }
          j += 1
        }
        val bytes = new Array[Byte](len)
        var pos = 0
        wrote = false
        j = 0
        while (j < n) {
          val b = tb(i + j)
          if (b != null) {
            if (wrote) { bytes(pos) = 0x20; pos += 1 }
            System.arraycopy(b, 0, bytes, pos, b.length)
            pos += b.length
            wrote = true
          }
          j += 1
        }
        out(i) = UTF8String.fromBytes(bytes)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static helpers callable from generated code. */
object TextOps {
  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toLowerCase(s.toValidString))

  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized is a cheap scan; ASCII and most
    // already-composed text skips the allocation entirely
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
