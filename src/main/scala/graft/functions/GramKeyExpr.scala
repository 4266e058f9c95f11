package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The ExactSubstr 63-bit gram key as ONE codegen pass:
  * `unsigned32(hashCode(s)) << 31 | (hashCode(reverse(s)) & 0x7FFFFFFF)` —
  * semantically identical to composing `graft_java_hash` with `reverse`
  * (FunctionsSpec asserts the equivalence), but computed with a single
  * forward + backward fold over one decoded string: no reversed-string
  * allocation, no second toString, and the forward fold is
  * `String.hashCode` itself (JIT-intrinsic, vectorized). The gram
  * exchanges are the hot path of the whole ExactSubstr family
  * (q159/q161/q163–q165), so the key computation must cost like a hash,
  * not like three string allocations — the composed form measured
  * (PROFILE.md round-9 addendum A) ADDING more CPU than its shuffle savings bought back; this form is the
  * one that nets positive.
  *
  * Reversal is CODE-POINT-wise: the backward loop keeps surrogate pairs
  * in original order (exactly `java.lang.StringBuilder.reverse`
  * semantics), so the composed-form identity holds for ALL input — BMP
  * and astral — and the reversed fold never hashes an invalid
  * lone-surrogate sequence. The extra branch is one perfectly-predicted
  * compare per char on ASCII text (GeoFunctionsSpec pins both the
  * composed-form identity on astral fixtures and the plan staying inside
  * WholeStageCodegen).
  *
  * DuckDB-oracle parity (`javaHashSql`: unicode()-per-grapheme fold +
  * `reverse()`) holds on ASCII and on every single-code-point BMP
  * grapheme — pinned by GeoFunctionsSpec's non-ASCII BMP fixtures — but
  * NOT for combining-mark clusters or astral chars, where DuckDB folds
  * one code point per grapheme while Java folds UTF-16 units. That
  * divergence is why the hashed gram path refuses non-ASCII text loudly
  * (Dedup.windowGrams' octet_length guard): the q177 collision audit's
  * extra_pos = 0 license was measured on the ASCII corpus, and a
  * non-ASCII deployment must re-run it (string arm, hashBits = 0, is
  * always available as ground truth).
  */
case class GramKeyExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    GramKeyExpr.key63(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GramKeyExpr.key63($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): GramKeyExpr =
    copy(child = newChild)
}

object GramKeyExpr {
  val name = "graft_gram_key63"

  /** Shared by the interpreted and codegen paths. The backward fold walks
    * code points: a (high, low) surrogate pair is folded high-then-low —
    * the pair keeps its original order, exactly what
    * `new StringBuilder(s).reverse` produces — so `key63(s)` equals the
    * composed `javaHash(s) << 31 | javaHash(sbReverse(s)) & 0x7FFFFFFF`
    * for every string, not just BMP.
    */
  def key63(s: String): Long = {
    val h1 = s.hashCode // forward base-31 fold, JIT intrinsic
    var h2 = 0
    var i = s.length - 1
    while (i >= 0) {
      val c = s.charAt(i)
      if (Character.isLowSurrogate(c) && i > 0 &&
          Character.isHighSurrogate(s.charAt(i - 1))) {
        h2 = 31 * (31 * h2 + s.charAt(i - 1)) + c
        i -= 2
      } else { h2 = 31 * h2 + c; i -= 1 }
    }
    ((h1.toLong & 0xFFFFFFFFL) << 31) | (h2.toLong & 0x7FFFFFFFL)
  }

  val builder: Seq[Expression] => Expression = {
    case Seq(child) => GramKeyExpr(child)
    case other => throw new IllegalArgumentException(
      s"$name expects exactly 1 argument, got ${other.size}")
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "internal")
}
