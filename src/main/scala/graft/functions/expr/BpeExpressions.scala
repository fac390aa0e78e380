package graft.functions.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass replacements for the BPE hot loops in
  * [[graft.operators.Tokenizer]].
  *
  * The HOF spellings are quadratic per word on top of interpreted
  * per-element lambda calls: `fuseExpr`'s `aggregate` rebuilds the
  * accumulator array with `concat(slice(...))` at EVERY token (O(len²)
  * array copies per word per merge), and `hasPair`/`pairCounts` each
  * re-slice the token array twice per evaluation. These expressions
  * run the identical greedy-fuse / adjacent-pair semantics in one
  * array pass per row (CodegenFallback like [[WordShingles]] — one
  * boxed call per row instead of one per element). Bit-identical
  * outputs: TokenizerSpec/IncrBpeSpec re-pin the merge tables and
  * ExprSpec pins each expression against its HOF spelling.
  */

/** Greedy left-to-right BPE fuse of adjacent (l, r) → m — exactly
  * [[graft.operators.Tokenizer.fuseExpr]]'s fold: when the emitted
  * tail equals `l` and the next token equals `r`, the tail is replaced
  * by `m` (the fused token participates as the tail of subsequent
  * comparisons, so chained fuses behave like the fold). `pairs` holds
  * the full rank-ordered merge list; each (l, r, m) is applied as ONE
  * full pass before the next rank (the encodeWords replay order). A
  * null token never equals a literal, so it is appended unchanged —
  * the fold's `when(... === ...)` null semantics. */
case class FuseBpeAll(child: Expression, pairs: Seq[(String, String, String)])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  // UTF8String constants built once per expression instance
  @transient private lazy val merges: Array[(UTF8String, UTF8String, UTF8String)] =
    pairs.map { case (l, r, m) =>
      (UTF8String.fromString(l), UTF8String.fromString(r), UTF8String.fromString(m))
    }.toArray

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    var cur = new Array[UTF8String](n)
    var curLen = n
    var i = 0
    while (i < n) { cur(i) = BpeExpressions.tokenAt(toks, i); i += 1 }
    var k = 0
    while (k < merges.length) {
      val (l, r, m) = merges(k)
      var out = 0
      var j = 0
      while (j < curLen) {
        val t = cur(j)
        if (out > 0 && t != null && cur(out - 1) != null &&
            cur(out - 1).equals(l) && t.equals(r)) {
          cur(out - 1) = m
        } else {
          cur(out) = t
          out += 1
        }
        j += 1
      }
      curLen = out
      k += 1
    }
    val res = new Array[Any](curLen)
    var p = 0
    while (p < curLen) { res(p) = cur(p); p += 1 }
    new GenericArrayData(res)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Adjacent token pairs as array<struct<l, r>> in sequence order —
  * exactly `zip_with(slice(toks, 1, n-1), slice(toks, 2, n-1),
  * (a, b) => struct(a, b))` (length n-1; empty for n < 2; duplicates
  * kept). */
case class AdjacentPairs(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("l", StringType), StructField("r", StringType))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev = BpeExpressions.tokenAt(toks, 0)
    var i = 1
    while (i < n) {
      val t = BpeExpressions.tokenAt(toks, i)
      out(i - 1) = InternalRow(prev, t)
      prev = t
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** True iff the token sequence contains adjacent (l, r) — exactly
  * [[graft.operators.Tokenizer]]'s `exists(zip_with(slice, slice, a===l
  * && b===r), x => x)` on null-free token arrays (split() never yields
  * null elements; a null element's comparison is null, which `exists`
  * only surfaces when NO element matches — mirrored here). */
case class HasAdjacentPair(child: Expression, l: String, r: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  @transient private lazy val lU = UTF8String.fromString(l)
  @transient private lazy val rU = UTF8String.fromString(r)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    var sawNull = false
    var i = 1
    while (i < n) {
      val a = BpeExpressions.tokenAt(toks, i - 1)
      val b = BpeExpressions.tokenAt(toks, i)
      if (a == null || b == null) {
        // (null === l) && ... can only be null-or-false; exists keeps
        // scanning and reports null only if nothing matched
        if (a == null && (b == null || b.equals(rU))) sawNull = true
        else if (b == null && a.equals(lU)) sawNull = true
      } else if (a.equals(lU) && b.equals(rU)) return true
      i += 1
    }
    if (sawNull) null else false
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object BpeExpressions {
  /** Token `i`, or null for a null slot — read through `isNullAt`, as
    * the `ArrayData` contract requires before any typed getter. */
  private[expr] def tokenAt(toks: ArrayData, i: Int): UTF8String =
    if (toks.isNullAt(i)) null else toks.getUTF8String(i)

  def fuseAll(toks: Column, pairs: Seq[(String, String, String)]): Column =
    column(FuseBpeAll(expression(toks), pairs))
  def fuse(toks: Column, l: String, r: String, m: String): Column =
    fuseAll(toks, Seq((l, r, m)))
  def adjacentPairs(toks: Column): Column = column(AdjacentPairs(expression(toks)))
  def hasAdjacentPair(toks: Column, l: String, r: String): Column =
    column(HasAdjacentPair(expression(toks), l, r))
}
