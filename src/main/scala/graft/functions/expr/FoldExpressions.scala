package graft.functions.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.types._

/** Codegen'd replacements for the sorted-fold `aggregate(...)`
  * higher-order functions in the parity-fold hot paths.
  *
  * Every HOF (`ArrayAggregate`, `ArrayTransform`, `ZipWith`) is a
  * CodegenFallback expression: each output row pays an interpreted
  * per-element lambda call (eval → InternalRow boxing → lambda
  * variable binding), and its presence kicks the enclosing projection
  * out of whole-stage codegen. These expressions run the IDENTICAL
  * IEEE op sequence — same element order, same zero, same null
  * semantics — as a tight generated loop, so results are bit-identical
  * (FoldExprSpec pins each one against its HOF spelling, and the
  * DuckDB oracle gate re-proves every consumer).
  *
  * Null semantics mirrored from the HOF forms:
  *  - `aggregate(xs, 0.0, (a, x) => a + x)`: SQL `+` is null-poisoning,
  *    so ONE null element (or null struct / null field) nulls the whole
  *    sum — SumArray/SumArrayField return null on the first null seen.
  *  - empty array → the zero (0.0 / 0L), null array → null.
  *  - `aggregate(transform(xs, abs), 0.0, greatest)`: `greatest` SKIPS
  *    nulls and orders NaN largest — AbsMaxArray skips null elements
  *    and propagates NaN via the total order (compare > 0).
  *  - `aggregate(zip_with(a, b, (x, y) => (x*y).cast long), 0L, +)`:
  *    zip_with null-pads the SHORTER side to max length, so unequal
  *    lengths make the padded products null and poison the sum —
  *    DotProductLong returns null when lengths differ.
  */

/** Σ over array<double> in element order, zero 0.0 — exactly
  * `aggregate(xs, lit(0.0), (a, x) => a + x)`. */
case class SumArray(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null
      acc += xs.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $xs.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($xs.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $xs.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Σ of one double FIELD over array<struct<...>> in element order —
  * exactly `aggregate(ss, lit(0.0), (a, x) => a + x.getField(name))`.
  * The ordinal is resolved from the child's struct type at bind time;
  * requires the field to be DoubleType. */
case class SumArrayField(child: Expression, fieldName: String)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private lazy val structType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val ordinal: Int = structType.fieldIndex(fieldName)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(s: StructType, _)
          if s.fieldNames.contains(fieldName) &&
            s(s.fieldIndex(fieldName)).dataType == DoubleType =>
        TypeCheckSuccess
      case other =>
        TypeCheckFailure(
          s"SumArrayField needs array<struct> with double field '$fieldName', got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val width = structType.size
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null
      val row = xs.getStruct(i, width)
      if (row.isNullAt(ordinal)) return null
      acc += row.getDouble(ordinal)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val row = ctx.freshName("row")
      val width = structType.size
      s"""
         |int $n = $xs.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($xs.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  org.apache.spark.sql.catalyst.InternalRow $row = $xs.getStruct($i, $width);
         |  if ($row.isNullAt($ordinal)) { ${ev.isNull} = true; break; }
         |  $acc += $row.getDouble($ordinal);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** max(|x|) over array<float|double> with zero 0.0 — exactly
  * `aggregate(transform(xs, x => abs(x.cast("double"))), lit(0.0),
  * (a, x) => greatest(a, x))`: null elements are SKIPPED (greatest
  * ignores nulls) and NaN sorts largest (Spark's double total order =
  * java.lang.Double.compare; |x| is never -0.0, so the -0.0 < 0.0
  * corner cannot arise). */
case class AbsMaxArray(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val v = math.abs(
          if (elemIsFloat) xs.getFloat(i).toDouble else xs.getDouble(i))
        if (java.lang.Double.compare(v, acc) > 0) acc = v
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      val get = if (elemIsFloat) s"(double) $xs.getFloat($i)" else s"$xs.getDouble($i)"
      s"""
         |int $n = $xs.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$xs.isNullAt($i)) {
         |    double $v = java.lang.Math.abs($get);
         |    if (java.lang.Double.compare($v, $acc) > 0) $acc = $v;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Σ (long)(aᵢ·bᵢ) over two array<int> in element order — exactly
  * `aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")), lit(0L),
  * (acc, x) => acc + x)`: the product is a 32-bit int multiply THEN
  * widened (bit-parity with the cast spelling), the sum is a long.
  * zip_with pads the shorter side with nulls, so unequal lengths (or
  * a null element) poison the sum to null. */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) => TypeCheckSuccess
      case (l, r) =>
        TypeCheckFailure(s"DotProductLong needs (array<int>, array<int>), got ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += (x.getInt(i) * y.getInt(i)).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |long $acc = 0L;
         |if ($y.numElements() != $n) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (long) ($x.getInt($i) * $y.getInt($i));
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Σ (aᵢ−bᵢ)² in double precision, element order — exactly
  * `aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0),
  * (acc, t) => acc + t)` on equal-length arrays (zip_with's null
  * padding on unequal lengths poisons the sum → null here too).
  * Elements float or double; a float side promotes per element like
  * the Column chain does. */
case class SquaredL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckSuccess
    else TypeCheckFailure("SquaredL2 needs two array<float|double>, got " +
      s"(${left.dataType}, ${right.dataType})")
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val lGet = if (elemIsFloat(left)) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val rGet = if (elemIsFloat(right)) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |int $n = $x.numElements();
         |double $acc = 0.0;
         |if ($y.numElements() != $n) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = ($lGet) - ($rGet);
         |    $acc += $d * $d;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Shannon-entropy fold: Σ over array<long> cs of −(c/n)·ln(c/n) in
  * element order, zero 0.0 — exactly `aggregate(cs, lit(0.0),
  * (acc, c) => acc - (c / n) * log(c / n))` with n a LONG column
  * (Spark's `/` on long/long promotes both sides to double; the two
  * spellings of c/n are the same division, computed once here). Null
  * element or null n poisons to null (the `-`/`*`/`/` chain is
  * null-poisoning). */
case class EntropyFold(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckSuccess
      case (l, r) =>
        TypeCheckFailure(s"EntropyFold needs (array<bigint>, bigint), got ($l, $r)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cs = a.asInstanceOf[ArrayData]
    val n = b.asInstanceOf[Long].toDouble
    val m = cs.numElements()
    var acc = 0.0
    var i = 0
    while (i < m) {
      if (cs.isNullAt(i)) return null
      val t = cs.getLong(i) / n
      // StrictMath, not Math: Spark's Log expression computes ln via
      // StrictMath.log, and the two differ by 1 ulp on some inputs
      acc -= t * StrictMath.log(t)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cs, nL) => {
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val t = ctx.freshName("t")
      s"""
         |int $m = $cs.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $m; $i++) {
         |  if ($cs.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $t = ((double) $cs.getLong($i)) / ((double) $nL);
         |  $acc -= $t * java.lang.StrictMath.log($t);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** |a ∩ b| as a DISTINCT-element count over two SORTED arrays (the
  * caller applies array_sort) — exactly
  * `size(array_intersect(a, b))`, which also counts each common value
  * once however many times it repeats. The merge scan replaces
  * array_intersect's per-pair hash-set build AND the intersection
  * array it allocates just to be size()d — the dedup families call
  * this once per candidate pair, where each side's array was sorted
  * once per document. Elements long or string (compare = the same
  * ordering array_sort used: numeric / UTF8 binary). Nulls sort last,
  * and a null in both arrays is one common value, as array_intersect
  * counts it. Null ARRAY → null, as size(array_intersect(...)) on a
  * null input. */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if l == r && (l == LongType || l == StringType) => TypeCheckSuccess
      case (l, r) => TypeCheckFailure(
        s"IntersectCountSorted needs two array<bigint> or two array<string>, got ($l, $r)")
    }

  private lazy val elemIsString: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == StringType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var cnt = 0
    while (i < n && j < m) {
      if (x.isNullAt(i) || y.isNullAt(j)) {
        // nulls sort last: the only possible remaining match is
        // null == null — scan the other side forward to its null run
        while (i < n && !x.isNullAt(i)) i += 1
        while (j < m && !y.isNullAt(j)) j += 1
        if (i < n && j < m) cnt += 1
        return cnt
      }
      val cmp =
        if (elemIsString) x.getUTF8String(i).compareTo(y.getUTF8String(j))
        else java.lang.Long.compare(x.getLong(i), y.getLong(j))
      if (cmp == 0) {
        cnt += 1
        // skip duplicate runs of the matched value on both sides so a
        // repeated common value counts once (array_intersect dedups)
        if (elemIsString) {
          val v = x.getUTF8String(i)
          do i += 1 while (i < n && !x.isNullAt(i) && x.getUTF8String(i).equals(v))
          do j += 1 while (j < m && !y.isNullAt(j) && y.getUTF8String(j).equals(v))
        } else {
          val v = x.getLong(i)
          do i += 1 while (i < n && !x.isNullAt(i) && x.getLong(i) == v)
          do j += 1 while (j < m && !y.isNullAt(j) && y.getLong(j) == v)
        }
      } else if (cmp < 0) i += 1
      else j += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val cnt = ctx.freshName("cnt"); val cmp = ctx.freshName("cmp")
      val v = ctx.freshName("v"); val brk = ctx.freshName("brk")
      val (vType, getX, getY, cmpExpr) =
        if (elemIsString)
          ("org.apache.spark.unsafe.types.UTF8String",
            (k: String) => s"$x.getUTF8String($k)",
            (k: String) => s"$y.getUTF8String($k)",
            (a: String, b: String) => s"$a.compareTo($b)")
        else
          ("long",
            (k: String) => s"$x.getLong($k)",
            (k: String) => s"$y.getLong($k)",
            (a: String, b: String) => s"java.lang.Long.compare($a, $b)")
      val eqX = if (elemIsString) s"${getX(i)}.equals($v)" else s"${getX(i)} == $v"
      val eqY = if (elemIsString) s"${getY(j)}.equals($v)" else s"${getY(j)} == $v"
      s"""
         |int $n = $x.numElements(); int $m = $y.numElements();
         |int $i = 0; int $j = 0; int $cnt = 0;
         |boolean $brk = false;
         |while (!$brk && $i < $n && $j < $m) {
         |  if ($x.isNullAt($i) || $y.isNullAt($j)) {
         |    while ($i < $n && !$x.isNullAt($i)) $i++;
         |    while ($j < $m && !$y.isNullAt($j)) $j++;
         |    if ($i < $n && $j < $m) $cnt++;
         |    $brk = true;
         |  } else {
         |    int $cmp = ${cmpExpr(getX(i), getY(j))};
         |    if ($cmp == 0) {
         |      $cnt++;
         |      $vType $v = ${getX(i)};
         |      do { $i++; } while ($i < $n && !$x.isNullAt($i) && $eqX);
         |      do { $j++; } while ($j < $m && !$y.isNullAt($j) && $eqY);
         |    } else if ($cmp < 0) { $i++; } else { $j++; }
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Histogram of an array<long> over bins 0..nBins-1 in ONE pass —
  * exactly `transform(sequence(0, nBins-1), i => size(filter(xs,
  * b => b === i)).cast("long"))`: element i of the result counts the
  * occurrences of value i (values outside [0, nBins) and null
  * elements count nowhere, as the filter's predicate is false/null
  * for them). The HOF spelling scans the array nBins times through
  * interpreted lambdas; this scans once. */
case class HistogramBins(child: Expression, nBins: Int)
    extends UnaryExpression {
  require(nBins > 0, s"nBins must be positive, got $nBins")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val h = new Array[Long](nBins)
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val v = xs.getLong(i)
        if (v >= 0L && v < nBins) h(v.toInt) += 1L
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(h)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => {
      val arrCls = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val h = ctx.freshName("h"); val v = ctx.freshName("v")
      s"""
         |int $n = $xs.numElements();
         |long[] $h = new long[$nBins];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$xs.isNullAt($i)) {
         |    long $v = $xs.getLong($i);
         |    if ($v >= 0L && $v < ${nBins}L) $h[(int) $v] += 1L;
         |  }
         |}
         |${ev.value} = new $arrCls($h);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The 32-bit md5-prefix hash as ONE digest call — exactly
  * `conv(substring(md5(c), 1, 8), 16, 10).cast("long")`: the first 8
  * lowercase-hex chars of the MD5 are the digest's first 4 bytes, and
  * base-16 parsing them yields those bytes as an unsigned 32-bit value
  * — so the chain's hex-encode → substring → string-parse round trip
  * collapses to reading 4 bytes off the digest. Null input → null.
  * MessageDigest instances are not thread-safe and not free to
  * construct: one per thread, reset between rows. */
case class Md5_32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  @transient private lazy val digest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Shared by eval and the generated code. */
  def hash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  override def nullSafeEval(input: Any): Any =
    hash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("md532", this, classOf[Md5_32].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.hash($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object FoldExpressions {
  /** Column wrappers — drop-in for the HOF spellings they replace. */
  def sumArray(xs: Column): Column = column(SumArray(expression(xs)))
  def sumArrayField(ss: Column, field: String): Column =
    column(SumArrayField(expression(ss), field))
  def absMaxArray(xs: Column): Column = column(AbsMaxArray(expression(xs)))
  def dotProductLong(a: Column, b: Column): Column =
    column(DotProductLong(expression(a), expression(b)))
  def squaredL2(a: Column, b: Column): Column =
    column(SquaredL2(expression(a), expression(b)))
  def intersectCountSorted(a: Column, b: Column): Column =
    column(IntersectCountSorted(expression(a), expression(b)))
  def histogramBins(xs: Column, nBins: Int): Column =
    column(HistogramBins(expression(xs), nBins))
  def md5_32(c: Column): Column = column(Md5_32(expression(c)))
  def entropyFold(cs: Column, n: Column): Column =
    column(EntropyFold(expression(cs), expression(n)))
}
