package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native codegen kernels for the embedding math.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * is semantically identical but evaluates interpreted, lambda-call
  * per element. These expressions generate a tight primitive loop
  * inside whole-stage codegen — same sequential left-fold order, so
  * results stay bit-identical to both the HOF form and the DuckDB
  * `list_reduce` oracle.
  *
  * Both operate on `array<double>` (callers cast `array<float>`
  * first — an elementwise codegen'd cast with identical rounding).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dot_product needs two array<double> arguments, got $l, $r")
    }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) { sum += a.getDouble(i) * b.getDouble(i); i += 1 }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ x² over an array<double> — the squared L2 norm kernel. */
case class SumSquares(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sum_squares needs an array<double> argument, got $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    var sum = 0.0
    var i = 0
    while (i < a.numElements()) {
      val x = a.getDouble(i); sum += x * x; i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val sum = ctx.freshName("sum")
      s"""
         |double $sum = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $x = $a.getDouble($i);
         |  $sum += $x * $x;
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All `bands` banded LSH sign signatures of one embedding in a
  * single kernel: element b of the result packs `planes` bits, bit j
  * = sign of the strict left-to-right dot of the embedding with sign
  * row b·planes+j of the embedded ±1 matrix. The one LSH signature
  * kernel: VectorFunctions.lshSigAt is its one-band case.
  *
  * A three-level primitive loop over a referenced int[][] rather
  * than an unrolled-`Column` sum: 8 bands × 512 terms inside one
  * generator expression exceed janino's method-size limit, and the
  * stage then runs interpreted. Same arithmetic as the oracle's
  * unrolled SQL (VectorFunctions.lshSigAtSql): `acc += row[i] > 0 ?
  * x : -x` accumulates in the identical order with the identical
  * IEEE rounding as the `(±x0 + ±x1) + …` chain (0.0 + x == x
  * bit-for-bit except a −0.0 ripple that only reaches the ≥ 0.0
  * comparison, where ±0.0 compare equal).
  */
case class LshBandSigs(child: Expression, signs: Array[Array[Int]],
    planes: Int, bands: Int) extends UnaryExpression {

  require(signs.length >= bands * planes,
    s"sign pool exhausted: need ${bands * planes} rows, have ${signs.length}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_band_sigs needs an array<double> argument, got $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val dim = a.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var j = 0
      while (j < planes) {
        val row = signs(b * planes + j)
        var dot = 0.0
        var i = 0
        while (i < dim) {
          val x = a.getDouble(i)
          dot += (if (row(i) > 0) x else -x)
          i += 1
        }
        if (dot >= 0.0) sig |= (1L << j)
        j += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("lshSigns", signs, "int[][]")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val row = ctx.freshName("row")
      val dot = ctx.freshName("dot")
      val sig = ctx.freshName("sig")
      val x = ctx.freshName("x")
      s"""
         |long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $sig = 0L;
         |  for (int $j = 0; $j < $planes; $j++) {
         |    int[] $row = $m[$b * $planes + $j];
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $a.numElements(); $i++) {
         |      double $x = $a.getDouble($i);
         |      $dot += ($row[$i] > 0) ? $x : -$x;
         |    }
         |    if ($dot >= 0.0) $sig |= (1L << $j);
         |  }
         |  $out[$b] = $sig;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
