package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused native forms of the exact-DECIMAL(38,20) vector folds — the
  * [[SimHash32]]/[[MinHashSigs]] treatment applied to the library's
  * single hottest interpreted expression: the per-row dot-product /
  * cosine fold every e-series exact lane and every ANN exact re-rank
  * row pays.
  *
  * Parity contract (pinned by DecimalFoldParitySpec against the
  * `zip_with`/`aggregate` Column fold these replace — the fold itself
  * is kept in test scope as `graft.HofFolds.dotExactHof`): the
  * result double is BIT-IDENTICAL to
  *
  * {{{
  *   aggregate(
  *     zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(DecimalType(38,20))),
  *     lit(java.math.BigDecimal.ZERO).cast(DecimalType(38,20)),
  *     (acc, v) => (acc + v).cast(DecimalType(38,20))).cast("double")
  * }}}
  *
  * which element by element is exactly (Spark's Cast/CheckOverflow
  * semantics, non-ANSI):
  *   - p_i   = BigDecimal.valueOf(x_i * y_i).setScale(20, HALF_UP)
  *     (Cast double→(38,20): Decimal.set goes through
  *     scala.math.BigDecimal(double), i.e. Double.toString's shortest
  *     decimal form, then toPrecision HALF_UP — NaN/Infinity and
  *     precision overflow cast to NULL);
  *   - acc_i = (acc_{i-1} + p_i).setScale(19, HALF_UP)
  *     (DECIMAL(38,20)+DECIMAL(38,20) widens to (38,19) under
  *     allowPrecisionLoss — the per-add rounding — and the re-cast to
  *     (38,20) is exact), NULL if the sum overflows 38 digits;
  *   - any NULL (null element, NaN/Inf product, overflow, length
  *     mismatch — zip_with pads the shorter array with nulls) makes
  *     the whole fold NULL, exactly as null propagates through the
  *     Column form;
  *   - the final cast to double is BigDecimal.doubleValue.
  *
  * ANSI caveat: the parity above is the non-ANSI Cast/CheckOverflow
  * semantics; under Spark 4's default ANSI mode the Column fold THROWS
  * on NaN/Inf cast or decimal overflow where this expression yields
  * NULL. Both are unreachable at every call site — embeddings are
  * finite with |Σ| many orders of magnitude below the 1e18 overflow
  * line — so over the reachable domain (finite values, null elements,
  * length mismatches) the two forms are bit-identical under either
  * mode (DecimalFoldParitySpec pins this).
  *
  * vs the interpreted fold: no zip_with array materialization, no
  * per-element lambda dispatch (~20 interpreted virtual calls each),
  * no Decimal wrapper churn — one fused loop over the two arrays with
  * exactly one JBigDecimal add + round per element, inside
  * whole-stage codegen (the generated code calls one static method).
  */
object DecimalFolds {

  /** p = cast(x*y as DECIMAL(38,20)) per Spark Cast semantics; null
    * (represented as a null return) for NaN/Inf/overflow. */
  private def productDec(p: Double): JBigDecimal = {
    if (java.lang.Double.isNaN(p) || java.lang.Double.isInfinite(p)) null
    else {
      val bd = JBigDecimal.valueOf(p).setScale(20, RoundingMode.HALF_UP)
      if (bd.precision > 38) null else bd
    }
  }

  /** The exact fold over one array pair; null per the contract above.
    * `lf`/`rf`: element type is FloatType (else DoubleType) — the
    * Column fold cast each element to double first; float→double is
    * exact, so reading the float and widening is the same value. */
  def dotExact(a: ArrayData, b: ArrayData, lf: Boolean, rf: Boolean): java.lang.Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na != nb) return null // zip_with null-pads the shorter side
    var acc = JBigDecimal.ZERO
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      val p = productDec(x * y)
      if (p == null) return null
      acc = acc.add(p).setScale(19, RoundingMode.HALF_UP)
      // the Column fold both CheckOverflows the (38,19) add (intDigits
      // > 19) AND re-casts the accumulator to (38,20) (intDigits > 18
      // nulls); the re-cast is the tighter bound — at scale 19 it is
      // precision > 37 (zero is precision 1, never trips)
      if (acc.precision > 37) return null
      i += 1
    }
    java.lang.Double.valueOf(acc.doubleValue())
  }

  /** dot/(sqrt(na)*sqrt(nb)) with each of the three folds the exact
    * decimal fold above and the combining arithmetic plain IEEE double
    * — bit-identical to
    * `dotExact(a,b) / (sqrt(dotExact(a,a)) * sqrt(dotExact(b,b)))`
    * composed from Columns, but one pass over the arrays instead of
    * three. NULL exactly when any of the three folds is NULL (in the
    * Column form a null numerator or denominator nulls the division). */
  def cosineExact(a: ArrayData, b: ArrayData, lf: Boolean, rf: Boolean): java.lang.Double = {
    val na = a.numElements(); val nb = b.numElements()
    // the three folds see (a,b), (a,a), (b,b): any length mismatch
    // nulls the dot fold and with it the division
    if (na != nb) return null
    var dot = JBigDecimal.ZERO
    var aa = JBigDecimal.ZERO
    var bb = JBigDecimal.ZERO
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      val pxy = productDec(x * y)
      val pxx = productDec(x * x)
      val pyy = productDec(y * y)
      if (pxy == null || pxx == null || pyy == null) return null
      dot = dot.add(pxy).setScale(19, RoundingMode.HALF_UP)
      aa = aa.add(pxx).setScale(19, RoundingMode.HALF_UP)
      bb = bb.add(pyy).setScale(19, RoundingMode.HALF_UP)
      // > 37: the per-add (38,20) re-cast bound — see dotExact
      if (dot.precision > 37 || aa.precision > 37 || bb.precision > 37)
        return null
      i += 1
    }
    java.lang.Double.valueOf(dot.doubleValue() /
      (math.sqrt(aa.doubleValue()) * math.sqrt(bb.doubleValue())))
  }

  /** Both inputs must be array<double> or array<float> (TypeCollection
    * is private[sql] in Spark 4, so the check is spelled out). */
  private[functions] def checkVecPair(name: String, left: Expression,
      right: Expression): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (array<double>|array<float>) inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }
}

/** Σ cast(a_i·b_i as DECIMAL(38,20)) with per-add (38,19) HALF_UP
  * rounding, as a double — see [[DecimalFolds]] for the contract. */
case class DotExactDec(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    DecimalFolds.checkVecPair(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_exact_dec"

  private def isF(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalFolds.dotExact(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], isF(left), isF(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lg = left.genCode(ctx); val rg = right.genCode(ctx)
    val boxed = ctx.freshName("dotDec")
    ev.copy(code = code"""
      ${lg.code}
      ${rg.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${lg.isNull} && !${rg.isNull}) {
        java.lang.Double $boxed = graft.functions.DecimalFolds.dotExact(
          ${lg.value}, ${rg.value}, ${isF(left)}, ${isF(right)});
        if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.doubleValue(); }
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot/(‖a‖·‖b‖) with all three DECIMAL(38,20) folds in ONE pass —
  * bit-identical to the three-fold Column composition (see
  * [[DecimalFolds.cosineExact]]). */
case class CosineExactDec(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    DecimalFolds.checkVecPair(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_exact_dec"

  private def isF(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalFolds.cosineExact(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], isF(left), isF(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lg = left.genCode(ctx); val rg = right.genCode(ctx)
    val boxed = ctx.freshName("cosDec")
    ev.copy(code = code"""
      ${lg.code}
      ${rg.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${lg.isNull} && !${rg.isNull}) {
        java.lang.Double $boxed = graft.functions.DecimalFolds.cosineExact(
          ${lg.value}, ${rg.value}, ${isF(left)}, ${isF(right)});
        if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.doubleValue(); }
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
