package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The r17-and-earlier interpreted Column folds that the fused native
  * expressions replaced — parity oracles ONLY: DecimalFoldParitySpec
  * pins `VectorFunctions.dotExact`/`cosineExact` and
  * `VectorFunctions.adcScore` bit-identical to them. */
object HofFolds {
  private val DEC = DecimalType(38, 20)

  def dotExactHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(DEC)),
      lit(java.math.BigDecimal.ZERO).cast(DEC),
      // decimal + decimal widens to (38,19) in Spark; re-cast keeps the
      // accumulator type stable (the true sum fits in 18 integer digits,
      // so the cast is exact)
      (acc, v) => (acc + v).cast(DEC)).cast("double")

  def normExactHof(a: Column): Column = sqrt(dotExactHof(a, a))

  def cosineExactHof(a: Column, b: Column): Column =
    dotExactHof(a, b) / (normExactHof(a) * normExactHof(b))

  /** The HOF ADC table-lookup sum over a flat m·k table. */
  def adcScoreHof(codes: Column, tbl: Column, m: Int, k: Int): Column =
    aggregate(
      zip_with(codes, sequence(lit(0), lit(m - 1)),
        (c, s0) => element_at(tbl, s0 * k + c.cast("int") + 1)),
      lit(0.0), (acc, v) => acc + v)
}
