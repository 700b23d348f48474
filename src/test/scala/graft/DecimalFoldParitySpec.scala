package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 fused native expressions, pinned BIT-IDENTICAL against the
  * interpreted Column folds they replaced (the r17 OptimizedInternalsSpec
  * discipline): DotExactDec / CosineExactDec vs the zip_with/aggregate
  * DECIMAL(38,20) folds, AdcScore vs the zip_with/element_at lookup sum,
  * GramDigests vs sortedGramDigests + adjacentDistinct.
  *
  * Domain note: the session runs Spark 4's default ANSI mode, where the
  * HOF forms THROW on decimal overflow / NaN-cast / out-of-range
  * element_at instead of yielding NULL. Those inputs are unreachable in
  * every call site (finite embeddings with |Σx_iy_i| far below 1e18;
  * PQ codes in [0, k-1] by argmin construction), so the parity pinned
  * here is over the reachable domain: finite values, null elements,
  * length mismatches, empty arrays — where both forms agree bit-for-bit
  * (NULL for NULL, same 64 bits for every double).
  */
class DecimalFoldParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import graft.functions.VectorFunctions

  /** Collect (old, new) double columns and require bit identity. */
  private def assertBitIdentical(df: DataFrame, oldC: Column, newC: Column,
      label: String): Unit = {
    val rows = df.select(oldC.as("o"), newC.as("n")).collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      val (on, nn) = (r.isNullAt(0), r.isNullAt(1))
      assert(on == nn, s"$label row $i: null mismatch old=$on new=$nn")
      if (!on) {
        val (o, n) = (r.getDouble(0), r.getDouble(1))
        assert(java.lang.Double.doubleToLongBits(o) ==
          java.lang.Double.doubleToLongBits(n),
          s"$label row $i: $o (old) != $n (new) bitwise")
      }
    }
  }

  private val rnd = new scala.util.Random(20260819L)

  private def vec(dim: Int, scale: Double): Seq[Double] =
    Seq.fill(dim)((rnd.nextDouble() - 0.5) * scale)

  /** Pairs across dims and magnitudes, plus edge rows: nulls inside,
    * length mismatch, empty, exact-representable values, denormal-ish
    * tiny values that round away at scale 20. */
  private def doublePairs: DataFrame = {
    import spark.implicits._
    val regular = Seq(1, 2, 3, 8, 64, 96).flatMap { dim =>
      Seq(1.0, 1e-6, 1e6).map { s =>
        (Option(vec(dim, s).map(Option(_))), Option(vec(dim, s).map(Option(_))))
      }
    }
    val edges: Seq[(Option[Seq[Option[Double]]], Option[Seq[Option[Double]]])] = Seq(
      (Some(Seq(Some(1.0), None, Some(2.0))), Some(Seq(Some(3.0), Some(4.0), Some(5.0)))),
      (Some(Seq(Some(1.0))), Some(Seq(Some(2.0), Some(3.0)))), // length mismatch
      (Some(Seq.empty), Some(Seq.empty)),                       // empty: fold = 0.0
      (None, Some(Seq(Some(1.0)))),                             // null array
      (Some(Seq(Some(0.1), Some(0.2), Some(0.3))), Some(Seq(Some(0.3), Some(0.2), Some(0.1)))),
      (Some(Seq(Some(1e-30), Some(-1e-30))), Some(Seq(Some(1e-30), Some(1e-30)))),
      (Some(Seq(Some(-0.0), Some(0.0))), Some(Seq(Some(0.0), Some(-0.0))))
    )
    (regular ++ edges).toDF("a", "b")
  }

  private def floatPairs: DataFrame = {
    import spark.implicits._
    Seq(1, 2, 8, 64, 96).flatMap { dim =>
      Seq(1.0, 1e-3, 1e3).map { s =>
        (vec(dim, s).map(_.toFloat), vec(dim, s).map(_.toFloat))
      }
    }.toDF("a", "b")
  }

  test("DotExactDec ≡ the zip_with/aggregate DECIMAL(38,20) fold — double arrays") {
    assertBitIdentical(doublePairs,
      HofFolds.dotExactHof(col("a"), col("b")),
      VectorFunctions.dotExact(col("a"), col("b")), "dot(double,double)")
  }

  test("DotExactDec ≡ HOF fold — float arrays and mixed float/double") {
    assertBitIdentical(floatPairs,
      HofFolds.dotExactHof(col("a"), col("b")),
      VectorFunctions.dotExact(col("a"), col("b")), "dot(float,float)")
    val mixed = floatPairs.select(col("a"),
      transform(col("b"), _.cast("double")).as("b"))
    assertBitIdentical(mixed,
      HofFolds.dotExactHof(col("a"), col("b")),
      VectorFunctions.dotExact(col("a"), col("b")), "dot(float,double)")
  }

  test("CosineExactDec ≡ dotHof/(normHof·normHof), one pass vs three") {
    // zero-norm-AT-DECIMAL-SCALE vectors excluded: under ANSI the HOF
    // division throws divide-by-zero (even on doubles) where the fused
    // form gives NaN — unreachable in production (no embedding has all
    // squares below the 1e-20 rounding line; the r17 composition ran
    // under the same ANSI mode and would already have thrown). The
    // null-safe != keeps NULL-norm rows: a null denominator divides to
    // NULL without the zero check in both forms.
    val nonZero = (c: Column) =>
      !(HofFolds.dotExactHof(c, c) <=> lit(0.0))
    assertBitIdentical(doublePairs
        .filter(size(col("a")) > 0 && nonZero(col("a")) && nonZero(col("b"))),
      HofFolds.cosineExactHof(col("a"), col("b")),
      VectorFunctions.cosineExact(col("a"), col("b")), "cosine(double)")
    assertBitIdentical(floatPairs,
      HofFolds.cosineExactHof(col("a"), col("b")),
      VectorFunctions.cosineExact(col("a"), col("b")), "cosine(float)")
  }

  test("AdcScore ≡ the zip_with/element_at lookup fold — literal and column tables") {
    import spark.implicits._
    val (m, k) = (8, 16)
    val tbl: Seq[Double] = Seq.fill(m * k)(rnd.nextDouble() * 4)
    val codesRows: Seq[Seq[Byte]] =
      Seq.fill(24)(Seq.fill(m)(rnd.nextInt(k).toByte)) ++
        Seq(Seq.fill(m - 1)(0.toByte),      // too short: zip_with pads → NULL
            Seq.fill(m + 1)(0.toByte),      // too long: sequence side pads → NULL
            Seq.fill(m)((k - 1).toByte),    // max in-range code per subspace
            Seq.fill(m)(0.toByte))
    val df = codesRows.toDF("codes")
      .select(transform(col("codes"), _.cast("byte")).as("codes"))

    // literal table (the single-query pqRankWith shape)
    val tlit = typedlit(tbl)
    assertBitIdentical(df,
      HofFolds.adcScoreHof(col("codes"), tlit, m, k),
      VectorFunctions.adcScore(col("codes"), tlit, m, k), "adc(literal tbl)")

    // per-row table column (the batch shape)
    val withTbl = df.withColumn("tbl", typedlit(tbl))
    assertBitIdentical(withTbl,
      HofFolds.adcScoreHof(col("codes"), col("tbl"), m, k),
      VectorFunctions.adcScore(col("codes"), col("tbl"), m, k), "adc(column tbl)")
  }

  test("GramDigests ≡ sortedGramDigests + adjacentDistinct, per row") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat the cat came back"),
      (2L, "vector stream merge vector stream merge vector"),
      (3L, "a b c d e f g h i j k l m n o p"),
      (4L, "repeat repeat repeat repeat repeat repeat repeat repeat"),
      (5L, "one two three"),
      (6L, "  leading and trailing   whitespace   collapse test  "),
      (7L, "ünïcode tökens mixed WITH case And 123 456 789 0 x y")
    ).toDF("doc_id", "text")
    for (n <- Seq(3, 8)) {
      val toks = docs
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ts"))
        .filter(size(col("ts")) >= n) // the call sites' precondition
      val rows = toks.select(
          operators.Dedup.sortedGramDigests(col("ts"), n).as("shs"),
          VectorFunctions.gramDigests(col("ts"), n).as("fused"))
        .select(operators.Dedup.adjacentDistinct(col("shs")).as("old"),
          col("fused"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val o = r.getSeq[String](0)
        val f = r.getSeq[String](1)
        assert(o == f, s"n=$n: old $o != fused $f")
      }
    }
  }

  test("GramDigests: size < n yields an empty array (call sites filter it out)") {
    import spark.implicits._
    val one = Seq(Seq("solo", "doc")).toDF("ts")
      .select(VectorFunctions.gramDigests(col("ts"), 8).as("d"))
      .first().getSeq[String](0)
    assert(one.isEmpty)
  }
}
