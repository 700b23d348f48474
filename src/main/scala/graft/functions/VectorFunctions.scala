package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math over
  * ArrayType(FloatType) embedding columns.
  *
  * Two tiers (both distributed, per-row, shuffle-free):
  *  - `CosineSimilarity` / `VectorDot`: single-pass double accumulation
  *    with whole-stage codegen (`doGenCode`) — the 100 TB hot path; one
  *    fused loop, no per-element object allocation, stays inside
  *    WholeStageCodegen.
  *  - `dotExact` / `cosineExact`: DECIMAL(38,20)-accumulated folds built
  *    from `zip_with`/`aggregate` — order-independent bit-exact results
  *    used for oracle-checked queries (double summation order differs
  *    between engines; exact decimal summation does not).
  */
object VectorFunctions {

  /** cos(a,b) in one fused pass (dot, |a|, |b| together). */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val xi = x.getFloat(i).toDouble
        val yi = y.getFloat(i).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        // freshName everywhere: two of these in one projection must not
        // redefine each other's locals (janino rejects shadowing and the
        // whole stage silently falls back to interpreted)
        val (n, dot, na, nb, i, xi, yi) = (ctx.freshName("n"),
          ctx.freshName("dot"), ctx.freshName("na"), ctx.freshName("nb"),
          ctx.freshName("i"), ctx.freshName("xi"), ctx.freshName("yi"))
        s"""
        |int $n = Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0, $na = 0.0, $nb = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $xi = (double) $a.getFloat($i);
        |  double $yi = (double) $b.getFloat($i);
        |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        |}
        |${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
        |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** dot(a,b) with double accumulation, codegen'd. */
  case class VectorDot(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var i = 0
      while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      dot
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val (n, dot, i) = (ctx.freshName("n"), ctx.freshName("dot"),
          ctx.freshName("i"))
        s"""
        |int $n = Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
        |}
        |${ev.value} = $dot;
        |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Full hyperplane-LSH bucket id in ONE fused codegen'd pass: all
    * plane dot products against the embedding computed in a single loop
    * nest over the float array, sign bits packed into a long. Replaces
    * nPlanes exact-DECIMAL `zip_with`+`aggregate` folds (~50× the cost)
    * on the production path; the exact variant remains the oracle-parity
    * tier. Sign agreement between the two tiers is asserted in
    * SimilaritySpec (they can differ only when a dot lies within
    * double-vs-decimal drift of 0, ~1e-14 for 64-dim unit vectors).
    */
  case class LshBucket(child: Expression, planes: Seq[Seq[Double]])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def dataType: DataType = LongType

    private val nPlanes = planes.length
    private val dim = if (planes.isEmpty) 0 else planes.head.length
    @transient private lazy val flat: Array[Double] = planes.flatten.toArray

    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), dim)
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        var dot = 0.0
        var j = 0
        while (j < n) { dot += x.getFloat(j).toDouble * flat(p * dim + j); j += 1 }
        if (dot > 0) bucket |= (1L << p)
        p += 1
      }
      bucket
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val planesRef = ctx.addReferenceObj("lshPlanes", flat, "double[]")
      // fresh names: several LshBucket instances can be inlined into
      // ONE generated method (e.g. the multi-table projection), and a
      // non-nullable child skips the scoping braces
      val (n, bucket, dot, p, j) = (ctx.freshName("n"), ctx.freshName("bucket"),
        ctx.freshName("dot"), ctx.freshName("p"), ctx.freshName("j"))
      nullSafeCodeGen(ctx, ev, a => s"""
        |int $n = Math.min($a.numElements(), $dim);
        |long $bucket = 0L;
        |for (int $p = 0; $p < $nPlanes; $p++) {
        |  double $dot = 0.0;
        |  for (int $j = 0; $j < $n; $j++) {
        |    $dot += (double) $a.getFloat($j) * $planesRef[$p * $dim + $j];
        |  }
        |  if ($dot > 0) $bucket |= (1L << $p);
        |}
        |${ev.value} = $bucket;
        |""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Registry builder: the planes arrive as any FOLDABLE
    * array<array<double>> expression — a typedlit Literal from the
    * Scala API, or `array(array(...))` written in SQL text (builders
    * run before constant folding, so the SQL form is a CreateArray, not
    * yet a Literal) — and are evaluated at plan time into the
    * expression's embedded constant (so codegen sees a plain double[]). */
  def lshBucketBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"lsh_bucket expects 2 arguments, got ${exprs.length}")
    val planesExpr = exprs(1)
    val planes = (planesExpr.foldable, planesExpr.dataType) match {
      case (true, ArrayType(ArrayType(DoubleType, _), _)) =>
        val ad = planesExpr.eval().asInstanceOf[ArrayData]
        (0 until ad.numElements()).map { p =>
          val row = ad.getArray(p)
          (0 until row.numElements()).map(row.getDouble).toSeq
        }.toSeq
      case _ => throw new IllegalArgumentException(
        s"lsh_bucket planes must be a foldable array<array<double>>, got $planesExpr")
    }
    LshBucket(exprs.head, planes)
  }

  def lshBucket(spark: SparkSession, emb: Column, planes: Seq[Seq[Double]]): Column = {
    register(spark)
    call_function("lsh_bucket", emb, typedlit(planes))
  }

  /** Register the native functions in the session's function registry so
    * they are usable as Columns via call_function and in SQL text.
    * Idempotent AND quiet: sessions built withExtensions(GraftExtensions)
    * already carry these, and re-registering logs a "replacing" WARN per
    * call — so only fill in names that are actually missing. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def ifMissing(name: String)(add: => Unit): Unit =
      if (!reg.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name))) add
    ifMissing("cosine_sim")(reg.createOrReplaceTempFunction("cosine_sim",
      exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in"))
    ifMissing("vec_dot")(reg.createOrReplaceTempFunction("vec_dot",
      exprs => VectorDot(exprs(0), exprs(1)), "built-in"))
    ifMissing("vector_avg")(reg.createOrReplaceTempFunction("vector_avg",
      exprs => VectorAvg(exprs.head).toAggregateExpression(), "built-in"))
    ifMissing("lsh_bucket")(
      reg.createOrReplaceTempFunction("lsh_bucket", lshBucketBuilder, "built-in"))
    ifMissing("minhash_sigs")(
      reg.createOrReplaceTempFunction("minhash_sigs", minhashSigsBuilder, "built-in"))
    ifMissing("simhash32")(
      reg.createOrReplaceTempFunction("simhash32",
        simhash32Builder, "built-in"))
  }

  /** Shared arity-checked builder — the temp-function registration and
    * GraftExtensions must behave identically (a stray extra argument
    * errors instead of being silently ignored). */
  def simhash32Builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"simhash32 expects 1 argument, got ${exprs.length}")
    SimHash32(exprs.head)
  }

  def simhash32(spark: SparkSession, toks: Column): Column = {
    register(spark)
    call_function("simhash32", toks)
  }

  /** Registry builder: k arrives as a foldable int literal. */
  def minhashSigsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"minhash_sigs expects 2 arguments, got ${exprs.length}")
    val kExpr = exprs(1)
    require(kExpr.foldable && kExpr.dataType == IntegerType,
      s"minhash_sigs width must be a foldable int, got $kExpr")
    MinHashSigs(exprs.head, kExpr.eval().asInstanceOf[Int])
  }

  def minhashSigs(spark: SparkSession, toks: Column, k: Int): Column = {
    register(spark)
    call_function("minhash_sigs", toks, lit(k))
  }

  def vectorAvg(spark: SparkSession, a: Column): Column = {
    register(spark)
    call_function("vector_avg", a)
  }

  def cosineSim(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("cosine_sim", a, b)
  }

  // ---------------------------------------------------------------
  // Exact (order-independent) decimal variants for oracle parity.
  // Since r18 the production forms are the fused native expressions
  // (DotExactDec / CosineExactDec — one codegen'd loop per row); the
  // zip_with/aggregate Column folds they replaced live in test scope
  // as graft.HofFolds, where DecimalFoldParitySpec pins bit-identity
  // between the two forms.

  private def expr(c: Column) =
    org.apache.spark.sql.GraftColumnShim.expression(c)
  private def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftColumnShim.column(e)

  /** Σ a_i*b_i with each product cast to DECIMAL(38,20) before an exact
    * sum — identical on every engine regardless of accumulation order.
    * Fused native ([[DotExactDec]]); bit-parity with the test-scope
    * `graft.HofFolds.dotExactHof`. */
  def dotExact(a: Column, b: Column): Column =
    toCol(DotExactDec(expr(a), expr(b)))

  def normExact(a: Column): Column = sqrt(dotExact(a, a))

  /** dot/(‖a‖·‖b‖), all three decimal folds in ONE pass over the
    * arrays ([[CosineExactDec]]); bit-parity with the composed form. */
  def cosineExact(a: Column, b: Column): Column =
    toCol(CosineExactDec(expr(a), expr(b)))

  /** The PQ ADC table-lookup sum ([[AdcScore]]) — `tbl` may be a
    * folded literal (single-query) or a per-row broadcast column
    * (batch); bit-parity with the zip_with/element_at fold. */
  def adcScore(codes: Column, tbl: Column, m: Int, k: Int): Column =
    toCol(AdcScore(expr(codes), expr(tbl), m, k))

  /** Sorted distinct md5 n-gram digests ([[GramDigests]]) — the fused
    * form of Dedup.sortedGramDigests + adjacentDistinct. */
  def gramDigests(toks: Column, n: Int): Column =
    toCol(GramDigests(expr(toks), n))

  /** The matching DuckDB rendering (for oracle SQL generators):
    * cast(sum(cast(x*y as decimal(38,20))) as double) over positionally
    * unnested arrays. */
  val oracleDotNote: String =
    "cast(sum(cast(x*y as decimal(38,20))) as double)"
}
