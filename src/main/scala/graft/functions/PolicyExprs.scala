package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native codegen'd policy-scoring expressions for the offline bandit
  * benchmark ([[graft.ml.PolicyEval]]) — the de-UDF'd hot path.
  *
  * The round-5 form scored every interaction through five Scala UDFs
  * (serialize/deserialize per row, whole-stage codegen broken on the
  * scoring subtree); these expressions keep the identical arithmetic —
  * bit-for-bit, loop order and all, against [[graft.ml.LinUCB.score]] /
  * [[graft.ml.LinUCB.scoreTSPre]] / the splitmix64 draw helpers — but
  * run as one static JVM call per row inside generated code, the same
  * pattern as [[DotProductF32]]/[[NearestCentroids]].
  *
  * Reference semantics: `recsys-engine/evaluate.py:62-108` (the policy
  * roster), `eda_recommender.py:78-92` (the UCB score form).
  */
object PolicyMath {

  /** `x·θ + α·√(xᵀA⁻¹x)` with θ = A⁻¹b — exactly
    * [[graft.ml.LinUCB.score]] over ArrayData. d = |x|; aInv is d×d
    * row-major. */
  def linUcbScore(x: ArrayData, aInv: ArrayData, b: ArrayData,
                  alpha: Double): Double = {
    val d = x.numElements()
    val y = new Array[Double](d)
    var i = 0
    while (i < d) {
      var acc = 0.0
      var j = 0
      while (j < d) { acc += aInv.getDouble(i * d + j) * x.getDouble(j); j += 1 }
      y(i) = acc
      i += 1
    }
    var mean = 0.0
    var varTerm = 0.0
    i = 0
    while (i < d) {
      mean += b.getDouble(i) * y(i)
      varTerm += x.getDouble(i) * y(i)
      i += 1
    }
    mean + alpha * math.sqrt(math.max(varTerm, 0.0))
  }

  /** BOTH serving scores — the greedy mean (α = 0) and the UCB score at
    * the given α — computed through the CHOLESKY factors of A instead
    * of the precomputed inverse, from ONE forward/back solve: `w = A⁻¹x`
    * via forward solve `L z = x` then back solve `Lᵀ w = z`,
    * `mean = b·w`, `var = x·w`. The float-operation chain (subtraction
    * order inside each solve step, term order of the two dot products,
    * the `max(·,0)` guard under the sqrt) mirrors the q41 oracle's
    * lateral aliases (`SparkEntry.luCholAliases`/`luSolveAliases`)
    * EXACTLY, so given bit-identical stats (the decimal-exact seed
    * layer) the two engines produce bit-identical scores — the oracle
    * is exact by construction, not merely "solver gap far inside the
    * rounding". `l` is the d×d row-major lower factor of A itself (NOT
    * of A⁻¹, which is what the TS draw uses). Element 0 is the bare
    * `mean`, matching the oracle's `ROUND(mu, 9)` with no `+ 0·√·` term
    * (a `-0.0` mean must not flip sign), element 1 is
    * `mean + α·√(max(var, 0))`. The melted q41 frame scores every
    * interaction under both policies, so one solve serves both. */
  def linUcbCholScorePair(x: ArrayData, b: ArrayData, l: ArrayData,
                          alpha: Double): ArrayData = {
    val d = x.numElements()
    val z = new Array[Double](d)
    var i = 0
    while (i < d) {
      var acc = x.getDouble(i)
      var k = 0
      while (k < i) { acc -= l.getDouble(i * d + k) * z(k); k += 1 }
      z(i) = acc / l.getDouble(i * d + i)
      i += 1
    }
    val w = new Array[Double](d)
    i = d - 1
    while (i >= 0) {
      var acc = z(i)
      var k = i + 1
      while (k < d) { acc -= l.getDouble(k * d + i) * w(k); k += 1 }
      w(i) = acc / l.getDouble(i * d + i)
      i -= 1
    }
    var mean = b.getDouble(0) * w(0)
    var varTerm = x.getDouble(0) * w(0)
    i = 1
    while (i < d) {
      mean += b.getDouble(i) * w(i)
      varTerm += x.getDouble(i) * w(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(mean, mean + alpha * math.sqrt(math.max(varTerm, 0.0))))
  }

  /** Thompson-sampling score `x·θ + ν·x·(Lz)` with deterministic
    * splitmix64/Box-Muller normals — exactly
    * [[graft.ml.LinUCB.scoreTSPre]] over ArrayData. */
  def linTsScore(x: ArrayData, theta: ArrayData, l: ArrayData,
                 nu: Double, seed: Long): Double = {
    val d = x.numElements()
    var s = seed
    def nextU(): Double = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      ((z >>> 11).toDouble + 1.0) / 9007199254740993.0
    }
    val z = new Array[Double](d)
    var i = 0
    while (i < d) {
      val u1 = nextU(); val u2 = nextU()
      z(i) = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
      i += 1
    }
    var mean = 0.0
    var noise = 0.0
    i = 0
    while (i < d) {
      mean += x.getDouble(i) * theta.getDouble(i)
      var lz = 0.0
      var j = 0
      while (j <= i) { lz += l.getDouble(i * d + j) * z(j); j += 1 }
      noise += x.getDouble(i) * lz
      i += 1
    }
    mean + nu * noise
  }

  /** First U(0,1] of the splitmix64 stream — exactly
    * [[graft.ml.PolicyEval.seededUniform]]. */
  def seededUniform(seed: Long): Double = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    ((z >>> 11).toDouble + 1.0) / 9007199254740993.0
  }

  /** First standard normal (Box-Muller over splitmix64) — exactly
    * [[graft.ml.PolicyEval.seededNormal]]. */
  def seededNormal(seed: Long): Double = {
    val u1 = seededUniform(seed)
    val u2 = seededUniform(seed + 0x9e3779b97f4a7c15L)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  private[functions] def requireDoubleArrays(name: String,
      exprs: Seq[Expression]): TypeCheckResult = {
    val bad = exprs.filterNot(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires array<double> arguments, got " +
        bad.map(_.dataType.simpleString).mkString(", "))
  }
}

/** LinUCB serving score as a native expression:
  * `linucb_score(x, aInv, b)` with plan-time α. */
case class LinUcbScore(first: Expression, second: Expression,
                       third: Expression, alpha: Double)
    extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    PolicyMath.requireDoubleArrays("linucb_score", Seq(first, second, third))

  override def nullSafeEval(x: Any, aInv: Any, b: Any): Any =
    PolicyMath.linUcbScore(x.asInstanceOf[ArrayData],
      aInv.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], alpha)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, a, b) =>
      s"${ev.value} = graft.functions.PolicyMath.linUcbScore($x, $a, $b, $alpha);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): LinUcbScore =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "linucb_score"
}

/** Both LinUCB serving scores (greedy mean and UCB at plan-time α)
  * through the Cholesky factors of A, the q41 oracle-exact form, from
  * one solve: `linucb_chol_score_pair(x, b, lcholA)` →
  * `array(greedy, ucb)`. */
case class LinUcbCholScorePair(first: Expression, second: Expression,
                               third: Expression, alpha: Double)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    PolicyMath.requireDoubleArrays("linucb_chol_score_pair",
      Seq(first, second, third))

  override def nullSafeEval(x: Any, b: Any, l: Any): Any =
    PolicyMath.linUcbCholScorePair(x.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], l.asInstanceOf[ArrayData], alpha)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, b, l) =>
      s"${ev.value} = graft.functions.PolicyMath.linUcbCholScorePair($x, $b, $l, $alpha);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): LinUcbCholScorePair =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "linucb_chol_score_pair"
}

/** LinTS score as a native expression:
  * `lints_score(x, theta, lchol, seed)` with plan-time ν. */
case class LinTsScore(first: Expression, second: Expression,
                      third: Expression, fourth: Expression, nu: Double)
    extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    val arrays =
      PolicyMath.requireDoubleArrays("lints_score", Seq(first, second, third))
    if (arrays != TypeCheckResult.TypeCheckSuccess) arrays
    else if (fourth.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lints_score seed must be bigint, got ${fourth.dataType.simpleString}")
  }

  override def nullSafeEval(x: Any, theta: Any, l: Any, seed: Any): Any =
    PolicyMath.linTsScore(x.asInstanceOf[ArrayData],
      theta.asInstanceOf[ArrayData], l.asInstanceOf[ArrayData],
      nu, seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, t, l, s) =>
      s"${ev.value} = graft.functions.PolicyMath.linTsScore($x, $t, $l, $nu, $s);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): LinTsScore =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
  override def prettyName: String = "lints_score"
}

/** First splitmix64 uniform of a seed column (deterministic ε-greedy /
  * exploration draws). */
case class SeededUniformExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"seeded_uniform requires bigint, got ${child.dataType.simpleString}")
  override def nullSafeEval(seed: Any): Any =
    PolicyMath.seededUniform(seed.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.PolicyMath.seededUniform($s)")
  override protected def withNewChildInternal(newChild: Expression): SeededUniformExpr =
    copy(child = newChild)
  override def prettyName: String = "seeded_uniform"
}

/** First splitmix64/Box-Muller standard normal of a seed column
  * (deterministic Thompson draws for cluster posteriors). */
case class SeededNormalExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"seeded_normal requires bigint, got ${child.dataType.simpleString}")
  override def nullSafeEval(seed: Any): Any =
    PolicyMath.seededNormal(seed.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.PolicyMath.seededNormal($s)")
  override protected def withNewChildInternal(newChild: Expression): SeededNormalExpr =
    copy(child = newChild)
  override def prettyName: String = "seeded_normal"
}
