package graft

import org.apache.spark.sql.{Column, GraftShims, SparkSession}

/** Column-API entry points for the engine's custom Catalyst expressions. */
package object functions {
  private def wrap(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftShims.column(e)
  private def ex(c: Column) = GraftShims.expression(c)

  /** 64-bit FNV-1a fingerprint of a string column (codegen'd). */
  def fnv1a64(c: Column): Column = wrap(Fnv1a64(ex(c)))

  /** Engine-portable polynomial rolling fingerprint (mod 1e9+7 over
    * codepoints) — SQL-reproducible on any engine. */
  def polyHash64(c: Column): Column = wrap(PolyHash64(ex(c)))

  /** Dot product of two `array<float>` columns in double (codegen'd). */
  def dotF32(a: Column, b: Column): Column = wrap(DotProductF32(ex(a), ex(b)))

  /** MinHash signature (`array<long>`, k slots) of an `array<string>`. */
  def minhashSig(c: Column, k: Int): Column = wrap(MinHashSig(ex(c), k))

  /** 60-bit engine-portable SimHash of an `array<string>`. */
  def simhash60(c: Column): Column = wrap(SimHash60(ex(c)))

  /** Engine-portable SRP signature (integer-arithmetic weights — an
    * external SQL engine can recompute it; see [[PortableSrpSig]]). */
  def srpSigPortable(c: Column, planes: Int, planeOffset: Int = 0): Column =
    wrap(PortableSrpSig(ex(c), planes, planeOffset))

  /** Distinct word n-gram shingles of a string column (null if < n
    * tokens). */
  def wordShingles(c: Column, n: Int): Column = wrap(WordShingles(ex(c), n))

  /** Morton (z-order) interleave of the low `bits` bits of two long
    * columns (codegen'd single loop; declarative fold twin in
    * [[graft.operators.ZOrder.interleave]]). */
  def zorder2(x: Column, y: Column, bits: Int): Column =
    wrap(ZOrderInterleave(ex(x), ex(y), bits))

  /** Indices of the `nProbe` nearest centroids (squared L2) against a
    * plan-time k×d row-major centroid matrix (IVF assignment/probe). */
  def nearestCentroids(c: Column, centroids: Array[Double], nCentroids: Int,
                       nProbe: Int): Column =
    wrap(NearestCentroids(ex(c), centroids, nCentroids, nProbe))

  /** LinUCB serving score `x·θ + α·√(xᵀA⁻¹x)` (codegen'd; arrays of
    * double, α fixed at plan time). */
  def linucbScore(x: Column, aInv: Column, b: Column, alpha: Double): Column =
    wrap(LinUcbScore(ex(x), ex(aInv), ex(b), alpha))

  /** Both LinUCB serving scores (greedy, UCB at α) from one solve
    * through chol(A) — `array(greedy, ucb)`, forward/back solves
    * replaying the q41 oracle's float chain exactly (codegen'd; α fixed
    * at plan time). */
  def linucbCholScorePair(x: Column, b: Column, lcholA: Column,
                          alpha: Double): Column =
    wrap(LinUcbCholScorePair(ex(x), ex(b), ex(lcholA), alpha))

  /** Deterministic LinTS score `x·θ + ν·x·(L z(seed))` (codegen'd). */
  def linTsScore(x: Column, theta: Column, lchol: Column, seed: Column,
                 nu: Double): Column =
    wrap(LinTsScore(ex(x), ex(theta), ex(lchol), ex(seed), nu))

  /** First splitmix64 U(0,1] of a bigint seed column (codegen'd). */
  def seededUniform(seed: Column): Column = wrap(SeededUniformExpr(ex(seed)))

  /** First splitmix64/Box-Muller standard normal of a bigint seed
    * column (codegen'd). */
  def seededNormal(seed: Column): Column = wrap(SeededNormalExpr(ex(seed)))

  /** Deterministic v4-format UUID of a bigint seed column (codegen'd). */
  def seededUuid(seed: Column): Column = wrap(SeededUuid(ex(seed)))

  /** Deterministic regexify over the supported subset (alternations,
    * char classes, `\d`/`\w`, `{n}` quantifiers) — plan-time pattern,
    * per-row seed (codegen'd). */
  def regexGen(pattern: String, seed: Column): Column =
    wrap(RegexGen(ex(seed), pattern))

  /** Scatter sparse (indices, values) into a `size`-wide dense
    * `array<double>` (codegen'd). */
  def scatterDense(idx: Column, vals: Column, size: Int): Column =
    wrap(ScatterDense(ex(idx), ex(vals), size))

  /** Project an `array<double>` through a plan-time v×k row-major
    * matrix, 6dp-rounded (codegen'd). */
  def matVecProject(x: Column, proj: Array[Double], v: Int, k: Int): Column =
    wrap(MatVecProject(ex(x), proj, v, k))

  private def doubleArg(e: org.apache.spark.sql.catalyst.expressions.Expression): Double = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"expected a numeric literal argument, got non-literal ${e.sql}")
    e.eval(null) match {
      case d: Double => d
      case f: Float => f.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"expected a numeric literal argument, got $other")
    }
  }

  private def intArg(e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"expected an integer literal argument, got non-literal ${e.sql}")
    e.eval(null) match {
      case i: Int => i
      case l: Long if l >= 1 && l <= Int.MaxValue => l.toInt
      case other => throw new IllegalArgumentException(
        s"expected a positive integer literal argument, got $other")
    }
  }

  /** One source of truth for the SQL surface: name → expression builder.
    * The int-parameterized functions take a foldable literal second
    * argument (e.g. `minhash_sig(shingles, 64)`). Consumed by both
    * [[registerAll]] (imperative, per-session) and
    * [[graft.GraftExtensions]] (`spark.sql.extensions` config). */
  private[graft] val sqlBuilders: Seq[
      (String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    "fnv1a64" -> (exprs => Fnv1a64(exprs.head)),
    "poly_hash64" -> (exprs => PolyHash64(exprs.head)),
    "dot_f32" -> (exprs => DotProductF32(exprs.head, exprs(1))),
    "simhash60" -> (exprs => SimHash60(exprs.head)),
    "minhash_sig" -> (exprs => MinHashSig(exprs.head, intArg(exprs(1)))),
    "srp_sig_portable" -> (exprs => PortableSrpSig(exprs.head, intArg(exprs(1)),
      if (exprs.length > 2) intArg(exprs(2)) else 0)),
    "word_shingles" -> (exprs => WordShingles(exprs.head, intArg(exprs(1)))),
    "zorder2" -> (exprs => ZOrderInterleave(exprs.head, exprs(1), intArg(exprs(2)))),
    "seeded_uniform" -> (exprs => SeededUniformExpr(exprs.head)),
    "seeded_normal" -> (exprs => SeededNormalExpr(exprs.head)),
    "linucb_score" -> (exprs =>
      LinUcbScore(exprs.head, exprs(1), exprs(2), doubleArg(exprs(3)))),
    "lints_score" -> (exprs =>
      LinTsScore(exprs.head, exprs(1), exprs(2), exprs(3), doubleArg(exprs(4)))),
    "seeded_uuid" -> (exprs => SeededUuid(exprs.head)),
    "regex_gen" -> (exprs => RegexGen(exprs(1), stringArg(exprs.head))),
  )

  private def stringArg(e: org.apache.spark.sql.catalyst.expressions.Expression): String = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"expected a string literal argument, got non-literal ${e.sql}")
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"expected a string literal argument, got $other")
    }
  }

  /** Register SQL-callable names for ALL custom expressions on an
    * already-built session. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
