package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Disjoint LinUCB contextual bandit, Spark-native (SURVEY.md §2 A9/A10,
  * §3.3).
  *
  * Reference semantics: per product (arm) keep `A = I + Σ x·xᵀ`,
  * `b = Σ r·x`; store `A⁻¹` (not `A`) so serving never inverts
  * (`product-recommender/recsys-engine/src/bandit_manager.py:57-107`,
  * design note at `bandit_manager.py:63`); score an arm for context x as
  * `x·θ + α·√(xᵀA⁻¹x)` with `θ = A⁻¹b`
  * (`eda_recommender.py:78-92`); streaming training applies the same
  * update per event in keyed state (`recsys-trainer/.../LinUCBUpdater.kt:28-131`).
  *
  * Spark mapping: the batch seed is a typed [[Aggregator]] (partial
  * aggregation + merge — the same shape Spark gives every built-in agg,
  * so the 100 TB path is one shuffle on product_id with map-side
  * combine); matrices live as flat `Array[Double]` row-major buffers
  * (encoder-friendly, no boxing); inversion happens once per group at
  * `finish`, via Gauss-Jordan ([[LinAlg]]) — numerically equivalent to
  * the reference's commons-math LU (`LinUCBUpdater.kt:111-118`).
  */
object LinUCB {

  /** One observed interaction: arm, d-dim context, binary-ish reward. */
  case class Feedback(productId: String, x: Array[Double], reward: Double)

  /** Aggregation buffer: `a` is A (d×d row-major), `b` is b (d). */
  case class Buf(var d: Int, var a: Array[Double], var b: Array[Double], var n: Long)

  /** Published model: A⁻¹ (row-major) + b, as the reference's Redis JSON
    * (`RedisSinkWriter.kt:55-62`, fields productId/A_inv/b). */
  case class Model(productId: String, aInv: Array[Double], b: Array[Double],
                   d: Int, n: Long)

  private[graft] def outerAccum(a: Array[Double], x: Array[Double]): Unit = {
    val d = x.length
    var i = 0
    while (i < d) {
      val xi = x(i)
      var j = 0
      while (j < d) { a(i * d + j) += xi * x(j); j += 1 }
      i += 1
    }
  }

  /** Gauss-Jordan inverse ([[LinAlg.invertRowMajor]]) — agrees with the
    * reference's LU paths to round-off; keeping Breeze off the hot path
    * avoids its cold-JVM native-loader cost (see [[LinAlg]] scaladoc).
    * ScalaTest cross-checks this against Breeze `inv` directly. */
  private[graft] def invertRowMajor(a: Array[Double], d: Int): Array[Double] =
    LinAlg.invertRowMajor(a, d)

  /** A9: the batch-seed Aggregator — `A = I + Σxxᵀ`, `b = Σrx`,
    * inverted at finish. */
  class SeedAggregator(dim: Int) extends Aggregator[Feedback, Buf, Model] {
    override def zero: Buf = {
      val a = new Array[Double](dim * dim)
      var i = 0
      while (i < dim) { a(i * dim + i) = 1.0; i += 1 } // A starts at I
      Buf(dim, a, new Array[Double](dim), 0L)
    }
    override def reduce(buf: Buf, f: Feedback): Buf = {
      outerAccum(buf.a, f.x)
      var i = 0
      while (i < dim) { buf.b(i) += f.reward * f.x(i); i += 1 }
      buf.n += 1
      buf
    }
    override def merge(l: Buf, r: Buf): Buf = {
      var i = 0
      while (i < dim * dim) { l.a(i) += r.a(i); i += 1 }
      // both zeros contributed an identity — keep exactly one
      i = 0
      while (i < dim) { l.a(i * dim + i) -= 1.0; i += 1 }
      i = 0
      while (i < dim) { l.b(i) += r.b(i); i += 1 }
      l.n += r.n
      l
    }
    override def finish(buf: Buf): Model =
      Model("", invertRowMajor(buf.a, dim), buf.b, dim, buf.n)
    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[Model] = Encoders.product[Model]
  }

  /** [[SeedAggregator]] minus the inversion: emits the raw (A, b, n)
    * buffer, which is what the streaming trainer's initial state wants
    * (bootstrap-then-live, S18/T13). */
  class RawAggregator(dim: Int) extends Aggregator[Feedback, Buf, Buf] {
    private val inner = new SeedAggregator(dim)
    override def zero: Buf = inner.zero
    override def reduce(b: Buf, f: Feedback): Buf = inner.reduce(b, f)
    override def merge(l: Buf, r: Buf): Buf = inner.merge(l, r)
    override def finish(b: Buf): Buf = b
    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[Buf] = Encoders.product[Buf]
  }

  /** Batch seed job: one shuffle on productId, map-side partial
    * aggregation, LU inversion once per arm at finalize. */
  def seed(feedback: Dataset[Feedback], dim: Int): Dataset[Model] = {
    import feedback.sparkSession.implicits._
    feedback.groupByKey(_.productId)
      .agg(new SeedAggregator(dim).toColumn.name("model"))
      .map { case (pid, m) => m.copy(productId = pid) }
  }

  /** The MATERIALIZED model layer over the driver testdata: the seed
    * aggregation runs once per (session, sfDir) and the arm-bounded
    * model table (catalog-sized, never corpus-sized) is kept on the
    * driver — exactly what [[ModelStore]] does durably in production
    * (seed once, publish, every consumer reads the store). q30/q31/q41
    * all consume this layer instead of re-running the corpus seed pass
    * each, the same materialization discipline as
    * [[graft.operators.Dedup.materializedClusters]].
    *
    * Since round 11 the layer seeds through [[seedColumnarWithChol]] (the
    * decimal-exact sufficient statistics) rather than the double-fold
    * [[SeedAggregator]]: the sums become independent of partial-merge
    * order, so the fitted models are bit-stable across partitionings
    * AND externally recomputable — which is what graduated q30/q31
    * from rows-only to full DuckDB hash oracles. The Aggregator stays
    * as the streaming/typed operator surface (A9/A10) and the spec
    * asserts both paths agree to fp noise. */
  def seededModels(spark: SparkSession, sfDir: String): Array[Model] =
    seededArms(spark, sfDir).map(_._1)

  /** chol(A) per arm from the same layer build — the exact factors the
    * q41 oracle replays; see [[seedColumnarWithChol]]. */
  private[graft] def seededCholA(spark: SparkSession,
                                 sfDir: String): Map[String, Array[Double]] =
    seededArms(spark, sfDir).map { case (m, c) => m.productId -> c }.toMap

  private def seededArms(spark: SparkSession,
                         sfDir: String): Array[(Model, Array[Double])] =
    graft.Layers.value(spark, "linucb_models", sfDir) {
      seedColumnarWithChol(spark, sfDir).collect()
    }

  /** Serving-side score for one (context, model) pair:
    * `x·θ + α·√(xᵀA⁻¹x)`, `θ = A⁻¹b` (`eda_recommender.py:78-92`). */
  def score(x: Array[Double], m: Model, alpha: Double): Double = {
    val d = m.d
    // y = A⁻¹x (reused for both terms); θ·x = (A⁻¹b)·x = b·(A⁻¹x) since
    // A⁻¹ is symmetric.
    val y = new Array[Double](d)
    var i = 0
    while (i < d) {
      var acc = 0.0
      var j = 0
      while (j < d) { acc += m.aInv(i * d + j) * x(j); j += 1 }
      y(i) = acc
      i += 1
    }
    var mean = 0.0
    var varTerm = 0.0
    i = 0
    while (i < d) { mean += m.b(i) * y(i); varTerm += x(i) * y(i); i += 1 }
    mean + alpha * math.sqrt(math.max(varTerm, 0.0))
  }

  /** θ = A⁻¹b — the per-arm posterior mean, computable once per model. */
  def thetaOf(m: Model): Array[Double] = {
    val d = m.d
    val theta = new Array[Double](d)
    var i = 0
    while (i < d) {
      var acc = 0.0
      var j = 0
      while (j < d) { acc += m.aInv(i * d + j) * m.b(j); j += 1 }
      theta(i) = acc
      i += 1
    }
    theta
  }

  /** LinTS (Thompson sampling) score with DETERMINISTIC noise: sample
    * θ̃ = θ + ν·L·z with L = chol(A⁻¹) and z standard normals derived
    * from a caller-provided seed via Box-Muller over splitmix64 — the
    * reference's LinTS (`evaluate.py`, mabwiser) made reproducible, the
    * same fixed-seed discipline the reference applies everywhere
    * (seed 1237, `prepare_data.py:25`). Returns x·θ̃. The per-arm
    * factors (θ = [[thetaOf]], L) come in precomputed: per interaction
    * only the z draw (O(d)) and two dot products remain; the O(d³)
    * factorization happens once per ARM, not once per row. */
  def scoreTSPre(x: Array[Double], theta: Array[Double], l: Array[Double],
                 d: Int, nu: Double, seed: Long): Double = {
    // deterministic standard normals: splitmix64 stream → Box-Muller
    var s = seed
    def nextU(): Double = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      // (0,1]: avoid log(0)
      ((z >>> 11).toDouble + 1.0) / 9007199254740993.0
    }
    val z = new Array[Double](d)
    var i = 0
    while (i < d) {
      val u1 = nextU(); val u2 = nextU()
      z(i) = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
      i += 1
    }
    // score = x·θ + ν · x·(L z)
    var mean = 0.0
    var noise = 0.0
    i = 0
    while (i < d) {
      mean += x(i) * theta(i)
      var lz = 0.0
      var j = 0
      while (j <= i) { lz += l(i * d + j) * z(j); j += 1 }
      noise += x(i) * lz
      i += 1
    }
    mean + nu * noise
  }

  /** The exploration weight and the arms kept per context wherever
    * the engine serves: q31 and [[graft.streaming.LinUCBServeStream]]. */
  val ServeAlpha = 0.5
  val ServeK = 3

  /** J5/O2: score every arm for every context and keep top-k — the
    * serving path as one plan: contexts ⋈ broadcast(models) → score →
    * per-context top-k via row_number (no global sort). */
  def topK(contexts: DataFrame, models: Dataset[Model], alpha: Double, k: Int)
          (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val m = models.select($"productId", $"aInv", $"b", $"d")
    val scored = contexts.join(broadcast(m))
      .withColumn("score",
        round(graft.functions.linucbScore(col("x"), col("aInv"), col("b"), alpha), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ctx_id")).orderBy(desc("score"), asc("productId"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("ctx_id"), col("productId").as("product_id"),
        col("rank"), col("score"))
  }

  /** Deterministic Feedback derivation from the driver testdata (stands
    * in for the reference's feedback-events topic, FIXTURES.md §6):
    * arm = p_brand, context = scaled lineitem numerics + bias, reward =
    * a deterministic linear rule on the context — the engine-side
    * analog of the reference's rule-based ground truth
    * (`bandit_simulator.py:50-87`), which is what makes "a linear
    * policy must beat random" a meaningful oracle. */
  def feedbackFromLineitem(spark: SparkSession, sfDir: String): Dataset[Feedback] = {
    import spark.implicits._
    graft.operators.Similarity.spread(graft.Tables.lineitem(spark, sfDir))
      .join(broadcast(graft.Tables.part(spark, sfDir)),
        col("l_partkey") === col("p_partkey"))
      .select(
        col("p_brand").as("productId"),
        array(
          lit(1.0),
          col("l_quantity") / lit(50.0),
          col("l_extendedprice") / lit(100000.0),
          col("l_discount"),
          col("l_tax")).as("x"),
        clickReward.as("reward"))
      .as[Feedback]
  }

  /** The fixture's reward rule over a lineitem row (the bandit feedback
    * here and PolicyEval's interaction log): 1.0 when
    * `l_quantity·0.012 + l_discount·4 > 0.5`, else 0.0. */
  def clickReward: Column =
    when(col("l_quantity") * 0.012 + col("l_discount") * 4.0 > 0.5, 1.0).otherwise(0.0)

  val Dim = 5

  /** Columnar variant of the seed: `A[i][j] = Σ xᵢxⱼ` and
    * `b[i] = Σ r·xᵢ` as d(d+1)/2 + d sum() aggregates over column
    * products with decimal-exact (order-independent) arithmetic.
    * Spec-checked equal to the Aggregator path (to fp noise).
    *
    * Arithmetic chosen for BOTH speed and external recomputability:
    * each product is scaled to 12dp and rounded to an integer-valued
    * double (`round(xᵢ·xⱼ·1e12)`), summed as DECIMAL(38,0) — the
    * per-row decimal conversion takes Spark's compact-long fast path
    * (the earlier `cast(prod AS DECIMAL(28,12))` went double →
    * BigDecimal.valueOf → string parse per term and cost 4.7× the
    * typed path; the long-path closes most of that gap). Determinism
    * is cross-ENGINE, not just cross-run: the feedback components are
    * IEEE doubles an external engine derives identically from the
    * parquet bits (`qty/50.0`, `price/1e5`, …), every scaled product
    * sits ≥ 0.005 from a rounding boundary (the true values are
    * ≤ 14dp rationals, so the ·1e12 fractional part is a multiple of
    * 1/100) while fp error is ~1e-4, and an integer decimal sum has
    * no order dependence — so DuckDB replays A and b bit-for-bit,
    * which is what backs the q30/q31 hash oracles
    * (`SparkEntry.luStats` / `SparkEntry.luCholAliases`). At 12dp the
    * A entries agree with the unrounded double fold to ~√n·5e-13 —
    * inside the spec's 1e-9. The 38-digit accumulator makes the
    * per-arm row ceiling a non-issue: terms are ≤ ~1e14, so overflow
    * would need ~1e24 rows in ONE arm (a 20-digit sum overflowed —
    * and then NPE'd on the null — at a plausible ~1e8 rows/arm).
    *
    * Each arm's [[Model]] comes with the Cholesky lower factor of the
    * exact A (computed from the decimal sums BEFORE inversion, so it is
    * bit-equal to the q41 oracle's lateral-alias factorization of
    * `a_i_j = s_i_j (+1.0)` — [[LinAlg.choleskyLower]]'s subtraction
    * chain matches the SQL's left-associated alias chain term for
    * term). The published [[Model]] keeps the reference's Redis shape
    * (A⁻¹ + b, `RedisSinkWriter.kt:55-62`); the factor rides the
    * session layer only, for the oracle-exact q41 scoring path. */
  private[graft] def seedColumnarWithChol(
      spark: SparkSession, sfDir: String): Dataset[(Model, Array[Double])] = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val fb = feedbackFromLineitem(spark, sfDir).toDF()
    val x = (0 until Dim).map(i => element_at(col("x"), i + 1))
    val aggs =
      (for (i <- 0 until Dim; j <- i until Dim)
        yield sum(round(x(i) * x(j) * lit(1e12)).cast(dec))
          .cast("double").as(s"a_${i}_$j")) ++
      (0 until Dim).map(i =>
        sum(round(col("reward") * x(i) * lit(1e12)).cast(dec))
          .cast("double").as(s"b_$i")) :+
      count(lit(1)).as("n")
    fb.groupBy(col("productId")).agg(aggs.head, aggs.tail: _*)
      .map { row =>
        val a = new Array[Double](Dim * Dim)
        for (i <- 0 until Dim; j <- i until Dim) {
          val v = row.getAs[Double](s"a_${i}_$j") / 1e12
          a(i * Dim + j) = v
          a(j * Dim + i) = v
        }
        for (i <- 0 until Dim) a(i * Dim + i) += 1.0 // A = I + Σxxᵀ
        val b = (0 until Dim).map(i => row.getAs[Double](s"b_$i") / 1e12).toArray
        val model = Model(row.getString(0), invertRowMajor(a, Dim), b, Dim,
          row.getAs[Long]("n"))
        (model, LinAlg.choleskyLower(a, Dim))
      }
  }

  /** Rows-only query surface: per-arm seeded model, arrays exploded to
    * doubles so the parquet dump is flat and comparable run-to-run. */
  def seedQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(seededModels(spark, sfDir).toIndexedSeq)
      .select($"productId".as("product_id"), $"n",
        round(element_at($"aInv", 1), 9).as("ainv_00"),
        round(element_at($"aInv", Dim * Dim), 9).as(f"ainv_${Dim - 1}${Dim - 1}"),
        round(element_at($"b", 1), 6).as("b_0"),
        round(element_at($"b", Dim), 6).as(f"b_${Dim - 1}"))
  }

  /** Rows-only query surface: top-3 arms for 20 synthetic contexts. */
  def topKQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val models = spark.createDataset(seededModels(spark, sfDir).toIndexedSeq)
    val contexts = spark.range(20).select(
      col("id").as("ctx_id"),
      array(lit(1.0),
        (col("id") % 10).cast("double") / lit(10.0),
        (col("id") % 7).cast("double") / lit(7.0),
        (col("id") % 3).cast("double") / lit(30.0),
        lit(0.05)).as("x"))
    topK(contexts, models, ServeAlpha, ServeK)(spark)
  }
}
