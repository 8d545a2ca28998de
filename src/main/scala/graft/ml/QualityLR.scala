package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.TextOps

/** Model-based corpus quality scoring — the classifier step of a
  * training-data pipeline (the fastText/logistic quality filter of the
  * C4/CCNet lineage): distill the cheap heuristic gate
  * ([[TextOps.qualityScore]] `passes_quality`) into a CALIBRATED
  * logistic scorer, then score every document with a probability
  * instead of a hard boolean — the form downstream mixture/threshold
  * decisions actually want.
  *
  * Training is Newton/IRLS over a fixed 5-feature design: per
  * iteration ONE corpus pass aggregates the Hessian `Σ w·xxᵀ` (d×d,
  * d = 5) and gradient `Σ (y−p)·x` as DECIMAL sums of 12dp-rounded
  * terms — order-independent, so the fitted weights are bit-identical
  * under any partitioning (spec: retrain under a different shuffle
  * layout ⇒ identical weights; and ≡ a driver-side reference fold with
  * the same rounding). The d×d solve happens on the driver
  * ([[LinAlg.invertRowMajor]]) — constant-size work, like the LinUCB
  * finalize. Scoring is a pure column expression (weights enter as
  * literals): map-only, codegen'd, no UDF.
  */
object QualityLR {

  val Dim = 5

  /** IRLS Newton steps from β = 0, and the ridge added to the Hessian's
    * diagonal (the q111 oracle replays both). */
  val Iters = 4
  val Ridge = 1e-3

  /** Fixed design matrix over the quality stats: bias, log-length,
    * mean token length (scaled), stopword ratio, type-token ratio —
    * one row per document with the heuristic gate as the weak label. */
  def features(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.qualityScore(spark, sfDir).select(
      col("doc_id"),
      lit(1.0).as("x0"),
      log(col("n_chars").cast("double") + 1.0).as("x1"),
      (col("mean_token_len") / 10.0).as("x2"),
      col("stopword_ratio").as("x3"),
      col("type_token_ratio").as("x4"),
      col("passes_quality").cast("double").as("y"))

  private def xCols = (0 until Dim).map(i => col(s"x$i"))

  private def dot(beta: Array[Double]): org.apache.spark.sql.Column =
    xCols.zip(beta).map { case (c, b) => c * lit(b) }.reduce(_ + _)

  /** One Newton step's sufficient statistics, decimal-exact: each term
    * is rounded to 12dp BEFORE the sum, so the aggregate (and hence the
    * whole training trajectory) is independent of partitioning.
    * (A codegen-stable variant — β through a broadcast one-row frame so
    * iterations share one compiled aggregate — was measured SLOWER at
    * this dimensionality: the per-step broadcast exchange costs more
    * than the recompile it saves. Literals stay.) */
  private def newtonStep(feats: DataFrame, beta: Array[Double]): Array[Double] = {
    val dec = DecimalType(38, 12)
    val p = lit(1.0) / (lit(1.0) + exp(-dot(beta)))
    val w = p * (lit(1.0) - p)
    val aggs =
      (for (i <- 0 until Dim; j <- i until Dim)
        yield sum(round(w * xCols(i) * xCols(j), 12).cast(dec))
          .cast("double").as(s"h_${i}_$j")) ++
      (0 until Dim).map(i =>
        sum(round((col("y") - p) * xCols(i), 12).cast(dec))
          .cast("double").as(s"g_$i"))
    val row = feats.agg(aggs.head, aggs.tail: _*).head()
    val h = new Array[Double](Dim * Dim)
    for (i <- 0 until Dim; j <- i until Dim) {
      val v = row.getAs[Double](s"h_${i}_$j")
      h(i * Dim + j) = v
      h(j * Dim + i) = v
    }
    var i = 0
    while (i < Dim) { h(i * Dim + i) += Ridge; i += 1 }
    val hInv = LinAlg.invertRowMajor(h, Dim)
    val g = (0 until Dim).map(i => row.getAs[Double](s"g_$i")).toArray
    val next = beta.clone()
    for (i <- 0 until Dim) {
      var acc = 0.0
      var j = 0
      while (j < Dim) { acc += hInv(i * Dim + j) * g(j); j += 1 }
      next(i) += acc
    }
    next
  }

  /** IRLS training: [[Iters]] Newton steps from β = 0, one corpus pass
    * each. Deterministic by the decimal-term construction. The feature
    * frame is pinned (MEMORY_AND_DISK) for the duration of the loop —
    * the MLlib discipline for iterative optimizers: the text-processing
    * feature derivation runs once, each Newton pass re-reads the narrow
    * (d+2)-column cache, and the blocks are released when the last step
    * finishes. Values are unchanged (the decimal-term sums are
    * partitioning-independent by construction).
    *
    * Each step's β is rounded to 6dp (HALF_UP, matching SQL ROUND) —
    * trajectory pinning. The weak labels are near-separable, so the
    * 4-step trajectory is still mid-ascent (‖g‖ ≈ 45 after step 4)
    * and would otherwise amplify sub-ulp arithmetic differences
    * (solver path, libm exp skew) across steps; snapping β to a 5e-7
    * grid after every step absorbs ~1e-9 drift before it can
    * compound, which is what lets an external engine (the q111 DuckDB
    * oracle) replay the whole fit to an identical β. Semantically the
    * quantization is ~1e-8 relative on O(10..80) weights — noise. */
  def train(feats: DataFrame): Array[Double] = {
    val pinned = feats.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var beta = new Array[Double](Dim)
      var it = 0
      while (it < Iters) { beta = newtonStep(pinned, beta).map(round6); it += 1 }
      beta
    } finally pinned.unpersist(blocking = false): Unit
  }

  /** 6dp HALF_UP — the exact arithmetic of SQL `ROUND(x, 6)`. */
  private def round6(v: Double): Double =
    new java.math.BigDecimal(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** q111 surface: every document scored with the calibrated quality
    * probability — map-only column math over the broadcast weights (the
    * heuristic gate rides along for threshold calibration readouts).
    * The IRLS fit and the scoring both read the design matrix, so it is
    * checkpointed once: the tokenization pass behind [[features]] runs
    * once, and the checkpoint holds the narrow (d+2)-column frame only
    * (doc_id, five doubles, y), not the corpus text. */
  def scoreDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = features(spark, sfDir).localCheckpoint()
    val beta = train(feats)
    feats.select(
      col("doc_id"),
      round(lit(1.0) / (lit(1.0) + exp(-dot(beta))), 6).as("quality_prob"),
      col("y").cast("boolean").as("heuristic_gate"))
  }
}
