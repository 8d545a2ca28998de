package graft.ml

import org.apache.spark.sql.functions._

import graft.SparkSpec

class QualityLRSpec extends SparkSpec {

  test("IRLS weights are partitioning-independent and match a local reference fold") {
    val feats = QualityLR.features(spark, sf("0.01"))
    val w1 = QualityLR.train(feats)
    // same data, radically different shuffle layout ⇒ identical weights
    // (the decimal-term construction makes every aggregate exact)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val w2 = try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      QualityLR.train(feats.repartition(3))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    assert(w1.sameElements(w2), "weights vary with partitioning")

    // driver-side reference: the same Newton trajectory folded locally
    // with the SAME 12dp per-term rounding — must agree to fp noise of
    // the (driver-side, order-fixed) solve
    val rows = feats.select("x0", "x1", "x2", "x3", "x4", "y").collect()
      .map(r => (Array(r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)), r.getDouble(5)))
    val d = QualityLR.Dim
    var beta = new Array[Double](d)
    for (_ <- 0 until 4) {
      val h = new Array[java.math.BigDecimal](d * d)
      val g = new Array[java.math.BigDecimal](d)
      java.util.Arrays.fill(h.asInstanceOf[Array[AnyRef]], java.math.BigDecimal.ZERO)
      java.util.Arrays.fill(g.asInstanceOf[Array[AnyRef]], java.math.BigDecimal.ZERO)
      def r12(v: Double) = new java.math.BigDecimal(v)
        .setScale(12, java.math.RoundingMode.HALF_UP)
      rows.foreach { case (x, y) =>
        var acc = 0.0
        for (i <- 0 until d) acc += x(i) * beta(i)
        val p = 1.0 / (1.0 + math.exp(-acc))
        val w = p * (1.0 - p)
        for (i <- 0 until d; j <- i until d)
          h(i * d + j) = h(i * d + j).add(r12(w * x(i) * x(j)))
        for (i <- 0 until d) g(i) = g(i).add(r12((y - p) * x(i)))
      }
      val hm = new Array[Double](d * d)
      for (i <- 0 until d; j <- i until d) {
        hm(i * d + j) = h(i * d + j).doubleValue()
        hm(j * d + i) = hm(i * d + j)
      }
      for (i <- 0 until d) hm(i * d + i) += 1e-3
      val hInv = LinAlg.invertRowMajor(hm, d)
      val next = beta.clone()
      for (i <- 0 until d) {
        var acc = 0.0
        for (j <- 0 until d) acc += hInv(i * d + j) * g(j).doubleValue()
        next(i) += acc
      }
      // trajectory pinning, same as QualityLR.train
      beta = next.map(v => new java.math.BigDecimal(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    w1.zip(beta).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"weights diverge: $a vs $b")
    }
  }

  test("calibrated probabilities rank the heuristic gate well above random") {
    val scored = QualityLR.scoreDocs(spark, sf("0.01"))
    val auc = PolicyEval.aucPerPolicy(scored, lit("_"),
        col("quality_prob"), col("heuristic_gate").cast("double"))
      .head().getAs[Double]("auc")
    assert(auc > 0.9, s"distilled scorer AUC $auc — not tracking the gate")
    // probabilities are probabilities
    val bad = scored.filter(col("quality_prob") < 0 || col("quality_prob") > 1).count()
    assert(bad == 0)
  }
}
