package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** End-to-end exercise of [[Similarity.deriveNProbe]]'s above-ceiling
  * branch — the configuration no fixture scale reaches (every driver
  * corpus is 500–5,000 vectors, below the 8192 probe-all ceiling).
  * Builds a 10,000-vector CLUSTERED corpus (cluster structure is the
  * regime IVF is designed for; the near-random fixture embeddings
  * scatter true neighbors across cells, which is why the q127 spec's
  * agreement floor sits at 0.25), lets `nProbe` default through the
  * scale branch, and asserts the three claims the 100 TB story makes:
  * the derived default IS the audited sub-quadratic setting, the
  * candidate join stays a cell equi-join (never nested-loop), and the
  * approximation agrees with exact brute-force kNN on ≥95% of
  * predictions.
  */
class AboveCeilingKnnSpec extends SparkSpec {

  private val N = 10000       // > Similarity.ProbeAllMaxVectors = 8192
  private val Dim = 64
  private val Clusters = 10
  private val dir = "target/test-knn-scale"

  /** Deterministic clustered corpus: `Clusters` well-separated unit
    * centers (coordinates from a seeded PRNG), points = center + small
    * noise, label = cluster id. Driver-side generation is fine here —
    * 10k × 64 floats is ~2.5 MB of fixture, not corpus-scale work. */
  private lazy val corpusDir: String = {
    val rnd = new scala.util.Random(0xC0FFEE)
    val centers = Array.fill(Clusters, Dim)(rnd.nextGaussian())
    val rows = (0 until N).map { i =>
      val c = i % Clusters
      val v = Array.tabulate(Dim)(j =>
        (centers(c)(j) + 0.08 * rnd.nextGaussian()).toFloat)
      Row(i.toLong, v.toSeq, c)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 4), schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def preds(df: DataFrame): Map[Long, Int] = {
    import spark.implicits._
    df.select("vec_id", "predicted_label").as[(Long, Int)].collect().toMap
  }

  test("above the ceiling, the derived default is the audited sub-quadratic config") {
    val d = corpusDir
    assert(graft.Tables.embeddings(spark, d).count() > Similarity.ProbeAllMaxVectors)
    val derived = Similarity.knnClassify(spark, d)
    val pinned = Similarity.knnClassify(spark, d,
      nProbe = Similarity.DefaultScaleNProbe)
    // full-row equality (votes + decimal sim_sum included): the
    // derived default must BE the nProbe=4 configuration, end-to-end
    assert(derived.exceptAll(pinned).isEmpty && pinned.exceptAll(derived).isEmpty,
      "derived default above the ceiling diverged from the audited nProbe=4 run")
  }

  test("above-ceiling candidate generation stays a cell equi-join") {
    val p = Similarity.knnClassify(spark, corpusDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"scale-branch kNN degenerated to a quadratic join strategy:\n$p")
  }

  test("4/16 probes agree with exact brute-force on >= 95% of a clustered corpus") {
    val d = corpusDir
    val approx = preds(Similarity.knnClassify(spark, d))
    // probe-all (= exact brute force regardless of centroid placement;
    // the IvfSpec pins that equivalence against a
    // driver-side fold) on the same above-ceiling corpus
    val exact = preds(Similarity.knnClassify(spark, d, nProbe = 16))
    assert(exact.size == N / 5, s"holdout query count ${exact.size}")
    val agree = exact.count { case (q, l) => approx.get(q).contains(l) }
      .toDouble / exact.size
    assert(agree >= 0.95,
      f"scale-branch agreement $agree%.4f vs exact kNN (expected >= 0.95)")
  }
}
