package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.ml.{LinUCB, ModelStore}
import graft.ml.LinUCB.Feedback

/** Online bandit serving: streamed context batches must score exactly
  * like the batch operator against the store state AT each batch — and
  * a publish landing between batches must change the next answer (the
  * liveness the reference gets from serving straight out of Redis). */
class LinUCBServeStreamSpec extends SparkSpec {
  import spark.implicits._

  test("served micro-batches equal batch topK per store state and pick up " +
    "a mid-stream model publish") {
    val dir = java.nio.file.Files.createTempDirectory("serve_loop").toFile
    val store = new ModelStore(
      new java.io.File(dir, "models.parquet").getAbsolutePath)

    val fb1 = Seq(
      Feedback("arm_a", Array(1.0, 0.9), 1.0),
      Feedback("arm_a", Array(1.0, 0.2), 0.0),
      Feedback("arm_b", Array(1.0, 0.5), 1.0))
    store.upsert(LinUCB.seed(fb1.toDS(), 2), batchId = 0L)
    // frozen copy of the v1 store for the counterfactual below
    val storeV1 = store.read(spark).collect().toSeq

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Double)]
    val q = LinUCBServeStream.serve(spark, store,
      mem.toDF().toDF("ctx_id", "x")) { out =>
      got.synchronized {
        got ++= out.as[(Long, String, Long, Double)].collect()
      }
    }
    try {
      val ctx1 = Seq(0L -> Seq(1.0, 0.9), 1L -> Seq(1.0, 0.1))
      mem.addData(ctx1: _*)
      q.processAllAvailable()
      val firstServed = got.synchronized(got.toSet)
      val expectV1 = LinUCB.topK(ctx1.toDF("ctx_id", "x"),
          spark.createDataset(storeV1), LinUCB.ServeAlpha, LinUCB.ServeK)(spark)
        .as[(Long, String, Long, Double)].collect().toSet
      assert(firstServed == expectV1,
        s"batch1 served:\n$firstServed\nbatch op:\n$expectV1")

      // a training publish lands BETWEEN micro-batches: arm_b learns a
      // strong signal on the high-feature direction
      val fb2 = fb1 ++ Seq(
        Feedback("arm_b", Array(1.0, 0.95), 1.0),
        Feedback("arm_b", Array(1.0, 0.9), 1.0))
      store.upsert(LinUCB.seed(fb2.toDS(), 2), batchId = 1L)

      val ctx2 = Seq(10L -> Seq(1.0, 0.9))
      mem.addData(ctx2: _*)
      q.processAllAvailable()
      val secondServed = got.synchronized(got.toSet) -- firstServed
      val expectV2 = LinUCB.topK(ctx2.toDF("ctx_id", "x"),
          store.read(spark), LinUCB.ServeAlpha, LinUCB.ServeK)(spark)
        .as[(Long, String, Long, Double)].collect().toSet
      assert(secondServed == expectV2,
        s"batch2 served:\n$secondServed\nbatch op on live store:\n$expectV2")
      // the publish must have BITTEN: the same contexts against the
      // frozen v1 store score differently, so "live" is measured, not
      // assumed
      val counterfactual = LinUCB.topK(ctx2.toDF("ctx_id", "x"),
          spark.createDataset(storeV1), LinUCB.ServeAlpha, LinUCB.ServeK)(spark)
        .as[(Long, String, Long, Double)].collect().toSet
      assert(secondServed != counterfactual,
        "mid-stream publish did not change the served scores")
    } finally q.stop()
  }
}
