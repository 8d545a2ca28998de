package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.ml.{LinUCB, ModelStore}
import graft.ml.LinUCB.Feedback

/** The reference's full serve → feedback → train → publish arc
  * (`eda_recommender.py:128-148`: the app produces recommendations, the
  * user's reward events flow back on the feedback topic, the trainer
  * consumes them and republishes parameters) as ONE running pair of
  * streams against one live store — not two spec'd halves. The serving
  * stream's own top-k output GENERATES the reward events the training
  * stream consumes, and the trainer's publish must change what the very
  * next micro-batch serves. */
class BanditClosedLoopSpec extends SparkSpec {
  import spark.implicits._

  test("served top-k generates the feedback that retrains the store and " +
    "changes the next serve") {
    val dir = java.nio.file.Files.createTempDirectory("closed_loop").toFile
    val store = new ModelStore(
      new java.io.File(dir, "models.parquet").getAbsolutePath)

    // v0: batch seed over history (the bootstrap publish trainWithBootstrap
    // documents for cold arms)
    val history = Seq(
      Feedback("arm_a", Array(1.0, 0.9), 1.0),
      Feedback("arm_a", Array(1.0, 0.2), 0.0),
      Feedback("arm_b", Array(1.0, 0.5), 1.0))
    store.upsert(LinUCB.seed(history.toDS(), 2), batchId = -1L)
    val storeV0 = store.read(spark).collect().toSeq

    implicit val sqlCtx = spark.sqlContext
    val ctxMem = MemoryStream[(Long, Seq[Double])]
    val fbMem = MemoryStream[Feedback]

    val served = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Double)]
    // serving half: scores each context batch against the LIVE store
    val serveQ = LinUCBServeStream.serve(spark, store,
      ctxMem.toDF().toDF("ctx_id", "x")) { out =>
      served.synchronized {
        served ++= out.as[(Long, String, Long, Double)].collect()
      }
    }
    // training half: bootstrapped from the same history, live input is
    // the LOOP feedback, publishing into the SAME store serving reads
    val trainQ = LinUCBStream
      .trainWithBootstrap(history.toDS(), fbMem.toDS(), dim = 2,
        emitEveryMs = 0L)
      .writeStream.outputMode("update")
      .foreachBatch(store.sink)
      .start()
    try {
      // 1. serve a context batch from v0 — served ≡ batch operator
      val ctx = Seq(0L -> Seq(1.0, 0.9))
      ctxMem.addData(ctx: _*)
      serveQ.processAllAvailable()
      val round1 = served.synchronized(served.toList)
      val expectV0 = LinUCB.topK(ctx.toDF("ctx_id", "x"),
          spark.createDataset(storeV0), LinUCB.ServeAlpha, LinUCB.ServeK)(spark)
        .as[(Long, String, Long, Double)].collect().toSet
      assert(round1.toSet == expectV0,
        s"round1 served:\n$round1\nbatch op:\n$expectV0")

      // 2. the loop's defining edge: reward events derive FROM the rows
      // just served — the simulated user clicks the runner-up and
      // ignores the winner
      val x = ctx.head._2.toArray
      val loopFb = round1.map { case (_, pid, rank, _) =>
        Feedback(pid, x, if (rank == 1L) 0.0 else 1.0)
      }
      fbMem.addData(loopFb: _*)
      trainQ.processAllAvailable()

      // 3. the publish is the exact bootstrap ⊕ live algebra: stored
      // models equal a batch seed over history ++ loop feedback
      val stored = store.read(spark).collect()
        .map(m => m.productId -> m).toMap
      val full = LinUCB.seed((history ++ loopFb).toDS(), 2).collect()
        .map(m => m.productId -> m).toMap
      loopFb.map(_.productId).distinct.foreach { pid =>
        assert(stored(pid).n == full(pid).n, s"$pid count")
        assert(stored(pid).aInv.zip(full(pid).aInv)
          .forall { case (a, b) => math.abs(a - b) < 1e-9 },
          s"$pid retrained model != seed(history ++ loop)")
      }

      // 4. the very next serve answers from the retrained store...
      val ctx2 = Seq(10L -> Seq(1.0, 0.9))
      ctxMem.addData(ctx2: _*)
      serveQ.processAllAvailable()
      val round2 = served.synchronized(served.toList).drop(round1.size)
      val expectV1 = LinUCB.topK(ctx2.toDF("ctx_id", "x"),
          store.read(spark), LinUCB.ServeAlpha, LinUCB.ServeK)(spark)
        .as[(Long, String, Long, Double)].collect().toSet
      assert(round2.toSet == expectV1,
        s"round2 served:\n$round2\nbatch op on live store:\n$expectV1")
      // ...and the loop BIT: the same context against the frozen v0
      // store scores differently
      val counterfactual = LinUCB.topK(ctx2.toDF("ctx_id", "x"),
          spark.createDataset(storeV0), LinUCB.ServeAlpha, LinUCB.ServeK)(spark)
        .as[(Long, String, Long, Double)].collect().toSet
      assert(round2.toSet != counterfactual,
        "loop feedback did not change what gets served")
    } finally { serveQ.stop(); trainQ.stop() }
  }
}
