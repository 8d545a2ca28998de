package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Online LinUCB serving — the last arc of the reference's
  * serve → feedback → train → publish loop (SURVEY §3.3) in streaming
  * form. Training already streams ([[LinUCBStream]] →
  * [[graft.ml.ModelStore]], the Redis-publish stand-in); this stream
  * closes the loop by scoring a micro-batched CONTEXT stream against
  * the LIVE store with the batch serving operator
  * ([[graft.ml.LinUCB.topK]], q31) in `foreachBatch`: one scoring
  * definition for the nightly job and the online service, so the two
  * cannot drift
  * (`recsys-engine/src/bandit_manager.py:109-132` serves per request
  * from the same scoring math its trainer fits).
  *
  * Liveness: the store is re-read at each micro-batch — the per-request
  * MGET analog — so a model the training stream publishes between
  * batches serves the very next batch; the agreement spec pins exactly
  * that (same contexts, different store states, different answers).
  *
  * Scale shape: the store is one row per arm (broadcast-sized by
  * construction — the reference holds it in a Redis keyspace); each
  * micro-batch is contexts ⋈ broadcast(models) → per-context top-k,
  * stateless, so serving parallelism is the context stream's
  * partitioning and nothing accumulates. */
object LinUCBServeStream {

  /** Start serving: each micro-batch of `contexts` (`ctx_id`, `x`) is
    * scored against the CURRENT store contents, at q31's
    * [[graft.ml.LinUCB.ServeAlpha]] and [[graft.ml.LinUCB.ServeK]], and
    * handed to `sink` as (ctx_id, product_id, rank, score). */
  def serve(spark: SparkSession, store: graft.ml.ModelStore, contexts: DataFrame)
           (sink: DataFrame => Unit): StreamingQuery =
    contexts.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.ml.LinUCB.topK(batch, store.read(spark),
            graft.ml.LinUCB.ServeAlpha, graft.ml.LinUCB.ServeK)(spark))
      }
      .start()
}
