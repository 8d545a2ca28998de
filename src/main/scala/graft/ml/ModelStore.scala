package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.LinUCB.Model

/** S19/S20: the model parameter store. The reference publishes per-arm
  * models to Redis (`SET linucb:{pid}` JSON, idempotent —
  * `recsys-trainer/.../RedisSinkWriter.kt:50-69`) and serves them back
  * with one batched MGET (`recsys-engine/src/bandit_manager.py:109-132`).
  *
  * Engine mapping: a keyed parquet table written via `foreachBatch`
  * upsert. Idempotence (Redis SET) carries over: re-writing a batch
  * after a failure converges to the same table, which is what makes the
  * at-least-once sink exactly-once-effective (T11 note at
  * `RedisSink.kt:10-12`). Reads come back as a broadcast-sized
  * dimension, the J5 stream-static join shape.
  */
class ModelStore(path: String) extends Serializable {

  /** A crash between the two publish renames leaves `path` missing and
    * the previous store stranded at `.bak` — restore it before any read
    * or merge so no upsert ever mistakes a mid-swap store for an empty
    * one. (If `path` exists, a `.bak` is just stale garbage from after
    * a successful publish and is left for the next swap to clear.) */
  private def recoverIfNeeded(): Unit = {
    val target = new java.io.File(path)
    val bak = new java.io.File(path + ".bak")
    if (!target.exists() && bak.exists() && !bak.renameTo(target))
      throw new java.io.IOException(s"model store: cannot restore $bak")
  }

  /** Upsert one micro-batch of models: latest version per arm wins.
    * Versioning by (batchId, arm) keeps replayed batches idempotent. */
  def upsert(batch: Dataset[Model], batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    recoverIfNeeded()
    val incoming = batch.toDF().withColumn("batch_id", lit(batchId))
    val merged =
      if (new java.io.File(path).exists()) {
        val existing = graft.Tables.parquet(spark, path)
        // existing rows from this same batch id are a replay — replaced
        existing.filter(col("batch_id") =!= batchId).unionByName(incoming)
      } else incoming
    val w = Window.partitionBy(col("productId")).orderBy(desc("batch_id"))
    val latest = merged
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    // Tiny table (one row per arm): single-file rewrite is the local
    // shape; a cluster deployment swaps this for a Delta/Iceberg MERGE.
    // Swap order keeps a recoverable copy at every step (single-writer
    // assumed — the streaming query's foreachBatch serializes calls):
    // write .tmp → move current to .bak → move .tmp in → drop .bak.
    // A crash can strand a .bak but never lose the only copy.
    val tmp = new java.io.File(path + ".tmp")
    val bak = new java.io.File(path + ".bak")
    val target = new java.io.File(path)
    latest.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.getPath)
    org.apache.commons.io.FileUtils.deleteQuietly(bak)
    if (target.exists() && !target.renameTo(bak))
      throw new java.io.IOException(s"model store swap: cannot move $target aside")
    if (!tmp.renameTo(target)) {
      bak.renameTo(target) // restore; same filesystem, best effort
      throw new java.io.IOException(s"model store swap: cannot publish $tmp")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(bak)
  }

  /** Serving-side read: the whole store (broadcast-sized, one row per
    * arm) — the MGET analog. */
  def read(spark: SparkSession): Dataset[Model] = {
    import spark.implicits._
    recoverIfNeeded()
    graft.Tables.parquet(spark, path)
      .select(col("productId"), col("aInv"), col("b"), col("d"), col("n"))
      .as[Model]
  }

  /** foreachBatch hook for a streaming trainer query. */
  def sink: (Dataset[Model], Long) => Unit = (ds, id) => upsert(ds, id)
}
