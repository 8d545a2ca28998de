package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-lake generator: replicate a lake's FACT tables K× (keys
  * shifted so every copy is disjoint — cross-copy near-dups are
  * deliberately broken by token-prefixing document text and perturbing
  * embeddings, because replicated identical rows would measure a
  * dup-explosion artifact, not scaling) and keep the dimension tables
  * fixed.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<base lake> runMain graft.tools.ScaleLake
  * [k]` (k defaults to 10) writes `target/scale-sf<k/10>` when k is a
  * multiple of 10, else `target/scale-<k>x`, and reuses a lake that is
  * already there. Time queries on it with the one bench harness:
  * `SPARK_GRAFT_SF_DIR=<scale lake> SPARK_GRAFT_ONLY=q1,q2 runMain
  * graft.Bench`.
  */
object ScaleLake {

  private def shiftBase(df: DataFrame, key: String): Long =
    Option(df.agg(max(col(key))).head().get(0))
      .map(_.asInstanceOf[Long] + 1L).getOrElse(0L)

  /** Write the K×-replicated lake under `outDir`. Facts replicate with
    * shifted keys; dims copy through unchanged. */
  def generate(spark: SparkSession, baseDir: String, outDir: String, k: Int): Unit = {
    val copies = spark.range(k).select(col("id").as("copy"))
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // dims: single copy
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(graft.Tables.read(spark, baseDir, t), t)
    }
    // orders/lineitem: shift the shared order key per copy
    val orders = graft.Tables.read(spark, baseDir, "orders")
    val oBase = shiftBase(orders, "o_orderkey")
    write(orders.crossJoin(copies)
      .withColumn("o_orderkey", col("o_orderkey") + col("copy") * oBase)
      .drop("copy"), "orders")
    val lineitem = graft.Tables.read(spark, baseDir, "lineitem")
    write(lineitem.crossJoin(copies)
      .withColumn("l_orderkey", col("l_orderkey") + col("copy") * oBase)
      .drop("copy"), "lineitem")
    // events: shift the dense arrival key
    val events = graft.Tables.read(spark, baseDir, "events")
    val eBase = shiftBase(events, "event_id")
    write(events.crossJoin(copies)
      .withColumn("event_id", col("event_id") + col("copy") * eBase)
      .drop("copy"), "events")
    // documents: shifted ids + per-copy token prefix (disjoint shingle
    // spaces — copy 0 keeps the original text so its dup structure is
    // exactly the base corpus's)
    val docs = graft.Tables.read(spark, baseDir, "documents")
    val dBase = shiftBase(docs, "doc_id")
    write(docs.crossJoin(copies)
      .withColumn("text",
        when(col("copy") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            t => concat(lit("c"), col("copy").cast("string"), t)), " ")))
      .withColumn("doc_id", col("doc_id") + col("copy") * dBase)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("copy"), "documents")
    // embeddings: shifted ids + per-copy slot-0 nudge (disjoint cosine
    // neighborhoods across copies)
    val emb = graft.Tables.read(spark, baseDir, "embeddings")
    val vBase = shiftBase(emb, "vec_id")
    write(emb.crossJoin(copies)
      .withColumn("embedding", expr(
        "transform(embedding, (v, j) -> CAST(CASE WHEN j = 0 " +
          "THEN v + copy * 0.037 ELSE v END AS FLOAT))"))
      .withColumn("vec_id", col("vec_id") + col("copy") * vBase)
      .drop("copy"), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 10
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the base lake"))
    // k=10 keeps the historical sf1 label (and reuses its lake); other
    // factors label by the equivalent driver scale factor when exact
    // (k=100 over sf0.1 -> sf10), else by the raw factor
    val label = if (k % 10 == 0) s"sf${k / 10}" else s"${k}x"
    val outDir = s"target/scale-$label"
    // a marker written only AFTER a full successful generate pins the
    // replication factor to the data: a stale lake from a different k,
    // or a partial generate that crashed mid-way, regenerates instead
    // of silently being reused
    val marker = Paths.get(s"$outDir/_SCALE_META")
    val want = s"k=$k base=$baseDir"
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker)).trim == want
    if (fresh) System.err.println(s"[scale] ${k}x lake under $outDir is current")
    else {
      val spark = graft.GraftSession.local().getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      System.err.println(s"[scale] generating ${k}x lake under $outDir ...")
      generate(spark, baseDir, outDir, k)
      Files.write(marker, (want + "\n").getBytes)
      spark.stop()
    }
  }
}
