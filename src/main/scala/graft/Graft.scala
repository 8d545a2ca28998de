package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library facade: one call wires a session for this engine —
  * every testdata table registered as a temp view, every custom
  * expression registered as a SQL function — so the full surface is
  * reachable from plain `spark.sql(...)` exactly like the reference's
  * users reach theirs through Postgres/Flink SQL (`product-demos/
  * producer/api.py:35-63`, `TableApp.kt:173-196`).
  *
  * {{{
  * val spark = GraftSession.local().getOrCreate()
  * Graft.open(spark, "/root/testdata/sf0.01")
  * spark.sql("SELECT simhash60(word_shingles(text, 3)) FROM documents")
  * }}}
  */
object Graft {

  /** Register the table views (by canonical name) and the custom SQL
    * functions on this session. Idempotent. */
  def open(spark: SparkSession, sfDir: String): SparkSession = {
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, sfDir)
               else Tables.read(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
    functions.registerAll(spark)
    spark
  }

  /** Run one of the inventory queries by its `SparkEntry` name. */
  def query(spark: SparkSession, sfDir: String, name: String): DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new NoSuchElementException(
        s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      .apply(spark, sfDir)
}
