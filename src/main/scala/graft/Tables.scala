package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.streaming.LocalCheckpointFileManager

/** Canonical readers for the driver testdata (`TESTDATA.md`).
  *
  * One parquet file per table under `sfDir`. Schemas are fixed by the
  * driver; we never infer in streaming paths. The reference models its
  * relational universe as explicit-schema tables written row-by-row
  * (reference: `cdc-local/src/utils.py:257-261`); here the same role is
  * played by parquet scans whose column pruning + predicate pushdown come
  * from Catalyst for free.
  *
  * Scale note: each table is a single parquet file locally, but every
  * reader goes through `spark.read.parquet` so a directory of thousands
  * of files on a real cluster binds identically.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Session-cached row count of a fixture table. Corpus-derived layer
    * parameters (SimHash banding scheme, SRP band width, IVF k, kNN
    * nProbe, TF-IDF doc total) each re-ran this count per invocation —
    * a repeated Spark job for a value that is fixed per (session,
    * sfDir) under the warehouse snapshot assumption [[SessionCache]]
    * already documents for every derived layer. A miss is a parquet
    * row-group metadata read (cheap); the cache makes the repeats
    * free. */
  private val countCache = new SessionCache[(String, String), java.lang.Long]()
  def countOf(spark: SparkSession, sfDir: String, name: String): Long =
    countCache.getOrCompute(spark, (sfDir, name))(
      java.lang.Long.valueOf(read(spark, sfDir, name).count())).longValue()

  def region(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")

  /** `events.ts` has shipped in three physical shapes across driver
    * testdata generations: parquet TIMESTAMP(NANOS) (loaded as epoch-ns
    * `LongType` under `spark.sql.legacy.parquet.nanosAsLong=true`),
    * `timestamp[us]` with isAdjustedToUTC=false (loaded as
    * `TimestampNTZType`), and UTC-adjusted `timestamp[us]`
    * (`TimestampType`). The engine standardizes on MICROSECOND
    * precision regardless of the on-disk shape: `ts_us` (epoch-µs long)
    * + a derived `TimestampType` `ts`. Spark timestamps are µs-precision
    * anyway, and other engines (e.g. DuckDB's parquet reader) truncate
    * ns to µs, so µs is the portable event-time grain. Branching on the
    * *loaded* dtype (not an assumed generation) keeps all three shapes
    * readable — the driver regenerates testdata between rounds and the
    * physical type has flipped before. Event-time extraction from a raw
    * payload mirrors the reference's timestamp extractor
    * (`kotlin-examples/orders-stats-streams/.../BidTimeTimestampExtractor.kt:13-37`).
    *
    * NTZ note: the session timezone is pinned to UTC ([[GraftSession]]),
    * so `cast(ntz as timestamp)` reinterprets the wall-clock micros as
    * UTC-instant micros — exactly the epoch value the file stores.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Runtime-settable SQLConfs; set defensively in case the caller's
    // session was not built through GraftSession. The UTC pin matters
    // for the NTZ branch below: cast(ntz as timestamp) reinterprets
    // wall-clock micros through the SESSION timezone, so a non-UTC
    // session would silently shift every ts_us.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = read(spark, sfDir, "events")
    val withUs = raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) surfaced as epoch-ns long
        raw.withColumnRenamed("ts", "ts_ns_raw")
          .withColumn("ts_us", expr("ts_ns_raw div 1000"))
          .drop("ts_ns_raw")
      case TimestampType | TimestampNTZType =>
        raw.withColumnRenamed("ts", "ts_raw")
          .withColumn("ts_us", unix_micros(col("ts_raw").cast(TimestampType)))
          .drop("ts_raw")
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported type $other; expected long (ns) or timestamp (µs)")
    }
    withUs.withColumn("ts", timestamp_micros(col("ts_us")))
  }
}

/** Session factory with the configs every entry point needs. */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(LocalCheckpointFileManager.confKey, classOf[LocalCheckpointFileManager].getName)
}
