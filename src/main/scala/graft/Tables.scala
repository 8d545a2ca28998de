package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
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
  * Scale note: every engine parquet read goes through [[parquet]],
  * which takes the schema from ONE footer read on the driver and hands
  * it to `spark.read.schema(..).parquet(path)`. A bare
  * `spark.read.parquet` would infer it with a whole Spark job per read,
  * even for one file. A directory of thousands of files binds the same
  * way: through the file Spark's own non-merging inference would open
  * (a summary file if present, else the first data file).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job: the
    * schema comes from one footer, converted by Spark's own
    * `ParquetFileFormat.readSchemaFromFooter` under the session's
    * parquet confs, so the Spark row-metadata key, `nanosAsLong`, NTZ
    * inference and binary-as-string resolve exactly as inference
    * resolves them. `path` is a file or a directory of part files. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file = schemaFile(leafFiles(fs, fs.getFileStatus(root)).sortBy(_.getPath.toString))
      .getOrElse(throw new java.io.FileNotFoundException(s"no parquet file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(path)
  }

  /** The files under `status` that Spark's file index lists: names
    * starting with `_` or `.` are skipped, except the parquet summary
    * files. */
  private def leafFiles(fs: FileSystem, status: FileStatus): Seq[FileStatus] =
    if (status.isFile) Seq(status)
    else fs.listStatus(status.getPath).toSeq.filterNot(s => hidden(s.getPath.getName))
      .flatMap(leafFiles(fs, _))

  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) &&
      !name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)

  /** The file non-merging inference reads (`ParquetUtils.inferSchema`):
    * `_common_metadata`, else `_metadata`, else the first data file. */
  private def schemaFile(sorted: Seq[FileStatus]): Option[FileStatus] = {
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
  }

  /** Session-cached row count of a fixture table. Corpus-derived layer
    * parameters (SimHash banding scheme, SRP band width, IVF k, kNN
    * nProbe, TF-IDF doc total) each re-ran this count per invocation —
    * a repeated Spark job for a value that is fixed per (session,
    * sfDir) under the warehouse snapshot assumption [[Layers]]
    * already documents for every derived layer. A miss is a parquet
    * row-group metadata read (cheap); the layer makes the repeats
    * free. */
  def countOf(spark: SparkSession, sfDir: String, name: String): Long =
    Layers.value(spark, "table_count", (sfDir, name))(read(spark, sfDir, name).count())

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
  /** The builder every main starts from: `local[n]` with one shuffle
    * partition per core, where n is `SPARK_GRAFT_CPUS`, else the host's
    * CPU count. */
  def local(): SparkSession.Builder = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(HostMeter.nCpus())
    builder(s"local[$n]", n)
  }

  /** The shared configs on `master` with `shufflePartitions` shuffle
    * partitions; both are the caller's, so partitions follow the cores
    * it runs on. Every engine session is built here (the census fails a
    * `SparkSession.builder` anywhere else in `src/main`).
    *
    * Artifact isolation is off, so every session on the context runs its
    * tasks under the executor's one class loader and reuses the classes
    * the JVM already compiled. Spark keys its JVM-wide codegen cache
    * (`CodeGenerator.cache`) by class loader and code; with isolation on,
    * Spark's default, each session gets its own executor
    * `ExecutorClassLoader`, so a fresh session compiles again every
    * generated class its tasks need, although its plans are the same.
    * On the perfbench `catalog` set (its layer and six queries, sf0.001),
    * a session after the first compiled 55 classes with isolation on and
    * none with it off, and perfbench's `catalog` workload, a fresh session
    * per pass, ran 2.19 → 3.28 passes/s (median of ten alternating pairs,
    * 4-core VM). Isolation would only keep the artifacts one session adds
    * (`addArtifact`, `ADD JAR`) out of the others, and the engine adds
    * none. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config(LocalCheckpointFileManager.confKey, classOf[LocalCheckpointFileManager].getName)
}
