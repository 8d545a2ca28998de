package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.operators.SupplierStats

/** The flagship streaming computation, fourth implementation: per-supplier
  * tumbling event-time window → sum(price), count(*), over the reference's
  * order stream (reference builds it three ways — Kafka Streams
  * `orders-stats-streams/.../StreamsApp.kt:130-159`, Flink DataStream
  * `orders-stats-flink/.../DataStreamApp.kt:100-107`, Flink Table
  * `TableApp.kt:185-196`).
  *
  * Spark shape (SURVEY.md §3.2): source → parse `bid_time`
  * ("yyyy-MM-dd HH:mm:ss", `ProducerApp.kt:76-83`) → `withWatermark` (the
  * reference's bounded out-of-orderness, 5 s,
  * `SupplierWatermarkStrategy.kt:14-16`) → the SAME `aggCore` transform
  * the batch query uses → formatted window bounds. `OutputMode.Append`
  * emits once per closed window (the Streams/suppress analog);
  * `OutputMode.Update` re-emits on late updates within the watermark
  * delay (the Flink allowed-lateness analog). Divergences from the
  * reference, documented per SURVEY §7.3: watermark delay doubles as
  * both out-of-orderness bound and allowed lateness (T5).
  *
  * T3 (idleness) operational note: Flink needs an idleness timeout
  * (`SupplierWatermarkStrategy.kt:32`) because its watermark is the MIN
  * over per-partition watermarks — one idle Kafka partition stalls the
  * job. Structured Streaming computes the watermark from the max event
  * time OBSERVED across all of a source's partitions, so an idle
  * partition holds nothing back (spec: "idle sub-stream cannot stall
  * the watermark") and no idleness knob is needed. The residual gap is
  * a FULLY idle source: with no new rows the watermark freezes and the
  * last open windows never emit in Append mode. Mitigations, in
  * preference order: run such topics in Update mode (rows emit per
  * trigger, finalization pending), or have the producer publish
  * heartbeat records (the reference's datagen always ticks), keeping
  * `spark.sql.streaming.noDataMicroBatches.enabled` at its `true`
  * default so already-eligible timers/windows still finalize without
  * fresh data.
  *
  * Checkpoint I/O: every micro-batch writes an offset log entry, a
  * commit log entry, a state delta per partition and its state checksum
  * files, each as a temp file plus a rename. Through Hadoop's local file
  * system without libhadoop that costs about 100 forked `chmod` and
  * `readlink` processes per batch, several hundred ms of a 2,000-order
  * batch on 4 cores, not data work. So the engine owns local checkpoint
  * I/O: [[graft.GraftSession.builder]] registers
  * [[LocalCheckpointFileManager]], which writes the same files, bytes,
  * `.crc` sidecars and permission bits without forking; other schemes
  * keep Spark's default manager. To check that a run forks nothing
  * from checkpoint code, run it with
  * `JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/x.jfr`,
  * then `jfr summary /tmp/x.jfr | grep ProcessStart` (what remains is
  * SparkContext start and stop; `jfr print --events jdk.ProcessStart`
  * shows each command and its stack).
  */
object SupplierStatsStream {

  /** Wire schema of the JSON order stream
    * (`orders-json-clients/.../model/Order.kt:5-11`, snake_case). */
  val orderSchema: StructType = StructType(Seq(
    StructField("order_id", StringType),
    StructField("bid_time", StringType),
    StructField("price", DoubleType),
    StructField("item", StringType),
    StructField("supplier", StringType)))

  /** Parse the wire form: JSON bytes/strings → typed columns with
    * event-time extraction and the reference's fallback semantics
    * (unparseable `bid_time` → processing time,
    * `BidTimeTimestampExtractor.kt:23-27`; missing supplier → UNKNOWN,
    * price → 0.0, `StreamsApp.kt:132-135`). */
  def parseOrders(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw.select(from_json(col(valueCol).cast("string"), orderSchema).as("o"))
      .select(
        col("o.order_id").as("order_id"),
        // try_to_timestamp: under ANSI mode (Spark 4 default) a plain
        // to_timestamp would *throw* on malformed input instead of
        // yielding null for the fallback.
        coalesce(try_to_timestamp(col("o.bid_time"), lit("yyyy-MM-dd HH:mm:ss")),
          current_timestamp()).as("bid_time"),
        coalesce(col("o.price"), lit(0.0)).as("price"),
        col("o.item").as("item"),
        coalesce(col("o.supplier"), lit("UNKNOWN")).as("supplier"))

  /** The Avro twin of [[parseOrders]] (S9): registry-FRAMED Avro payloads
    * (Confluent 5-byte magic + schema-id header, as the reference's
    * consumers decode, `orders-stats-flink/.../kafka/Utils.kt:48-70`) →
    * the same typed order frame, with identical event-time fallback
    * semantics. Works on batch and streaming frames alike
    * (`mapPartitions` under the hood, one reader per partition per
    * schema id). */
  def parseAvroFramedOrders(raw: DataFrame,
                            registry: graft.sources.AvroSerde.SchemaRegistryStub =
                              graft.sources.AvroSerde.orderRegistry,
                            valueCol: String = "value"): DataFrame =
    graft.sources.AvroSerde.decodeOrdersFramed(raw, registry, valueCol).toDF()
      .select(
        col("order_id"),
        coalesce(try_to_timestamp(col("bid_time"), lit("yyyy-MM-dd HH:mm:ss")),
          current_timestamp()).as("bid_time"),
        col("price"),
        col("item"),
        coalesce(col("supplier"), lit("UNKNOWN")).as("supplier"))

  /** The streaming query: watermark + the shared batch/stream agg core. */
  def stats(orders: DataFrame,
            watermarkDelay: String = "5 seconds",
            width: String = "5 seconds"): DataFrame =
    SupplierStats.format(
      SupplierStats.aggCore(
        orders.withWatermark("bid_time", watermarkDelay),
        col("bid_time"), col("supplier"), col("price"), width))

  /** Kafka source wiring (S12 analog): value bytes from the orders topic,
    * earliest offsets, as the reference's Flink consumer configures
    * (`orders-stats-flink/.../kafka/Connectors.kt:18-42`). Requires the
    * spark-sql-kafka connector on the runtime classpath; the transform
    * itself is engine-tested via MemoryStream. */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    parseOrders(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())

  /** Kafka sink wiring (S13 analog): key=supplier, JSON value, with the
    * reference's producer batching options
    * (`Connectors.kt:54-60`: lz4, 64 KB batches, linger 100 ms). */
  def toKafka(stats: DataFrame, bootstrap: String, topic: String,
              checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    stats.selectExpr("supplier AS key", "to_json(struct(*)) AS value")
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("kafka.compression.type", "lz4")
      .option("kafka.batch.size", "65536")
      .option("kafka.linger.ms", "100")
      .option("checkpointLocation", checkpoint)
      // the reference's 5 s cadence (REFRESH_SECONDS, api.py:12-16; the
      // T12 polling micro-batch analog)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .outputMode(OutputMode.Append)

  // --- Late-data side-output emulation (T6) ---
  // Spark drops watermark-late rows silently inside the stateful agg and
  // has no OutputTag. The faithful shape is tag-then-fork at micro-batch
  // granularity: a driver-side stream-time high-watermark (max observed
  // event time, exactly the reference's `streamTime` in
  // `LateRecordProcessor.kt:24-79`) tags each batch, then two filtered
  // writers consume the tagged frame. Batch-granular stream time is the
  // documented divergence: within one micro-batch no record can make a
  // *later* record in the same batch late (the reference's per-record
  // sequential semantics), which only widens the valid set.

  /** Mutable stream-time bookkeeping for one query (driver-side; a real
    * deployment would persist it in the checkpoint via an accumulator or
    * state store — micro-batch max is cheap either way). */
  final class StreamTimeTracker extends Serializable {
    @volatile var maxSeenUs: Long = Long.MinValue
  }

  /** foreachBatch body: tag `late` against stream time observed so far,
    * route valid rows through `onValid`, late rows (enriched with
    * `late=true` like the reference's skipped topic,
    * `DataStreamApp.kt:112-129`) through `onLate`, then advance the
    * tracker. */
  def forkBatch(tracker: StreamTimeTracker,
                windowUs: Long = 5000000L, graceUs: Long = 5000000L)(
      onValid: DataFrame => Unit, onLate: DataFrame => Unit)(
      batch: DataFrame, batchId: Long): Unit = {
    val withTs = batch.withColumn("ts_us", unix_micros(col("bid_time")))
    val cutoff = tracker.maxSeenUs
    val tagged = withTs.withColumn("late",
      lit(cutoff) > (col("ts_us") - pmod(col("ts_us"), lit(windowUs)) +
        lit(windowUs) + lit(graceUs)))
    tagged.cache()
    try {
      onValid(tagged.filter(!col("late")).drop("late", "ts_us"))
      onLate(tagged.filter(col("late")).drop("ts_us"))
      val m = tagged.agg(max(col("ts_us"))).collect()(0)
      if (!m.isNullAt(0)) tracker.maxSeenUs = math.max(cutoff, m.getLong(0))
    } finally tagged.unpersist()
  }
}
