package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Contract spec for [[Tables.events]] across every physical shape the
  * driver testdata has shipped (`VERDICT r9 #6`): the driver regenerates
  * parquet between rounds and `events.ts` has already flipped from
  * TIMESTAMP(NANOS) to `timestamp[us]` once, silently killing every
  * events-dependent query. This spec pins the reader to all three
  * historical *loaded* shapes so the next flip breaks a named test, not
  * thirty queries:
  *
  *   1. epoch-ns `LongType` — how TIMESTAMP(NANOS) parquet arrives under
  *      `spark.sql.legacy.parquet.nanosAsLong=true`;
  *   2. `TimestampNTZType` — `timestamp[us]` with isAdjustedToUTC=false
  *      (the current pandas/pyarrow output);
  *   3. `TimestampType` — UTC-adjusted `timestamp[us]`.
  *
  * All three must normalize to identical (`ts_us`: epoch-µs long,
  * `ts`: TimestampType) columns.
  */
class EventsReaderSpec extends SparkSpec {

  import EventsReaderSpec._

  private def readBack(dir: String): (Long, Long) = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts_us").dataType === LongType)
    assert(df.schema("ts").dataType === TimestampType)
    val r = df.select("ts_us", "ts").head()
    (r.getLong(0), r.getAs[Timestamp](1).getTime)
  }

  test("ns-long, µs-NTZ and µs-UTC shapes normalize to the same ts_us/ts") {
    val base = Files.createTempDirectory("events-shapes").toString

    shapes.foreach { case (name, tsType, tsValue) =>
      writeEvents(spark, s"$base/$name", tsType, tsValue)
    }

    val (nsUs, nsMs) = readBack(s"$base/ns")
    val (ntzUs, ntzMs) = readBack(s"$base/ntz")
    val (utcUs, utcMs) = readBack(s"$base/utc")

    assert(nsUs === epochUs)
    assert(ntzUs === epochUs)
    assert(utcUs === epochUs)
    assert(nsMs === ntzMs)
    assert(ntzMs === utcMs)
  }

  test("the live driver testdata reads through Tables.events") {
    val df = Tables.events(spark, sf())
    assert(df.schema("ts_us").dataType === LongType)
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.limit(5).count() > 0)
  }

  test("an unsupported ts dtype fails loudly, not downstream") {
    val base = Files.createTempDirectory("events-bad").toString
    writeEvents(spark, s"$base/bad", StringType, "2024-03-01")
    val e = intercept[IllegalStateException](Tables.events(spark, s"$base/bad"))
    assert(e.getMessage.contains("events.ts"))
  }
}

object EventsReaderSpec {
  // One event at 2024-03-01T12:34:56.789012Z (µs precision — the portable grain).
  val epochUs = 1709296496789012L

  /** The three shapes as (directory name, `ts` type, `ts` value). */
  val shapes: Seq[(String, DataType, Any)] = {
    val tsInstant = new Timestamp(epochUs / 1000L)
    tsInstant.setNanos((epochUs % 1000000L).toInt * 1000)
    Seq(
      // Shape 1: epoch-ns long (TIMESTAMP(NANOS) under nanosAsLong).
      ("ns", LongType, epochUs * 1000L),
      // Shape 2: timestamp[us] isAdjustedToUTC=false → TimestampNTZType.
      // Session tz is UTC, so the NTZ wall-clock equals the UTC instant.
      ("ntz", TimestampNTZType,
        LocalDateTime.ofEpochSecond(epochUs / 1000000L, (epochUs % 1000000L).toInt * 1000,
          java.time.ZoneOffset.UTC)),
      // Shape 3: UTC-adjusted timestamp[us] → TimestampType.
      ("utc", TimestampType, tsInstant))
  }

  /** One event row with `ts` of `tsType`, as `dir/events.parquet`. */
  def writeEvents(spark: SparkSession, dir: String, tsType: DataType, tsValue: Any): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val rows = java.util.Arrays.asList(
      Row(1L, tsValue, 7L, "click", 1.5, "{}"))
    spark.createDataFrame(rows, schema)
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
