package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class DashboardStreamSpec extends SparkSpec {
  import spark.implicits._

  test("stream-static dashboard equals the batch computation on the same input") {
    implicit val sqlCtx = spark.sqlContext
    val customers = Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("c_custkey", "c_mktsegment")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (10L, t("2024-01-01 00:00:05"), 1L, 10.0),
      (11L, t("2024-01-01 00:00:30"), 2L, 4.5),
      (12L, t("2024-01-01 00:00:45"), 1L, 2.5),
      (13L, t("2024-01-01 00:00:50"), 99L, 1.0), // unknown user → UNKNOWN
      (14L, t("2024-01-01 00:05:00"), 1L, 9.0))  // pushes watermark past window 0

    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val ev = mem.toDF().toDF("event_id", "ts", "user_id", "value")
    val q = DashboardStream.revenueBySegment(ev, customers)
      .writeStream.format("memory").queryName("dash_out")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("dash_out")
        .orderBy("window_start", "segment").collect().map(_.toSeq).toSeq
      // batch shape over the same data, first window only (closed)
      val batch = rows.toDF("event_id", "ts", "user_id", "value")
        .join(broadcast(customers), $"user_id" === $"c_custkey", "left")
        .groupBy(window($"ts", "1 minute").as("w"),
          coalesce($"c_mktsegment", lit("UNKNOWN")).as("segment"))
        .agg(round(sum($"value".cast("decimal(18,2)")).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n_events"))
        .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
          $"segment", $"revenue", $"n_events")
        .filter($"window_start" === "2024-01-01 00:00:00")
        .orderBy("window_start", "segment").collect().map(_.toSeq).toSeq
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed.map(_(1)).toSet == Set("BUILDING", "MACHINERY", "UNKNOWN"))
    } finally q.stop()
  }
}
