package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The streaming curation twin (r13 verdict item 5): dedup → q27 gate
  * → ingest monitor composed into one streaming DAG, pinned to the
  * batch chain's output across state-bridged micro-batches and a cold
  * checkpoint restart. */
class CurationStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // >= 11 tokens, >= 50 chars, contains stopwords -> passes the q27 gate
  private val passA =
    "the quick brown fox jumps over a lazy dog of great renown today"
  private val passC =
    "a stately ship of the line sails over the western horizon at dawn"
  private val passD =
    "the careful archivist catalogs a thousand scrolls of forgotten lore"

  // batch 1: one duplicate re-delivery in-batch, one gate failure
  private val batch1 = Seq(
    ("src_a", passA, "2024-01-01 00:00:10"),
    ("src_a", passA, "2024-01-01 00:00:10"), // exact re-delivery
    ("src_a", "tiny doc", "2024-01-01 00:00:40"), // fails the gate
    ("src_b", passC, "2024-01-01 00:01:15"))
    .map { case (s, t, w) => (s, t, ts(w)) }
  // batch 2 (post-restart): cross-batch re-delivery + a new doc + pusher
  private val batch2 = Seq(
    ("src_b", passC, "2024-01-01 00:01:15"), // re-delivery across batches
    ("src_b", passD, "2024-01-01 00:01:30"),
    ("src_a", passA.replace("today", "anew"), "2024-01-01 00:10:00")) // pusher
    .map { case (s, t, w) => (s, t, ts(w)) }
  private val closer = ("src_a", passA.replace("today", "again"),
    ts("2024-01-01 00:20:00"))

  private def withCols(df: org.apache.spark.sql.DataFrame) =
    df.toDF("source", "text", "ts")
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("streaming curation twin: dedup->gate->monitor equals the batch chain " +
    "across state-bridged batches and a checkpoint restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("curation_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("curation_out").toString
    val mem = MemoryStream[(String, String, java.sql.Timestamp)]
    def start() = CurationStream.curationMonitorStream(withCols(mem.toDF()))
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    mem.addData(batch1: _*)
    q1.processAllAvailable()
    q1.stop()

    // restart from the checkpoint: the dedup state must survive (the
    // cross-batch re-delivery may not re-count), and the window state
    // must close w0/w1 exactly once
    val q2 = start()
    mem.addData(batch2: _*)
    q2.processAllAvailable()
    mem.addData(closer)
    q2.processAllAvailable()
    try {
      val cutoff = "2024-01-01 00:10:00"
      val streamed = spark.read.parquet(out)
        .filter(col("window_start") < cutoff)
        .collect().map(_.toSeq).toSet
      val batch = CurationStream.batchMonitor(
          withCols((batch1 ++ batch2 :+ closer).toDF()))
        .filter(col("window_start") < cutoff)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, s"stream:\n$streamed\nbatch:\n$batch")
      // the dedup must have bitten: w0/src_a counts ONE passA despite
      // three deliveries, and the failing doc drags pass_rate to 1/2
      val w0 = spark.read.parquet(out)
        .filter(col("source") === "src_a" &&
          col("window_start") === "2024-01-01 00:00:00")
        .select("n_docs", "n_passed", "pass_rate")
        .as[(Long, Long, Double)].collect().toSeq
      assert(w0 == Seq((2L, 1L, 0.5)), s"w0: $w0")
      // exactly one emission per closed (window, source) across the restart
      val keys = spark.read.parquet(out)
        .select("window_start", "source").collect().map(_.toSeq).toSeq
      assert(keys.distinct.size == keys.size, s"duplicated emissions: $keys")
    } finally q2.stop()
  }

  test("curated per-document stream: re-deliveries drop across batches, " +
    "gate filters, equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, java.sql.Timestamp)]
    val q = CurationStream.curatedStream(withCols(mem.toDF()))
      .writeStream.format("memory").queryName("curated_docs")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("curated_docs")
        .collect().map(_.toSeq).toSet
      val batch = CurationStream.batchCurated(
          withCols((batch1 ++ batch2).toDF()))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch, s"stream:\n$streamed\nbatch:\n$batch")
      // dedup + gate both bit: 4 curated docs from 7 deliveries
      // (passA once, passC once, passD, the pusher; "tiny doc" gated)
      assert(streamed.size == 4, s"curated set: $streamed")
    } finally q.stop()
  }

  test("contract boundary pinned: out-of-order cross-source duplicates and " +
    "post-eviction re-deliveries DIVERGE from the batch twin by design") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, java.sql.Timestamp)]
    val q = CurationStream.curatedStream(withCols(mem.toDF()))
      .writeStream.format("memory").queryName("curated_boundary")
      .outputMode("append").start()
    try {
      // same text from two sources, delivered OUT of event-time order:
      // src_z's later-ts copy arrives in micro-batch 1, src_a's
      // earlier-ts copy in micro-batch 2 (inside the watermark)
      mem.addData(("src_z", passA, ts("2024-01-01 00:01:30")))
      q.processAllAvailable()
      mem.addData(("src_a", passA, ts("2024-01-01 00:01:00")))
      q.processAllAvailable()
      // then advance the watermark far past the duplicate's state and
      // re-deliver: the fingerprint's state has been evicted
      mem.addData(("src_b", passC, ts("2024-01-01 00:30:00")))
      q.processAllAvailable()
      mem.addData(("src_z", passA, ts("2024-01-01 00:30:05")))
      q.processAllAvailable()
      val streamed = spark.table("curated_boundary")
        .select("fp", "source", "ts").as[(String, String, java.sql.Timestamp)]
        .collect().toSet
      val batch = CurationStream.batchCurated(withCols(Seq(
          ("src_z", passA, ts("2024-01-01 00:01:30")),
          ("src_a", passA, ts("2024-01-01 00:01:00")),
          ("src_b", passC, ts("2024-01-01 00:30:00")),
          ("src_z", passA, ts("2024-01-01 00:30:05"))).toDF()))
        .select("fp", "source", "ts").as[(String, String, java.sql.Timestamp)]
        .collect().toSet
      val dupFp = streamed.collect {
        case (fp, s, _) if s == "src_z" || s == "src_a" => fp
      }.head
      // stream: processing-order first arrival (src_z's late-ts copy),
      // PLUS the post-eviction re-delivery — two emissions for the fp
      assert(streamed.filter(_._1 == dupFp) == Set(
        (dupFp, "src_z", ts("2024-01-01 00:01:30")),
        (dupFp, "src_z", ts("2024-01-01 00:30:05"))), s"stream: $streamed")
      // batch twin: ONE (ts, source, text)-least row for the fp
      assert(batch.filter(_._1 == dupFp) ==
        Set((dupFp, "src_a", ts("2024-01-01 00:01:00"))), s"batch: $batch")
      // and the two surfaces agree everywhere else
      assert(streamed.filter(_._1 != dupFp) == batch.filter(_._1 != dupFp))
    } finally q.stop()
  }

  test("q168 batch surface: dedup removes exactly the corpus's exact-duplicate " +
    "rows vs the undeduped monitor (sf0.1, the SF that plants them)") {
    val qs = graft.SparkEntry.queries
    def totalDocs(name: String): Long =
      qs(name)(spark, sf("0.1")).agg(sum(col("n_docs"))).head().getLong(0)
    val docs = graft.Tables.documents(spark, sf("0.1"))
    val dups = docs.count() - docs.select("text").distinct().count()
    assert(dups > 0, "sf0.1 must plant exact duplicates for this test to bite")
    assert(totalDocs("q140_ingest_monitor") - totalDocs("q168_curated_ingest") == dups)
  }
}
