package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.SupplierStats
import graft.streaming.SupplierStatsStream

/** The paper's flagship query as a stream: seeded JSON orders in the
  * reference `Order` schema, over 1,000 suppliers with Zipf skew, feed
  * `MemoryStream` → `SupplierStatsStream.parseOrders` → `stats` (5 s
  * tumbling windows, 5 s watermark, Append mode, default trigger) → a
  * collecting sink.
  *
  * The generator's event clock advances `EventsPerEventSec` orders per
  * event second. 10% of orders arrive out of order within the watermark
  * (1-3 s behind their reference time) and 2% are planted 15-24 s behind
  * it, later than the watermark (none in the first 30 event seconds). The
  * reference time is the event clock at the start of the order's block of
  * `blockRows` orders: in the saturated leg a block is the chunk fed as one
  * micro-batch, so every out-of-order order lands in a window the previous
  * batch opened and every planted order is dropped as late; in the paced
  * leg it is the clock itself.
  *
  * Saturated leg (closed loop): rounds of one chunk of `ChunkRows`
  * orders, each fed and fully processed before the next; the first
  * `WarmRounds` warm up. Paced leg (open loop, traced runs only): a
  * fresh query, warmed up with one closed-loop chunk of an hour earlier,
  * then fed `PacedRate` orders per wall second, so its event clock runs
  * at 25× wall time and the 5 s watermark costs 0.2 s of wall time. Result latency runs from the due
  * time of the last order that contributes to a window row to the wall
  * time that row was emitted. Every leg's emitted windows are checked
  * against `SupplierStats.tumble` over the orders the engine kept. */
final class SupplierStatsBench(cfg: Config) extends Workload {
  /** More set-ups than the catalog's: each is short (a fresh session and
    * the inputs), so their median needs more of them to settle. */
  val setupReps = 15
  private val Suppliers = 1000
  private val EventsPerEventSec = 12
  private val PacedRate = EventsPerEventSec * 25.0
  private val ChunkRows = 2000
  /** Nominal wall time of a saturated round on a 4-core VM. */
  private val RoundSeconds = 2.0
  /** Untimed saturated rounds before the timed ones (JIT, codegen caches). */
  private val WarmRounds = 2

  private var saturated: IndexedSeq[Ev] = IndexedSeq.empty
  private var warmup: IndexedSeq[Ev] = IndexedSeq.empty
  private var paced: IndexedSeq[Ev] = IndexedSeq.empty
  private val legs = mutable.ArrayBuffer.empty[(String, IndexedSeq[Ev], LegLog)]

  private def generate(seed: Long, n: Int, baseSec: Long, blockRows: Int): IndexedSeq[Ev] = {
    val rng = new java.util.SplittableRandom(seed)
    val zipf = new Streams.Zipf(Suppliers, 1.1, rng)
    val items = Array("gizmo", "widget", "anvil", "gear", "bolt", "plate", "ring", "rod")
    (0 until n).map { i =>
      val clock = baseSec + i / EventsPerEventSec
      val ref = baseSec + i / blockRows * blockRows / EventsPerEventSec
      val r = rng.nextDouble()
      val (sec, planted) =
        if (r < 0.02 && ref - baseSec > 30) (ref - 15 - rng.nextInt(10), true)
        else if (r < 0.12) (ref - 1 - rng.nextInt(3), false)
        else (clock, false)
      val supplier = f"supplier-${zipf.next()}%04d"
      val price = (100 + rng.nextInt(14901)) / 100.0
      val json = f"""{"order_id":"$seed-$i","bid_time":"${Streams.bidTime(sec)}",""" +
        f""""price":$price%.2f,"item":"${items(rng.nextInt(items.length))}",""" +
        f""""supplier":"$supplier"}"""
      Ev(json, sec, supplier, planted)
    }
  }

  /** Saturated rounds, warm-up included, for `seconds` of timed rounds. */
  private def rounds(seconds: Double) =
    WarmRounds + math.max(2, (seconds / RoundSeconds).round.toInt)

  private def pacedSeconds(seconds: Double) = math.max(8.0, seconds * 0.4)

  def prepare(spark: SparkSession): Unit = {
    saturated = generate(cfg.seed, ChunkRows * rounds(cfg.seconds), Streams.Epoch0, ChunkRows)
    warmup = generate(cfg.seed + 1, ChunkRows, Streams.Epoch0 - 3600, ChunkRows)
    paced = generate(cfg.seed + 2, (PacedRate * pacedSeconds(cfg.seconds)).toInt, Streams.Epoch0, 1)
  }

  private def start(spark: SparkSession, name: String, log: LegLog): (MemoryStream[String], StreamingQuery) = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val q = SupplierStatsStream.stats(SupplierStatsStream.parseOrders(mem.toDF()))
      .writeStream.outputMode("append")
      .option("checkpointLocation", cfg.path(s"checkpoints/$name-${System.nanoTime()}"))
      .foreachBatch(Streams.collectInto(log))
      .start()
    (mem, q)
  }

  private def chunk(round: Int): Seq[(Int, Int)] = Seq((round * ChunkRows, (round + 1) * ChunkRows))

  def measure(spark: SparkSession, seconds: Double, trace: Option[Trace],
              report: Report): (Map[String, (Double, String)], Double) = {
    val tag = if (trace.isDefined) "traced" else "plain"
    // untraced runs time only the saturated leg; traced ones leave 40% of
    // their time to the paced leg. The warm-up rounds are not counted.
    // The number of timed rounds follows from the time, not from how fast
    // they run, so that every run of a seed does the same work: rounds
    // still speed up after the warm-up as the JIT compiles, and a faster
    // run must not be measured later in that curve.
    val satSeconds = if (trace.isDefined) seconds * 0.6 else seconds
    val satLog = new LegLog
    val (mem, q) = start(spark, s"sat-$tag", satLog)
    val laps = mutable.ArrayBuffer.empty[Lap]
    val firstRound = mutable.ArrayBuffer.empty[Long]
    var round = 0
    try {
      while (round < rounds(satSeconds)) {
        val before = q.recentProgress.length
        val (_, lap) = Stats.lap(Streams.feedClosed(mem, q, saturated, chunk(round), satLog))
        if (round >= WarmRounds) laps += lap
        if (round == WarmRounds) firstRound ++= q.recentProgress.drop(before).map(_.batchId)
        round += 1
      }
    } finally q.stop()
    satLog.progress = q.recentProgress.toSeq
    legs += ((s"saturated-$tag", saturated.take(round * ChunkRows), satLog))
    report.attempted += satLog.progress.size
    val unitS = Stats.median(laps.map(_.unstolen))
    report.extra(s"round_laps_$tag") = Lap.json(laps)
    Main.phase(s"saturated leg: $round rounds, median round $unitS s")

    val e2e = Map(
      "throughput_per_cpu_s" -> (ChunkRows / Stats.median(laps.map(_.cpu)), "1/s"),
      "throughput_per_s" -> (ChunkRows / Stats.median(laps.map(_.unstolen)), "1/s"))
    val latency = trace.map { t =>
      val (latencies, pacedLog) = pacedLeg(spark, seconds, t, report)
      val roundP = satLog.progress.filter(p => firstRound.contains(p.batchId))
      Streams.progressMetrics(roundP, pacedLog.progress, report)
      Streams.sparkCounts(t, roundP, report)
      Streams.batchSpans(t, "saturated", satLog.progress)
      report.put("late.rows_generated",
        saturated.slice(WarmRounds * ChunkRows, (WarmRounds + 1) * ChunkRows).count(_.planted)
          .toDouble, "count")
      report.put("sink.rows_out", satLog.emitted.filter(e => firstRound.contains(e._1))
        .map(_._3.length).sum.toDouble, "count")
      report.put("scaling.single_task_rows_per_s", singleTaskRowsPerS(spark), "1/s")
      "result.latency_p50_ms" -> (Stats.median(latencies), "ms")
    }
    (e2e ++ latency, unitS)
  }

  /** The paced leg (traced runs only): its result latencies and log,
    * after reporting the generator's lag and backlog. */
  private def pacedLeg(spark: SparkSession, seconds: Double, t: Trace,
                       report: Report): (Seq[Double], LegLog) = {
    val log = new LegLog
    val evs = warmup ++ paced.take((PacedRate * pacedSeconds(seconds)).toInt)
    val (mem, q) = start(spark, "paced", log)
    val (t0, lags, backlog) =
      try {
        Streams.feedClosed(mem, q, evs, Seq((0, warmup.length)), log)
        val r = Streams.feedPaced(mem, evs, warmup.length, PacedRate, log,
          Streams.processedBy(Some(t), q))
        q.processAllAvailable()
        r
      } finally q.stop()
    log.progress = q.recentProgress.toSeq
    legs += (("paced", evs, log))
    report.attempted += log.progress.size
    Main.phase(s"paced leg: ${log.progress.size} batches")
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    Streams.batchSpans(t, "paced", log.progress)
    report.put("source.generator_lag_ms", Stats.percentile(lags, 99), "ms")
    report.put("source.backlog_rows_max", backlog.toDouble, "count")
    val latencies = resultLatencies(evs, log, t0)
    if (latencies.size < 1000)
      report.fail(s"paced leg emitted ${latencies.size} result rows, fewer than 1000")
    (latencies, log)
  }

  /** The saturated leg's first timed round rerun with one shuffle
    * partition: with the one-block source every stage is one task, the
    * traced run's single-thread baseline. */
  private def singleTaskRowsPerS(spark: SparkSession): Double = {
    val s1 = spark.newSession()
    s1.conf.set("spark.sql.shuffle.partitions", "1")
    val log = new LegLog
    val (mem, q) = start(s1, "single-task", log)
    try {
      Streams.feedClosed(mem, q, saturated, chunk(0), log)
      ChunkRows / Streams.feedClosed(mem, q, saturated, chunk(1), log)
    } finally q.stop()
  }

  /** Orders the engine kept. The aggregation drops a row as late when its
    * window ended at or before the watermark of the PREVIOUS micro-batch
    * (Spark's late-event watermark); windows are emitted once they end at
    * or before the current batch's watermark. */
  private def kept(evs: IndexedSeq[Ev], log: LegLog): Seq[Int] = {
    val wmOf = log.progress.map(p => p.batchId -> Streams.watermarkMs(p)).toMap
    log.batches.flatMap { case (p, blocks, _) =>
      val lateWm = wmOf.getOrElse(p.batchId - 1, 0L)
      blocks.flatMap(b => b.first until b.until)
        .filter(i => ((evs(i).eventSec / 5) * 5 + 5) * 1000L > lateWm)
    }
  }

  /** Per emitted window row of the paced part: emission wall time minus
    * the due time of the last order that contributes to it. */
  private def resultLatencies(evs: IndexedSeq[Ev], log: LegLog, t0: Double): Seq[Double] = {
    val lastDue = mutable.Map.empty[(Long, String), Int]
    kept(evs, log).filter(_ >= warmup.length).foreach { i =>
      val k = ((evs(i).eventSec / 5) * 5, evs(i).key)
      lastDue(k) = math.max(lastDue.getOrElse(k, -1), i)
    }
    for {
      (_, at, rows) <- log.emitted.toSeq
      r <- rows.toSeq
      i <- lastDue.get((epochSec(r.getString(0)), r.getString(2))).toSeq
    } yield at - Streams.dueMs(t0, PacedRate, i - warmup.length)
  }

  private def epochSec(s: String): Long =
    java.time.LocalDateTime.parse(s.replace(' ', 'T')).toEpochSecond(java.time.ZoneOffset.UTC)

  def check(spark: SparkSession, report: Report): Unit = {
    import spark.implicits._
    legs.foreach { case (name, evs, log) =>
      val finalWm = log.progress.map(Streams.watermarkMs).foldLeft(0L)(math.max)
      val twin = SupplierStats.tumble(
          SupplierStatsStream.parseOrders(kept(evs, log).map(evs(_).payload).toDF("value")),
          col("bid_time"), col("supplier"), col("price"))
        .collect().filter(r => epochSec(r.getString(1)) * 1000L <= finalWm)
        .map(_.mkString("|")).toSeq
      val got = log.emitted.toSeq.flatMap(_._3).map(_.mkString("|"))
      val diff = (got.diff(twin).map("+" + _) ++ twin.diff(got).map("-" + _)).sorted.take(4)
      report.check(s"$name: ${got.size} emitted windows vs ${twin.size} in the batch twin; " +
        s"differing rows: ${diff.mkString(", ")}", diff.isEmpty)
      report.check(s"$name: emitted no windows", got.nonEmpty)
      // Spark drops late rows after the partial aggregation: one row per
      // window and supplier of a batch's late orders
      val keptSet = kept(evs, log).toSet
      val lateGroups = log.batches.map { case (_, blocks, _) =>
        blocks.flatMap(b => b.first until b.until).filterNot(keptSet)
          .map(i => (evs(i).eventSec / 5, evs(i).key)).distinct.size.toLong
      }.sum
      val dropped = log.progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      report.check(s"$name: the engine dropped $dropped rows as late, the late orders " +
        s"form $lateGroups windows and suppliers", dropped == lateGroups)
      if (name.startsWith("saturated")) {
        val late = evs.indices.filterNot(keptSet)
        report.check(s"$name: ${late.size} orders were late, ${evs.count(_.planted)} planted late",
          late == evs.indices.filter(evs(_).planted))
      }
    }
  }
}
