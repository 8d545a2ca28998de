package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** A generated input event: its wire form, its event time (epoch
  * seconds) and whether the generator planted it later than the
  * watermark. */
final case class Ev(payload: String, eventSec: Long, key: String, planted: Boolean)

/** One fed block: its MemoryStream offset and the index range
  * [first, until) of its events. */
final case class Block(offset: Long, first: Int, until: Int)

/** What a stream leg observed: fed blocks, sink batches (rows with the
  * wall time they were emitted) and the engine's own progress reports. */
final class LegLog {
  val blocks = mutable.ArrayBuffer.empty[Block]
  val emitted = mutable.ArrayBuffer.empty[(Long, Double, Array[Row])]
  var progress: Seq[StreamingQueryProgress] = Nil

  /** For every progress report with input: the blocks it covered and
    * the watermark (epoch ms) the batch ran with. */
  def batches: Seq[(StreamingQueryProgress, Seq[Block], Long)] =
    progress.filter(_.numInputRows > 0).map { p =>
      val s = p.sources.head
      val start = Option(s.startOffset).filter(_ != "null").map(_.toLong).getOrElse(-1L)
      val end = s.endOffset.toLong
      (p, blocks.filter(b => b.offset > start && b.offset <= end).toSeq, Streams.watermarkMs(p))
    }
}

object Streams {
  val Epoch0: Long = 1704067200L // 2024-01-01 00:00:00 UTC
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def bidTime(sec: Long): String = fmt.format(LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC))

  def watermarkMs(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark")).map(Instant.parse(_).toEpochMilli).getOrElse(0L)

  /** Zipf(s) sampler over `n` ranks by inverse CDF. */
  final class Zipf(n: Int, s: Double, rng: java.util.SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Closed loop: feed `chunks` (index ranges into `evs`) one by one and
    * wait for each to be fully processed. Returns the wall time. */
  def feedClosed(mem: MemoryStream[String], q: StreamingQuery, evs: IndexedSeq[Ev],
                 chunks: Seq[(Int, Int)], log: LegLog): Double =
    Stats.timed {
      chunks.foreach { case (a, b) =>
        val off = mem.addData(evs.slice(a, b).map(_.payload))
        log.blocks += Block(offsetOf(off), a, b)
        q.processAllAvailable()
      }
    }._2

  def offsetOf(o: Any): Long = o.toString.toLong

  /** Open loop: feed `evs` from index `from` on at `ratePerS` events per
    * wall second, each event stamped with the wall time it was due (not
    * when it was sent). Sends whatever is due every `tickMs`. Returns (t0
    * ms, per-block lag in ms behind its last event's due time, max backlog
    * rows); event `i` was due at `dueMs(t0, ratePerS, i - from)`. */
  def feedPaced(mem: MemoryStream[String], evs: IndexedSeq[Ev], from: Int, ratePerS: Double,
                log: LegLog, processed: () => Long): (Double, Seq[Double], Long) = {
    val tickMs = 50L
    val t0 = System.currentTimeMillis() + 50.0
    var next = from
    val lags = mutable.ArrayBuffer.empty[Double]
    var backlog = 0L
    val processed0 = processed()
    while (next < evs.length) {
      val now = System.currentTimeMillis().toDouble
      val due = math.min(evs.length, from + ((now - t0) * ratePerS / 1000.0).floor.toInt + 1)
      if (due > next) {
        val off = mem.addData(evs.slice(next, due).map(_.payload))
        log.blocks += Block(offsetOf(off), next, due)
        lags += System.currentTimeMillis() - dueMs(t0, ratePerS, due - 1 - from)
        next = due
        backlog = math.max(backlog, next - from - (processed() - processed0))
      }
      Thread.sleep(tickMs)
    }
    (t0, lags.toSeq, backlog)
  }

  def dueMs(t0: Double, ratePerS: Double, i: Int): Double = t0 + i * 1000.0 / ratePerS

  /** The per-layer numbers every stream workload reports from the
    * progress of its first timed round (`round`) and its paced leg. */
  def progressMetrics(round: Seq[StreamingQueryProgress], paced: Seq[StreamingQueryProgress],
                      report: Report): Unit = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
    def p50(k: String) = Stats.median(round.map(dur(_, k)))
    report.put("batch.count", round.size.toDouble, "count")
    report.put("batch.trigger_ms_p50", p50("triggerExecution"), "ms")
    report.put("batch.trigger_ms_p90", Stats.percentile(round.map(dur(_, "triggerExecution")), 90), "ms")
    report.put("batch.add_batch_ms_p50", p50("addBatch"), "ms")
    report.put("batch.query_planning_ms_p50", p50("queryPlanning"), "ms")
    report.put("batch.get_batch_ms_p50", p50("getBatch"), "ms")
    report.put("batch.wal_commit_ms_p50", p50("walCommit"), "ms")
    report.put("batch.commit_offsets_ms_p50", p50("commitOffsets"), "ms")
    val ops = round.flatMap(_.stateOperators.toSeq)
    val last = round.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    report.put("state.rows_total", last.map(_.numRowsTotal).sum.toDouble, "count")
    report.put("state.memory_bytes", last.map(_.memoryUsedBytes).sum.toDouble, "bytes")
    report.put("state.rows_updated", ops.map(_.numRowsUpdated).sum.toDouble, "count")
    report.put("state.rows_removed", ops.map(_.numRowsRemoved).sum.toDouble, "count")
    report.put("state.commit_ms_p50", Stats.median(round.map(p =>
      p.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms")
    report.put("late.rows_dropped", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
    val lags = paced.filter(_.eventTime.containsKey("max")).map(p =>
      (Instant.parse(p.eventTime.get("max")).toEpochMilli - watermarkMs(p)).toDouble)
    report.put("watermark.lag_ms_p50", Stats.median(lags), "ms")
  }

  /** Spark counters of the micro-batches of `ps` (keyed by query id and
    * batch id in the trace). */
  def sparkCounts(t: Trace, ps: Seq[StreamingQueryProgress], report: Report): Unit = {
    val keys = ps.map(p => s"${p.id}:${p.batchId}").toSet
    val c = t.sum(keys)
    report.put("spark.jobs", c.jobs.toDouble, "count")
    report.put("spark.stages", c.stages.toDouble, "count")
    report.put("spark.tasks", c.tasks.toDouble, "count")
  }

  /** Micro-batch spans from progress reports: the batch, then its phases
    * laid end to end, all under the batch's trace id. */
  def batchSpans(t: Trace, leg: String, ps: Seq[StreamingQueryProgress]): Unit =
    ps.foreach { p =>
      val id = s"${p.id}:${p.batchId}"
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val total = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue()).getOrElse(0.0)
      t.add(Span(id, id, leg, s"$leg batch ${p.batchId}", start, start + total))
      var at = start
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach { k =>
          Option(p.durationMs.get(k)).map(_.doubleValue()).foreach { d =>
            t.add(Span(id, s"$id:$k", id, k, at, at + d))
            at += d
          }
        }
    }

  /** Collecting sink: every micro-batch's rows with the wall time they
    * were emitted. */
  def collectInto(log: LegLog): (DataFrame, Long) => Unit = (df: DataFrame, batchId: Long) => {
    val rows = df.collect()
    log.synchronized(log.emitted += ((batchId, System.currentTimeMillis().toDouble, rows)))
  }

  /** Rows processed so far by a running query, from the trace's progress. */
  def processedBy(trace: Option[Trace], q: => StreamingQuery): () => Long = trace match {
    case Some(t) => () => t.progress.asScala.filter(_.id == q.id).map(_.numInputRows).sum
    case None => () => 0L
  }
}
