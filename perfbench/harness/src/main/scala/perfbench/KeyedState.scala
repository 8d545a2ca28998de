package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ml.LinUCB
import graft.ml.LinUCB.{Feedback, Model}
import graft.streaming.{CdcMaterialize, LinUCBStream}
import graft.streaming.LinUCBStream.TimedFeedback

/** Keyed state that grows, the state store used the other way round from
  * the windowed stream: seeded CDC envelopes (`Cdc.lineitemEnvelopeSchema`;
  * 50% creates of new keys, 40% updates and 10% deletes of live keys; 10%
  * delivered out of `lsn` order) feed `CdcMaterialize.decode` →
  * `upsertView` → an upsert sink, and seeded bandit feedback (25 arms,
  * 5-dim contexts, out of order within the 5 s delay) feeds
  * `LinUCBStream.trainEventTime`. Every key ever seen keeps a state entry
  * that is written whenever it changes.
  *
  * These legs run in the traced run of the stream workload: closed-loop
  * rounds of one CDC chunk and one feedback chunk, each fed and fully
  * processed in turn; round 0 warms up. They report
  * `cdc.changes_per_s` and `linucb.events_per_s`.
  *
  * Checks: the upsert view equals the latest image per key by `lsn`
  * (deleted keys absent), and each arm's final model equals
  * `LinUCB.seed` over the same feedback within 1e-9. */
final class KeyedState(cfg: Config) {
  private val Dim = 5
  private val Arms = 25
  private val ChunkRows = 2000
  private val MaxRounds = 20
  private val FeedbackPerEventSec = 200

  private var cdc: IndexedSeq[Ev] = IndexedSeq.empty
  private var feedback: IndexedSeq[TimedFeedback] = IndexedSeq.empty
  private var view: Option[(IndexedSeq[Ev], LegLog)] = None
  private var models: Option[(Seq[TimedFeedback], Map[String, Model])] = None

  /** `n` changes in lsn order, then locally shuffled. */
  private def changes(seed: Long, n: Int): IndexedSeq[Ev] = {
    val rng = new java.util.SplittableRandom(seed)
    val live = mutable.ArrayBuffer.empty[(Long, Int)]
    var nextLine = 0L
    val inOrder = (0 until n).map { i =>
      val r = rng.nextDouble()
      val lsn = (i + 1) * 10L
      val (key, op) =
        if (live.isEmpty || r < 0.5) {
          val k = (nextLine / 4, (nextLine % 4).toInt + 1)
          nextLine += 1
          live += k
          (k, "c")
        } else {
          val j = rng.nextInt(live.size)
          val k = live(j)
          if (r < 0.9) (k, "u")
          else { live(j) = live.last; live.remove(live.size - 1); (k, "d") }
        }
      val (o, l) = key
      val json =
        if (op == "d")
          s"""{"order_id":$o,"line_no":$l,"part_id":null,"quantity":null,"price":null,""" +
            s""""op":"d","__deleted":"true","table":"order_items","lsn":$lsn}"""
        else
          s"""{"order_id":$o,"line_no":$l,"part_id":${rng.nextInt(20000)},""" +
            s""""quantity":${1 + rng.nextInt(50)}.0,"price":${(90000 + rng.nextInt(10000000)) / 100.0},""" +
            s""""op":"$op","__deleted":"false","table":"order_items","lsn":$lsn}"""
      Ev(json, lsn, s"$o-$l", planted = false)
    }.toArray
    // 10% delivered out of order: swapped with a change up to 5 later
    (0 until n).foreach { i =>
      if (rng.nextDouble() < 0.1) {
        val j = math.min(n - 1, i + 1 + rng.nextInt(5))
        val t = inOrder(i); inOrder(i) = inOrder(j); inOrder(j) = t
      }
    }
    inOrder.toIndexedSeq
  }

  private def feedbackEvents(seed: Long, n: Int): IndexedSeq[TimedFeedback] = {
    val rng = new java.util.SplittableRandom(seed)
    (0 until n).map { i =>
      val clock = Streams.Epoch0 + i / FeedbackPerEventSec
      val sec = if (rng.nextDouble() < 0.1) clock - rng.nextInt(3) else clock
      val x = Array(1.0) ++ Array.fill(Dim - 1)(rng.nextInt(1000) / 1000.0)
      val reward = if (x(1) + x(2) * 0.5 + rng.nextDouble() * 0.5 > 1.0) 1.0 else 0.0
      TimedFeedback(f"arm-${rng.nextInt(Arms)}%02d", x, reward, new java.sql.Timestamp(sec * 1000L))
    }
  }

  def prepare(): Unit = {
    cdc = changes(cfg.seed + 3, ChunkRows * MaxRounds)
    feedback = feedbackEvents(cfg.seed + 4, ChunkRows * MaxRounds)
  }

  /** The closed-loop rounds, for about `seconds` (at least three rounds). */
  def run(spark: SparkSession, seconds: Double, report: Report): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val log = new LegLog
    val trained = mutable.Map.empty[String, Model]
    val cmem = MemoryStream[String]
    val cq = CdcMaterialize.upsertView(CdcMaterialize.decode(cmem.toDF()))
      .toDF().writeStream.outputMode(CdcMaterialize.outputMode)
      .option("checkpointLocation", cfg.path(s"checkpoints/cdc-${System.nanoTime()}"))
      .foreachBatch(Streams.collectInto(log))
      .start()
    val fmem = MemoryStream[TimedFeedback]
    val fq = LinUCBStream.trainEventTime(fmem.toDS(), Dim)
      .writeStream.outputMode("update")
      .option("checkpointLocation", cfg.path(s"checkpoints/linucb-${System.nanoTime()}"))
      .foreachBatch { (ds: Dataset[Model], _: Long) =>
        ds.collect().foreach { m =>
          if (trained.get(m.productId).forall(_.n <= m.n)) trained(m.productId) = m
        }
      }
      .start()
    var cdcS, fbS = 0.0
    val t0 = System.nanoTime()
    var round = 0
    try {
      while (round < MaxRounds && (round < 3 || Stats.sec(System.nanoTime() - t0) < seconds * 0.4)) {
        val chunk = (round * ChunkRows, (round + 1) * ChunkRows)
        val c = Streams.feedClosed(cmem, cq, cdc, Seq(chunk), log)
        val f = Stats.timed {
          fmem.addData(feedback.slice(chunk._1, chunk._2))
          fq.processAllAvailable()
        }._2
        if (round >= 1) { cdcS += c; fbS += f }
        round += 1
      }
      // flush: two far-future events on a throwaway arm push every
      // pending event-time deadline past the watermark
      Seq(3600L, 7200L).foreach { s =>
        fmem.addData(TimedFeedback("zz_flush", Array.fill(Dim)(0.0), 0.0,
          new java.sql.Timestamp((Streams.Epoch0 + 100000 + s) * 1000L)))
        fq.processAllAvailable()
      }
    } finally { cq.stop(); fq.stop() }
    log.progress = cq.recentProgress.toSeq
    view = Some((cdc.take(round * ChunkRows), log))
    models = Some((feedback.take(round * ChunkRows), trained.toMap - "zz_flush"))
    report.attempted += log.progress.size + fq.recentProgress.length
    report.put("cdc.changes_per_s", (round - 1) * ChunkRows / cdcS, "1/s")
    report.put("linucb.events_per_s", (round - 1) * ChunkRows / fbS, "1/s")
    Main.phase(s"keyed-state legs: $round rounds")
  }

  def check(spark: SparkSession, report: Report): Unit = {
    import spark.implicits._
    view.foreach { case (evs, log) =>
      val got = mutable.Map.empty[String, Seq[Any]]
      log.emitted.sortBy(_._1).foreach { case (_, _, rows) =>
        rows.foreach { r =>
          if (r.getAs[Boolean]("deleted")) got.remove(r.getString(0))
          else got(r.getString(0)) = r.toSeq
        }
      }
      val decoded = CdcMaterialize.decode(evs.map(_.payload).toDF("value")).collect()
      val expected = decoded.groupBy(_.getString(0)).values.map(_.maxBy(_.getLong(1)))
        .filter(_.getString(2) != "d")
        .map(r => r.getString(0) -> Seq[Any](r.getString(0), r.getLong(1), false,
          r.getLong(3), r.getInt(4), r.get(5), r.get(6), r.get(7)))
        .toMap
      report.check(s"cdc: upsert view (${got.size} keys) differs from the latest image " +
        s"per key by lsn (${expected.size} keys)", got.toMap == expected)
    }
    models.foreach { case (fb, got) =>
      val batch = LinUCB.seed(fb.map(f => Feedback(f.productId, f.x, f.reward)).toDS(), Dim)
        .collect().map(m => m.productId -> m).toMap
      def close(a: Array[Double], b: Array[Double]) =
        a.length == b.length && a.indices.forall(i =>
          math.abs(a(i) - b(i)) <= 1e-9 * math.max(1.0, math.abs(b(i))))
      val ok = batch.keySet == got.keySet && batch.forall { case (k, m) =>
        val g = got(k)
        g.n == m.n && close(g.aInv, m.aInv) && close(g.b, m.b)
      }
      report.check("linucb: trained models differ from LinUCB.seed", ok)
    }
  }
}
