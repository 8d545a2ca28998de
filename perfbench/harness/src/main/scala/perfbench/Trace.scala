package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. Every span of one query, layer build or micro-batch
  * carries that unit's `traceId`; `parentId` links jobs to their unit
  * and stages to their job. Times are epoch milliseconds. */
final case class Span(traceId: String, spanId: String, parentId: String,
                      name: String, startMs: Double, endMs: Double) {
  def json: String =
    s"""{"trace_id":${Json.str(traceId)},"span_id":${Json.str(spanId)},""" +
      s""""parent_id":${Json.str(parentId)},"name":${Json.str(name)},""" +
      s""""start_ms":$startMs,"end_ms":$endMs}"""
}

/** Spark work attributed to one trace id. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; cpuNs += o.cpuNs
  }
}

/** A finished SQL execution as the QueryExecutionListener saw it:
  * analysis + optimization + planning time vs execution time. */
final case class Execution(startMs: Double, planningMs: Double, executionMs: Double)

/** The traced run's instruments: a SparkListener keyed by the job group
  * the harness sets before each layer build and query (micro-batch jobs
  * are keyed by their stream's query id and batch id), a
  * QueryExecutionListener for planning vs execution, and a
  * StreamingQueryListener for micro-batch progress. Everything stays in
  * memory until [[writeSpans]]; [[detach]] removes all three listeners. */
final class Trace(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageStart = new ConcurrentHashMap[Int, Long]()
  val executions = new ConcurrentLinkedQueue[Execution]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private def keyOf(props: java.util.Properties): String =
    if (props == null) "unattributed"
    else Option(props.getProperty("streaming.sql.batchId")) match {
      case Some(b) => s"${props.getProperty("sql.streaming.queryId")}:$b"
      case None => Option(props.getProperty("spark.jobGroup.id")).getOrElse("unattributed")
    }

  private def countersOf(key: String): Counters = counters.computeIfAbsent(key, _ => new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val key = keyOf(e.properties)
      countersOf(key).synchronized(countersOf(key).jobs += 1)
      e.stageIds.foreach { s => stageKey.putIfAbsent(s, key); stageJob.putIfAbsent(s, e.jobId) }
      jobStart.put(e.jobId, (key, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (key, t0) =>
        spans.add(Span(key, s"job-${e.jobId}", key, s"job ${e.jobId}", t0.toDouble, e.time.toDouble))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val key = Option(stageKey.get(e.stageInfo.stageId)).getOrElse(keyOf(e.properties))
      stageKey.put(e.stageInfo.stageId, key)
      countersOf(key).synchronized(countersOf(key).stages += 1)
      stageStart.put(e.stageInfo.stageId, System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val key = Option(stageKey.get(id)).getOrElse("unattributed")
      val t0 = Option(stageStart.remove(id)).map(_.longValue()).getOrElse(System.currentTimeMillis())
      val parent = Option(stageJob.get(id)).map(j => s"job-$j").getOrElse(key)
      spans.add(Span(key, s"stage-$id.${e.stageInfo.attemptNumber()}", parent,
        e.stageInfo.name, t0.toDouble, System.currentTimeMillis().toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countersOf(Option(stageKey.get(e.stageId)).getOrElse("unattributed"))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.cpuNs += m.executorCpuTime
        }
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        executions.add(Execution(phases.map(_.startTimeMs).min.toDouble,
          phases.map(_.durationMs).sum.toDouble, durationNs / 1e6))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private val watched = mutable.ArrayBuffer.empty[SparkSession]

  /** Also record the SQL executions of `s` (each session has its own
    * listener manager). */
  def watch(s: SparkSession): Unit = {
    s.listenerManager.register(execListener)
    watched += s
  }

  spark.sparkContext.addSparkListener(sparkListener)
  watch(spark)
  spark.streams.addListener(streamListener)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    watched.foreach(_.listenerManager.unregister(execListener))
    spark.streams.removeListener(streamListener)
  }

  /** Time `body` as the root span of `traceId`. */
  def span[T](traceId: String, name: String, parentId: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body
    finally spans.add(Span(traceId, traceId, parentId, name, t0.toDouble,
      System.currentTimeMillis().toDouble))
  }

  def add(s: Span): Unit = spans.add(s)

  /** Counters of every trace id that satisfies `p`, summed. */
  def sum(p: String => Boolean): Counters = {
    val out = new Counters
    counters.asScala.foreach { case (k, c) => if (p(k)) c.synchronized(out += c) }
    out
  }

  def writeSpans(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, spans.asScala.map(_.json).asJava)
}

object Trace {
  /** Run `body` with `group` as the Spark job group of this thread. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }
}
