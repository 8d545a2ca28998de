package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, HostMeter}

/** Command line of the harness JVM (written by `perfbench/run.py`). */
final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, work: String, lake: String, catalog: String) {
  def path(name: String): String = s"$work/$name"
}

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Config(
      workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toDouble,
      trace = kv("trace") == "1", cpus = kv("cpus").toInt, work = kv("work"),
      lake = kv.getOrElse("lake", ""), catalog = kv.getOrElse("catalog", ""))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** What one run measured and checked. Operations are layer builds,
  * queries and micro-batches; a failed operation threw or produced an
  * output that differs from its oracle or batch twin. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val extra = mutable.LinkedHashMap.empty[String, String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def fail(what: String): Unit = { failed += 1; failures += what }

  /** One checked comparison that does not add an operation of its own
    * (the operation it checks is already counted). */
  def check(what: String, ok: Boolean): Unit = if (!ok) fail(what)

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    val fs = failures.map(Json.str).mkString("[", ",", "]")
    val ex = extra.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":$ms,"failures":$fs""" +
      (if (ex.isEmpty) "" else "," + ex) + "}"
  }
}

/** One benchmark workload. `prepare` is the set-up work repeated for
  * `setup_s`; `measure` runs the timed legs for about `seconds` and
  * returns its end-to-end throughputs with the wall-clock `result.*`
  * metrics, plus the median unstolen wall time of its repeated unit of
  * work (for `trace.overhead_ratio`); `check` compares every recorded
  * output with its oracle or batch twin, untimed. */
trait Workload {
  /** Set-ups per run; `setup_s` reports the median of all but the first. */
  def setupReps: Int
  def prepare(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double, trace: Option[Trace],
              report: Report): (Map[String, (Double, String)], Double)
  def check(spark: SparkSession, report: Report): Unit
}

object Main {
  /** Every session the harness uses comes from the engine's factory; only
    * scratch locations are redirected into the benchmark's work dir. */
  def session(cfg: Config, cpus: Int): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", cfg.path("spark-local"))
      .config("spark.sql.warehouse.dir", cfg.path("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr (kept in the run's log). */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${Stats.sec(System.nanoTime() - t0)}%7.2f s  $what")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val cpuAtMain = Stats.cpuS()
    val cfg = Config.parse(args)
    val workload: Workload = cfg.workload match {
      case "catalog" => new Catalog(cfg)
      case "stream_supplier_stats" => new SupplierStatsBench(cfg)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val report = new Report
    // The keyed-state legs (CDC materializer, LinUCB trainer) ride along in
    // the traced run of the supplier-stats stream: their throughput is
    // reported per layer and their outputs are checked like every other.
    val keyed =
      if (cfg.trace && cfg.workload == "stream_supplier_stats") Some(new KeyedState(cfg))
      else None

    // Set-up, several times over: a fresh SparkContext from the engine's
    // session factory plus the workload's preparation (full scan of every
    // input table, or stream input generation). The last one is kept.
    // `setup_s` is the median unstolen wall time of all but the first: JVM
    // start-up and the first, cold set-up happen once a run, so they are
    // only recorded in the artifact.
    val setupLaps = mutable.ArrayBuffer.empty[Lap]
    var spark: SparkSession = null
    for (_ <- 1 to workload.setupReps) {
      if (spark != null) spark.stop()
      val (s, lap) = Stats.lap { val s = session(cfg, cfg.cpus); workload.prepare(s); s }
      spark = s
      setupLaps += lap
    }
    val jvmS = (mainMs - jvmStartMs) / 1000.0
    phase(s"set-up x${workload.setupReps}: " + setupLaps.map(l =>
      f"${l.wall}%.2f/${l.cpu}%.2f/${l.unstolen}%.2f").mkString(" ") + " s (wall/cpu/unstolen)")
    report.extra("setup_laps") = Lap.json(setupLaps)
    report.extra("setup_jvm") = s"[${Json.num(jvmS)},${Json.num(cpuAtMain)}]"

    val host = new HostSampler
    val meterStart = HostMeter.mark()
    host.start()
    try {
      if (!cfg.trace) {
        val (e2e, _) = workload.measure(spark, cfg.seconds, None, report)
        report.put("setup_s", Stats.median(setupLaps.tail.map(_.unstolen)), "s")
        e2e.foreach { case (k, (v, u)) => report.put(k, v, u) }
      } else {
        // untraced half first, then the traced half: their ratio is the
        // tracing overhead; only the traced half reports per-layer numbers
        val (_, plain) = workload.measure(spark, cfg.seconds / 2, None, report)
        val trace = new Trace(spark)
        val (e2e, traced) =
          try {
            val r = workload.measure(spark, cfg.seconds / 2, Some(trace), report)
            keyed.foreach { k => k.prepare(); k.run(spark, cfg.seconds / 2, report) }
            r
          } finally trace.detach()
        // the wall-clock results are per-layer metrics of the traced run
        e2e.foreach { case (k, (v, u)) => if (k.startsWith("result.")) report.put(k, v, u) }
        Files.createDirectories(Paths.get(cfg.work))
        trace.writeSpans(Paths.get(cfg.path("spans.jsonl")))
        report.put("trace.overhead_ratio", traced / plain, "ratio")
      }
      phase("measured")
      workload.check(spark, report)
      keyed.foreach(_.check(spark, report))
      phase("checked")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        report.fail(s"harness: $e")
    } finally {
      host.finish()
      val meterEnd = HostMeter.mark()
      report.extra("provenance") = "{" + HostMeter.provenanceJson(meterStart, meterEnd) + "}"
      if (cfg.trace) {
        val wall = (meterEnd.wallNanos - meterStart.wallNanos) / 1e9
        val cpus = HostMeter.nCpus()
        report.put("host.steal_pct",
          math.max(0.0, 100.0 * (meterEnd.steal - meterStart.steal) / (wall * cpus)), "%")
        report.put("host.psi_some_pct",
          math.max(0.0, 100.0 * (meterEnd.psiSome - meterStart.psiSome) / wall), "%")
        report.put("host.load1_max", host.load1Max, "load")
        report.put("jvm.heap_used_peak_mb", host.heapPeakMb, "MB")
      }
      Files.createDirectories(Paths.get(cfg.work))
      Files.writeString(Paths.get(cfg.path("result.json")), report.json)
      try spark.stop() catch { case _: Throwable => () }
    }
  }
}

/** Samples load average and heap use once a second while a run measures. */
final class HostSampler extends Thread("perfbench-host-sampler") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var load1Max = 0.0
  @volatile var heapPeakMb = 0.0

  private def sample(): Unit = {
    load1Max = math.max(load1Max, HostMeter.load1())
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    heapPeakMb = math.max(heapPeakMb, heap)
  }

  override def run(): Unit =
    while (running) {
      sample()
      try Thread.sleep(1000) catch { case _: InterruptedException => () }
    }

  def finish(): Unit = {
    running = false
    interrupt()
    join()
    sample()
  }
}
