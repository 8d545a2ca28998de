package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** One catalog pass: per-layer and per-query wall times (s), each
  * query's [start, end] in epoch ms, and the pass's [[Lap]]. */
final case class Pass(layers: Map[String, Double], queries: Map[String, Double],
                      intervals: Map[String, (Double, Double)], lap: Lap)

/** The batch catalog: cold builds of a set of `SparkEntry.layers`, then a
  * set of `SparkEntry.queries` in an order set by the seed, each writing
  * its full output to the `noop` sink. One pass runs in a fresh session
  * (`newSession`), so every layer the pass reads is rebuilt cold. Outputs
  * are checked afterwards against `SparkEntry.oracleSql` (by the runner,
  * in DuckDB).
  *
  * The catalog file lists `layer <name>` and `query <name> <module>`
  * lines (`#` starts a comment); the module is the operator module the
  * query's entry calls. */
final class Catalog(cfg: Config) extends Workload {
  private val lines = scala.io.Source.fromFile(cfg.catalog).getLines()
    .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).map(_.split("\\s+").toSeq).toSeq
  private val layerNames = lines.collect { case Seq("layer", n) => n }.sorted
  private val family = lines.collect { case Seq("query", n, m) => n -> m }.toMap
  private val queryNames = new scala.util.Random(cfg.seed).shuffle(family.keys.toSeq.sorted)
  /** The ROADMAP's named hot spots, reported one by one when in the set. */
  private val hotSpots = Seq("q01", "q23", "q41", "q83", "q84", "q115")
    .flatMap(p => family.keys.filter(_.startsWith(p + "_"))).sorted
  val setupReps = 9
  /** Nominal wall time of a pass on a 4-core VM. */
  private val PassSeconds = 4.0
  private val scanTimes = mutable.ArrayBuffer.empty[Double]
  private val written = mutable.ArrayBuffer.empty[(String, String)]

  /** Full scan of every input table, the tables side by side. */
  def prepare(spark: SparkSession): Unit = {
    val (_, dt) = Stats.timed {
      Tables.names.par.foreach(n =>
        Tables.read(spark, cfg.lake, n).write.format("noop").mode("overwrite").save())
    }
    scanTimes += dt
  }

  /** One timed operation: a layer build or a query, under its own job
    * group (and span, when traced). Returns its wall time and its
    * [start, end] in epoch ms, or None when it threw. */
  private def op(spark: SparkSession, group: String, trace: Option[Trace], report: Report)(
      body: => Unit): Option[(Double, Double, Double)] = {
    report.attempted += 1
    val startMs = System.currentTimeMillis().toDouble
    try {
      val (_, dt) = Stats.timed(Trace.inGroup(spark, group) {
        trace match {
          case Some(t) => t.span(group, group.split(':').last, group.split(':').head)(body)
          case None => body
        }
      })
      Some((dt, startMs, System.currentTimeMillis().toDouble))
    } catch {
      case e: Throwable =>
        report.fail(s"$group: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        None
    }
  }

  /** One pass in a fresh session. The warm-up pass (`outputs` set) writes
    * every query's full output as parquet for the oracle check; timed
    * passes write it to the `noop` sink. */
  private def pass(spark0: SparkSession, id: String, trace: Option[Trace], report: Report,
                   outputs: Option[String] = None): Pass = {
    val s = spark0.newSession()
    trace.foreach(_.watch(s))
    val intervals = mutable.Map.empty[String, (Double, Double)]
    val (res, lap) = Stats.lap {
      val ls = layerNames.flatMap { n =>
        op(s, s"$id:layer:$n", trace, report)(SparkEntry.layers(n)(s, cfg.lake)).map(n -> _._1)
      }.toMap
      val qs = queryNames.flatMap { n =>
        op(s, s"$id:query:$n", trace, report) {
          val df = SparkEntry.queries(n)(s, cfg.lake)
          outputs match {
            case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }.map { case (dt, a, b) => intervals(n) = (a, b); n -> dt }
      }.toMap
      (ls, qs)
    }
    Pass(res._1, res._2, intervals.toMap, lap)
  }

  def measure(spark: SparkSession, seconds: Double, trace: Option[Trace],
              report: Report): (Map[String, (Double, String)], Double) = {
    val tag = if (trace.isDefined) "t" else "u"
    // warm-up pass (JIT, codegen caches), once per run: writes the
    // checked outputs, untimed
    if (written.isEmpty) {
      val warm = pass(spark, "warm", None, report, Some(cfg.path("outputs")))
      written ++= warm.queries.keys.map(n => n -> cfg.path(s"outputs/$n"))
    }
    val passes = mutable.ArrayBuffer.empty[Pass]
    // as many passes as `seconds` holds at the nominal pass time, at
    // least three, however fast they run (passes speed up as the JIT
    // compiles, and a faster run must not be measured later in that curve)
    while (passes.size < math.max(3, (seconds / PassSeconds).round.toInt))
      passes += pass(spark, s"${tag}${passes.size}", trace, report)
    val perQuery = passes.flatMap(_.queries.values).map(_ * 1000)
    val e2e = Map(
      "throughput_per_cpu_s" -> (queryNames.size / Stats.median(passes.map(_.lap.cpu)), "1/s"),
      "throughput_per_s" -> (queryNames.size / Stats.median(passes.map(_.lap.unstolen)), "1/s"),
      "result.latency_p50_ms" -> (Stats.median(perQuery), "ms"))
    trace.foreach(t => perLayer(spark, t, passes.toSeq, s"${tag}0", report))
    // median seconds per query and per layer, for the run's artifact
    def medians(f: Pass => Map[String, Double]) = passes.flatMap(f(_).keys).distinct.sorted
      .map(n => s"${Json.str(n)}:${Json.num(Stats.median(passes.flatMap(f(_).get(n))))}")
      .mkString("{", ",", "}")
    report.extra("query_s") = medians(_.queries)
    report.extra("layer_s") = medians(_.layers)
    report.extra(s"pass_laps_$tag") = Lap.json(passes.map(_.lap))
    (e2e, Stats.median(passes.map(_.lap.unstolen)))
  }

  private def perLayer(spark: SparkSession, t: Trace, passes: Seq[Pass], first: String,
                       report: Report): Unit = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    def med(f: Pass => Double): Double = Stats.median(passes.map(f))
    report.put("tables.scan_s", Stats.median(scanTimes), "s")
    report.put("layers.build_s", med(_.layers.values.sum), "s")
    layerNames.foreach(n => report.put(s"layer.${n}_s", med(_.layers.getOrElse(n, 0.0)), "s"))
    val ls = t.sum(_.startsWith(s"$first:layer:"))
    val qs = t.sum(_.startsWith(s"$first:query:"))
    report.put("layers.jobs", ls.jobs.toDouble, "count")
    report.put("layers.stages", ls.stages.toDouble, "count")
    report.put("layers.tasks", ls.tasks.toDouble, "count")
    report.put("queries.jobs", qs.jobs.toDouble, "count")
    report.put("queries.stages", qs.stages.toDouble, "count")
    report.put("queries.tasks", qs.tasks.toDouble, "count")
    report.put("queries.shuffle_bytes", qs.shuffleBytes.toDouble, "bytes")
    report.put("queries.spill_bytes", qs.spillBytes.toDouble, "bytes")
    report.put("queries.executor_cpu_s", qs.cpuNs / 1e9, "s")
    val all = t.sum(_.startsWith(s"$first:"))
    report.put("spark.jobs", all.jobs.toDouble, "count")
    report.put("spark.stages", all.stages.toDouble, "count")
    report.put("spark.tasks", all.tasks.toDouble, "count")
    // planning vs execution of the SQL executions that started inside a
    // query of the first traced pass
    val iv = passes.head.intervals.values.toSeq
    val inQueries = t.executions.toArray(Array.empty[Execution])
      .filter(e => iv.exists { case (a, b) => e.startMs >= a && e.startMs <= b })
    report.put("queries.planning_s", inQueries.map(_.planningMs).sum / 1000, "s")
    report.put("queries.execution_s", inQueries.map(_.executionMs).sum / 1000, "s")
    family.values.toSeq.distinct.sorted.foreach { m =>
      val qs = family.collect { case (q, mm) if mm == m => q }.toSeq
      report.put(s"family.${m}_s", med(p => qs.map(p.queries.getOrElse(_, 0.0)).sum), "s")
    }
    hotSpots.foreach { q =>
      report.put(s"query.${q.takeWhile(_ != '_')}_s", med(_.queries.getOrElse(q, 0.0)), "s")
      report.put(s"query.${q.takeWhile(_ != '_')}_stages",
        t.sum(_ == s"$first:query:$q").stages.toDouble, "count")
    }
  }

  /** Hands every written output and its oracle SQL to the runner, which
    * compares them in DuckDB. */
  def check(spark: SparkSession, report: Report): Unit = {
    val oracle = SparkEntry.oracleSql
    written.filterNot(w => oracle.contains(w._1)).foreach(w => report.fail(s"${w._1}: no oracle SQL"))
    report.extra("oracle") = written.filter(w => oracle.contains(w._1)).map { case (n, dir) =>
      s"""{"query":${Json.str(n)},"dir":${Json.str(dir)},"sql":${Json.str(oracle(n))}}"""
    }.mkString("[", ",", "]")
  }
}
