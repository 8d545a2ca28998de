package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
/** The one timing harness: query selection ([[select]], which Verify
  * and the tools share), the untimed warmup and the timed action
  * ([[warm]], [[time]]), and the bench main. Re-measure a few queries
  * at any lake (a [[graft.tools.ScaleLake]] replica too) with
  * `SPARK_GRAFT_SF_DIR=<lake> SPARK_GRAFT_ONLY=q1,q2 runMain
  * graft.Bench`: the layer phase builds and times every layer first,
  * so the query times are warm. */
object Bench {
  /** The named queries with their builders, in the given order (a name
    * may be a comma-separated list); every query, sorted by name, when
    * none is named. Throws on a name [[SparkEntry.queries]] lacks. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val want = names.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val unknown = want.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (want.isEmpty) all.toSeq.sortBy(_._1) else want.distinct.map(n => n -> all(n))
  }

  /** Seconds to build `df` and write its full output to the noop sink.
    * Every output column is computed: a `count()` lets Catalyst prune
    * whole aggregates and projections out of the timed plan. */
  def time(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed full scan of every table of the lake at `dir`, so JVM and
    * codegen spin-up, parquet footers and the OS page cache are not
    * charged to the first timed query. A lake may lack optional tables;
    * those are skipped. */
  def warm(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      try time(Tables.read(spark, dir, n)): Unit
      catch { case NonFatal(_) => () }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Comma-separated query names for a targeted re-measure; unset =
    // the full catalog. Checked before any work: a misspelled name fails.
    val selected = select(sys.env.get("SPARK_GRAFT_ONLY").toSeq).sortBy(_._1)
    // Provenance mark BEFORE any work: host contention has repeatedly
    // dilated identical binaries 3-4× (rounds 2/9/12/14 all needed
    // out-of-band adjudication); the steal-time delta recorded by
    // HostMeter settles those disputes inside the artifact itself.
    val meterStart = HostMeter.mark()
    // GraftSession carries the shared configs (nanosAsLong for the
    // events reader, UTC session timezone, AQE) so Bench times the same
    // query semantics Verify checks.
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warm(spark, sfDir)
    // One untimed query too, for the query path's own spin-up. It runs
    // in a session of its own, so any layer it builds is built again,
    // and timed, in the layer phase.
    try time(SparkEntry.queries.head._2(spark.newSession(), sfDir)): Unit
    catch { case NonFatal(_) => () }
    // Materialized-layer builds, timed SEPARATELY from queries: the IVF
    // fit, dedup cluster labels, decoded CDC log, and model seeds are
    // session-level builds every consumer shares. Charging them to
    // whichever consumer runs first alphabetically made per-query
    // numbers order-dependent (r9: q117 carried the k-means fit, q44
    // "improved" 4x by riding its cache). Layer failures surface in the
    // errors list like query failures.
    val (layerTimes, layerFailed) = layerPhase(spark, sfDir)
    var failed = layerFailed.map(n => s"layer:$n").toList
    val results = selected.flatMap { case (name, fn) =>
      try {
        val dt = time(fn(spark, sfDir))
        System.err.println(f"[bench] $name%-28s $dt%8.2f s")
        Some(name -> dt)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        failed ::= name
        None
      }
    }
    // Failed queries appear ONLY in the errors list: their time-to-failure
    // is not a query duration, and including it (positive or negative)
    // would make totals incomparable across runs with different failure
    // sets and confuse consumers of the queries map.
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ls = layerTimes.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // "value" stays query-only so totals remain comparable with prior
    // rounds' semantics; layer cost is its own headline field.
    val total = results.map(_._2).sum
    val layerTotal = layerTimes.map(_._2).sum
    // steal_sec/steal_pct/contended + load1 bounds — the machine-
    // checkable provenance block every timing artifact now carries
    val provJson = HostMeter.provenanceJson(meterStart, HostMeter.mark())
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","layers_sec":$layerTotal,""" +
        s"""$provJson,"queries":$qs,"layers":$ls,"errors":$errs,"sf":"$sfDir"}"""
    // The FULL artifact (full query names, full precision, layer map)
    // goes to a stable file — a consumer that only captures a
    // truncated log tail would otherwise lose the early queries'
    // timings (rounds 5 and 11 recorded "parsed": null).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val wrote =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $out: ${e.getMessage}")
        false
      }
    // Stdout gets a COMPACT twin of the same measurements, sized to
    // survive a 2000-char tail capture whole. At 166 queries even the
    // qNN-keyed 3dp map overflowed that window (r13's driver artifact
    // recorded "parsed": null with the line's head cut off, and sbt's
    // trailing "[success] ..." line eats ~75 more chars of the tail),
    // so the per-query map is now BUDGETED: queries inline slowest-
    // first until the whole line would exceed LineBudget, the rest
    // collapse into other_sec/other_n. The unabridged map lives in the
    // "full" companion file either way; the inline total is always the
    // complete total.
    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def r2(v: Double): String = BigDecimal(v)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val LineBudget = 1750
    val shortNames = results.map(_._1.takeWhile(_ != '_'))
    val collide = shortNames.diff(shortNames.distinct).toSet
    val fullRef = if (wrote) s""","full":"$out"""" else ""
    def envelope(qsShort: String, omitted: Seq[Double]): String = {
      val other = if (omitted.isEmpty) ""
        else s""","other_sec":${r2(omitted.sum)},"other_n":${omitted.size}"""
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","layers_sec":${r3(layerTotal)},""" +
        s"""$provJson,"queries":$qsShort$other,"errors":$errs,"sf":"$sfDir"$fullRef}"""
    }
    val bySlowest = results.sortBy { case (k, v) => (-v, k) }
    val entries = bySlowest.map { case (k, v) =>
      val sk = k.takeWhile(_ != '_')
      ("\"" + (if (collide(sk)) k else sk) + "\":" + r2(v), v)
    }
    // greedy packing against the EXACT rendered envelope at each step
    // (the other_sec/other_n tail shrinks as entries move inline, so a
    // fixed reservation left budget on the table for large query sets)
    def lineFor(n: Int): String =
      envelope(entries.take(n).map(_._1).mkString("{", ",", "}"),
        bySlowest.drop(n).map(_._2))
    val nKeep = (entries.size to 0 by -1)
      .find(n => lineFor(n).length <= LineBudget).getOrElse(0)
    println(lineFor(nKeep))
    spark.stop()
  }

  /** The layer phase: builds the `names` entries of
    * [[SparkEntry.layers]] in order and returns each built layer's OWN
    * seconds, sorted by name, with the names that failed. A store build
    * under another listed name, nested inside an entry's call, is
    * charged to that name ([[Layers.recording]]); the entry keeps the
    * rest of its call's wall time. So every layer reports its own cost
    * in any build order (`near_pairs` built under `dedup_clusters`, or
    * alone), and the values sum to the phase's wall time. */
  def layerPhase(spark: SparkSession, sfDir: String,
                 names: Seq[String] = SparkEntry.layers.keys.toSeq.sorted)
      : (Seq[(String, Double)], Seq[String]) = {
    val listed = names.toSet
    val own = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val phase0 = System.nanoTime()
    val failed = names.filterNot { name =>
      val t0 = System.nanoTime()
      val (built, builds) = Layers.recording(SparkEntry.layers(name)(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      val others = builds.filter(b => b.name != name && listed(b.name))
      others.foreach(b => own(b.name) += b.ownS)
      built.failed.foreach(e => System.err.println(s"[bench] layer $name FAILED: ${e.getMessage}"))
      if (built.isSuccess) own(name) += wall - others.map(_.ownS).sum
      built.isSuccess
    }
    val phase = (System.nanoTime() - phase0) / 1e9
    val times = own.toSeq.sortBy(_._1)
    times.foreach { case (n, dt) => System.err.println(f"[bench] layer $n%-28s $dt%8.2f s") }
    System.err.println(f"[bench] layer phase $phase%.2f s wall, ${times.map(_._2).sum}%.2f s summed")
    (times, failed)
  }
}
