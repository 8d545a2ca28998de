package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
/** The one timing harness: query selection ([[select]], which Verify
  * and the tools share), the untimed warmup and the timed action
  * ([[warm]], [[time]]), and the bench main. Re-measure a few queries
  * at any lake (a [[graft.tools.ScaleLake]] replica too) with
  * `SPARK_GRAFT_SF_DIR=<lake> SPARK_GRAFT_ONLY=q1,q2 runMain
  * graft.Bench`: the layer phase first builds and times the layers
  * those queries read ([[warmQueries]]), so the query times are warm. */
object Bench {
  /** The named queries with their builders, in the given order (a name
    * may be a comma-separated list); every query, sorted by name, when
    * none is named. Throws on a name [[SparkEntry.queries]] lacks. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val want = wanted(names)
    val unknown = want.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (want.isEmpty) all.toSeq.sortBy(_._1) else want.distinct.map(n => n -> all(n))
  }

  private def wanted(names: Seq[String]): Seq[String] =
    names.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

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
    val only = sys.env.get("SPARK_GRAFT_ONLY").toSeq
    val selected = select(only).sortBy(_._1)
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
    val layerNames = warmQueries(spark.newSession(), sfDir, only)
    // Materialized-layer builds, timed SEPARATELY from queries: the IVF
    // fit, dedup cluster labels, decoded CDC log, and model seeds are
    // session-level builds every consumer shares. Charging them to
    // whichever consumer runs first alphabetically made per-query
    // numbers order-dependent (r9: q117 carried the k-means fit, q44
    // "improved" 4x by riding its cache). Layer failures surface in the
    // errors list like query failures.
    val (layerBuilds, layerFailed) = layerPhase(spark, sfDir, layerNames)
    var failed = layerFailed.map(n => s"layer:$n").toList
    // Janino compiles per timed query: 0 once the warmup compiled its code
    val queryCompiles = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val results = selected.flatMap { case (name, fn) =>
      try {
        val c0 = Layers.compiles()
        val dt = time(fn(spark, sfDir))
        val compiled = Layers.compiles() - c0
        System.err.println(f"[bench] $name%-28s $dt%8.2f s $compiled%4d compiles")
        queryCompiles += name -> compiled
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
    def obj(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = obj(results)
    val ls = obj(layerBuilds.map(b => b.name -> b.ownS))
    val errs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // "value" stays query-only so totals remain comparable with prior
    // rounds' semantics; layer cost is its own headline field.
    val total = results.map(_._2).sum
    val layerTotal = layerBuilds.map(_.ownS).sum
    // steal_sec/steal_pct/contended + load1 bounds — the machine-
    // checkable provenance block every timing artifact now carries
    val provJson = HostMeter.provenanceJson(meterStart, HostMeter.mark())
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","layers_sec":$layerTotal,""" +
        s"""$provJson,"queries":$qs,"layers":$ls,""" +
        s""""query_compiles":${obj(queryCompiles.toSeq)},""" +
        s""""layer_compiles":${obj(layerBuilds.map(b => b.name -> b.compiles))},""" +
        s""""errors":$errs,"sf":"$sfDir"}"""
    // The FULL artifact (full query names, full precision, layer map,
    // compile counts) goes to a stable file — a consumer that only captures a
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

  /** The untimed query warmup, for the query path's own spin-up, and
    * the layers the layer phase builds. It runs the named queries (a
    * name may be a comma-separated list) once each in `scratch`, a
    * throwaway session, so any layer they build is built again, and
    * timed, in the layer phase; and returns, sorted, the store names
    * their builders recorded ([[Layers.recording]]). Every store name is
    * a [[SparkEntry.layers]] key, so a name that is not fails in the
    * layer phase and lands in the bench's errors. With no query named
    * it runs the first query only and returns every layer. The classes
    * it compiles serve the timed queries on the main session too: every
    * session shares one executor class loader, so one codegen cache
    * ([[GraftSession.builder]]; `GraftSessionSpec` pins it). */
  def warmQueries(scratch: SparkSession, sfDir: String, names: Seq[String]): Seq[String] = {
    val all = wanted(names).isEmpty
    val run = if (all) Seq(SparkEntry.queries.head) else select(names)
    val (_, builds) = Layers.recording(run.foreach { case (_, fn) =>
      try time(fn(scratch, sfDir)): Unit
      catch { case NonFatal(_) => () }
    })
    if (all) SparkEntry.layers.keys.toSeq.sorted
    else builds.map(_.name).distinct.sorted
  }

  /** The layer phase: builds the `names` entries of
    * [[SparkEntry.layers]] in order and returns each built layer's OWN
    * seconds and compiles, sorted by name, with the names that failed. A
    * store build under another listed name, nested inside an entry's
    * call, is charged to that name ([[Layers.recording]]); the entry
    * keeps the rest of its call's wall time and compiles. So every layer
    * reports its own cost in any build order (`near_pairs` built under
    * `dedup_clusters`, or alone), and the values sum to the phase's. */
  def layerPhase(spark: SparkSession, sfDir: String,
                 names: Seq[String] = SparkEntry.layers.keys.toSeq.sorted)
      : (Seq[Layers.Build], Seq[String]) = {
    val listed = names.toSet
    val own = scala.collection.mutable.Map.empty[String, Layers.Build]
    def charge(name: String, s: Double, compiles: Long): Unit = {
      val b = own.getOrElse(name, Layers.Build(name, 0.0, 0L))
      own(name) = Layers.Build(name, b.ownS + s, b.compiles + compiles)
    }
    val phase0 = System.nanoTime()
    val failed = names.filterNot { name =>
      val t0 = System.nanoTime()
      val c0 = Layers.compiles()
      val (built, builds) = Layers.recording(SparkEntry.layers(name)(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      val compiled = Layers.compiles() - c0
      val others = builds.filter(b => b.name != name && listed(b.name))
      others.foreach(b => charge(b.name, b.ownS, b.compiles))
      built.failed.foreach(e => System.err.println(s"[bench] layer $name FAILED: ${e.getMessage}"))
      if (built.isSuccess)
        charge(name, wall - others.map(_.ownS).sum, compiled - others.map(_.compiles).sum)
      built.isSuccess
    }
    val phase = (System.nanoTime() - phase0) / 1e9
    val times = own.values.toSeq.sortBy(_.name)
    times.foreach(b =>
      System.err.println(f"[bench] layer ${b.name}%-28s ${b.ownS}%8.2f s ${b.compiles}%4d compiles"))
    System.err.println(f"[bench] layer phase $phase%.2f s wall, ${times.map(_.ownS).sum}%.2f s summed" +
      names.mkString(" (", ", ", ")"))
    (times, failed)
  }
}
