package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Drift

/** CONTINUOUS drift monitoring — [[graft.operators.Analytics.valueDrift]]
  * as a streaming pipeline: a reference distribution is fitted once
  * from a batch snapshot (per-type bin edges + shares, broadcastable),
  * the live stream runs ONE standard watermarked windowed aggregation
  * producing per-(window, type, bin) counts, and the PSI fold runs in
  * the monitor sink per micro-batch (`foreachBatch` side) against the
  * broadcast reference — the production monitoring architecture:
  * heavy counting distributed and incremental, the tiny
  * windows×types×bins fold at the sink.
  *
  * All drift arithmetic (bin assignment, ε clamp, 9dp-decimal PSI
  * terms, the 0.1 alert threshold) is shared with the batch monitor
  * via [[graft.functions.Drift]] — the two monitors cannot diverge on
  * a constant. Live data the reference never saw stays visible: values
  * below the fitted range clamp into bin 0 (down-shift reads as
  * drift), and event types absent from the reference flow through as
  * `bin = -1` and surface as `drifted = true` rows with a null PSI (a
  * structurally new type IS drift, not something to drop). Spec: the
  * sink-side PSI over a replayed MemoryStream equals the batch fold on
  * the same rows; down-shift and unknown-type paths covered.
  */
object DriftStream {

  /** Reference distribution from a batch snapshot: per event type, the
    * value range (bin edges) and each bin's share. Types×bins rows —
    * broadcastable at any corpus scale. */
  def referenceShares(spark: SparkSession, sfDir: String): DataFrame =
    referenceShares(Tables.events(spark, sfDir).select(col("event_type"), col("value")))

  /** [[referenceShares]] over any `(event_type, value)` snapshot frame.
    * Emits ALL [[Drift.Bins]] bins per type — bins the snapshot never hit carry
    * ε mass. Without the fill, live data landing in an unseen bin would
    * silently drop out of the monitor's denominator.
    *
    * The result is a LOCAL frame: the distributed part of the fit is
    * two jobs (min/max, then the per-(type, bin) counting agg — lo/hi
    * ride along so the rng subtree runs once), and the types×bins fill
    * + ε clamp run on the collected counts. A streaming monitor
    * re-evaluates its static join side every micro-batch, so the
    * reference must be a literal — not a plan that re-runs the
    * snapshot scan per batch, and not an executor-pinned checkpoint
    * block that dies with a decommissioned executor. */
  def referenceShares(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val rng = ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val counts = ev.join(broadcast(rng), "event_type")
      .withColumn("bin", Drift.binOf(col("value"), col("lo"), col("hi")))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"), max(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .collect()
    val rows = counts.groupBy(_.getAs[String]("event_type")).toSeq
      .sortBy(_._1).flatMap { case (et, rs) =>
        val total = rs.map(_.getAs[Long]("n")).sum.toDouble
        val byBin = rs.map(r => r.getAs[Int]("bin") -> r.getAs[Long]("n")).toMap
        val lo = rs.head.getAs[Double]("lo")
        val hi = rs.head.getAs[Double]("hi")
        (0 until Drift.Bins).map { b =>
          (et, lo, hi, b, math.max(byBin.getOrElse(b, 0L) / total, Drift.Eps))
        }
      }
    rows.toDF("event_type", "lo", "hi", "bin", "p_ref")
  }

  /** The shared bin assignment — delegates to [[Drift.binOf]] (clamped
    * at both ends; see there for why the lower clamp matters here). */
  def binOf(value: Column, lo: Column, hi: Column): Column =
    Drift.binOf(value, lo, hi)

  /** The STREAMING side: watermarked 1-hour tumbling-window bin counts
    * with a 10-minute watermark — a
    * single-level windowed aggregation (Append emits each closed
    * window once), left-joined map-side against the broadcast
    * reference edges. Event types the reference never saw keep their
    * rows with `bin = -1` (the stream-static LEFT join is what keeps
    * a brand-new type — itself a drift signal — from being silently
    * discarded). `events` needs (ts timestamp, event_type, value). */
  def windowedBinCounts(events: DataFrame, reference: DataFrame): DataFrame = {
    val edges = reference.select("event_type", "lo", "hi").distinct()
    events.withWatermark("ts", "10 minutes")
      .join(broadcast(edges), Seq("event_type"), "left")
      .withColumn("bin",
        when(col("lo").isNull, lit(-1))
          .otherwise(Drift.binOf(col("value"), col("lo"), col("hi"))))
      .groupBy(window(col("ts"), "1 hour").as("w"),
        col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("bin"), col("n"))
  }

  /** The monitor-sink fold (run per micro-batch over the CLOSED-window
    * counts, or over any batch of them): PSI of each (window, type)
    * against the reference shares. Input is windows×types×bins rows —
    * sink-sized, never stream-sized. Types the reference doesn't know
    * (`bin = -1` from [[windowedBinCounts]]) have no defined PSI and
    * emit `(psi = null, drifted = true)` — a new type is an alert. */
  def psiOfBinCounts(binCounts: DataFrame, reference: DataFrame): DataFrame = {
    val byWt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"), col("event_type"))
    val known = binCounts.filter(col("bin") >= 0)
    val unknown = binCounts.filter(col("bin") < 0)
      .groupBy(col("window_start"), col("event_type"))
      .agg(sum(col("n")).as("n_window"))
      .select(col("window_start"), col("event_type"),
        lit(null).cast("double").as("psi"), col("n_window"),
        lit(true).as("drifted"))
    // every known (window, type) carries ALL reference bins: a bin the
    // window never hit still contributes its reference mass (p_cur = ε)
    // — only joining observed bins would understate drift. The observed
    // side re-aliases every column (fresh attribute ids) because both
    // join inputs derive from the same binCounts plan.
    val full = known.select(col("window_start"), col("event_type")).distinct()
      .join(broadcast(reference.select("event_type", "bin", "p_ref")),
        Seq("event_type"))
    val obs = known.select(col("window_start").as("o_ws"),
      col("event_type").as("o_et"), col("bin").as("o_bin"), col("n"))
    full.join(obs,
        col("window_start") === col("o_ws") && col("event_type") === col("o_et") &&
          col("bin") === col("o_bin"), "left")
      .drop("o_ws", "o_et", "o_bin")
      .withColumn("p_cur",
        greatest(coalesce(col("n"), lit(0L)).cast("double") /
          sum(coalesce(col("n"), lit(0L))).over(byWt).cast("double"), lit(Drift.Eps)))
      .withColumn("term", Drift.psiTerm(col("p_cur"), col("p_ref")))
      .groupBy(col("window_start"), col("event_type"))
      .agg(round(sum(col("term")).cast("double"), 6).as("psi"),
        sum(coalesce(col("n"), lit(0L))).as("n_window"))
      .withColumn("drifted", col("psi") > Drift.Threshold)
      .unionByName(unknown)
  }
}
