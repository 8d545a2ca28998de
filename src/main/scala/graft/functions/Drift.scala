package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** PSI drift-monitor arithmetic — ONE definition of the bin
  * assignment, the per-bin PSI term, and the alert threshold of the
  * drift monitor ([[graft.operators.Analytics.valueDrift]], q113),
  * which its oracle replays.
  */
object Drift {

  /** Fixed-width bins per distribution. */
  val Bins = 10

  /** Share clamp — a bin with zero observed mass contributes ε, never
    * a log-of-zero. */
  val Eps = 1e-6

  /** PSI above this reads as drift. The conventional industry bands
    * are <0.1 stable / 0.1–0.25 moderate / >0.25 major; the monitor
    * alerts at the conservative end of that scale. */
  val Threshold = 0.1

  /** Fixed-width bin over [lo, hi], clamped at BOTH ends: values above
    * `hi` land in the top bin and values below `lo` land in bin 0.
    * The lower clamp matters only when the edges come from a DIFFERENT
    * population than the values; q113 bins each type over its own
    * [min, max], where it is a no-op. Denominator clamped so a
    * constant column maps to bin 0 rather than dividing by zero (the
    * int8-quantize discipline). */
  def binOf(value: Column, lo: Column, hi: Column): Column =
    greatest(
      least(floor((value - lo) * Bins / greatest(hi - lo, lit(1e-12))),
        lit(Bins - 1)),
      lit(0)).cast("int")

  /** One PSI term `(pa − pb)·ln(pa/pb)`, rounded to 9dp DECIMAL before
    * summation so the fold is order-independent (engine-portable fp
    * discipline — the sum hashes identically across Spark and the
    * DuckDB oracle regardless of aggregation order). */
  def psiTerm(pa: Column, pb: Column): Column =
    round((pa - pb) * log(pa / pb), 9).cast(DecimalType(18, 9))
}
