package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Z-order (Morton) values for multi-dimensional data skipping — how a
  * 100 TB table gets pruned on BOTH `user` and `time` predicates at
  * once: interleave the bits of the two bucketed dimensions, so a
  * layout range-partitioned and sorted by the z-value puts each file
  * over a small rectangle of (user, hour) space and min/max file stats
  * (parquet footers, Delta/Iceberg manifests) can skip it for either
  * predicate. Same mechanism as Delta Lake's OPTIMIZE ZORDER BY;
  * expressed here as a pure column expression, so Catalyst codegens
  * the interleave.
  */
object ZOrder {

  /** Morton-interleave the low `bits` bits of two non-negative longs:
    * bit i of `x` lands at position 2i, bit i of `y` at 2i+1. Built by
    * folding shift/mask columns — stays inside whole-stage codegen, no
    * UDF. Kept as the declarative SPEC ORACLE for the native
    * [[graft.functions.ZOrderInterleave]] used on the query path. */
  def interleave(x: Column, y: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Per-event z-value over (user bucket, hour bucket), 8 bits each.
    * The bucketing is the practical move: z-order wants small dense
    * domains, so high-cardinality dims are bucketed first. */
  def eventZValues(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"),
        expr("user_id % 256").as("ub"),
        expr("(ts_us div 3600000000) % 256").as("hb"))
      .withColumn("z", graft.functions.zorder2(col("ub"), col("hb"), 8))
}
