package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The range-partitioned prefix-scan idiom (the q108 "ABC" plan) shared
  * by every global-order cumulative operator in the engine: instead of
  * a single-partition window over the whole frame, range-partition on
  * the output order, pin the layout with one `localCheckpoint` (range
  * sampling is nondeterministic across jobs — pinning makes the count
  * pass and the scan pass see identical partition ids), collect the
  * per-partition totals (nParts rows — CONFIG-bounded, never
  * data-sized), exclusive-prefix-sum them on the driver, broadcast the
  * offsets back, and let callers finish with a partition-LOCAL ordered
  * window. Global order at any scale with no SinglePartition exchange
  * anywhere.
  *
  * One shared implementation because the idiom had grown three
  * hand-rolled copies ([[Sharding.tokenBalancedShards]],
  * `TextOps.cntBefore`, `Analytics.revenueAbc`) that could drift
  * independently; the per-call differences are only the sort order,
  * the weight expression, and the accumulator type (exact long vs
  * exact BigDecimal).
  */
object PrefixScan {

  /** Both entry points inject `pid` and `off`; a caller whose frame
    * already carries either name would get an ambiguous reference (or a
    * silently wrong join), so the collision fails loudly here. */
  private def requireFreeNames(df: DataFrame): Unit = {
    val taken = df.columns.filter(c => c == "pid" || c == "off")
    require(taken.isEmpty,
      s"PrefixScan injects 'pid'/'off' columns; input already has " +
        s"${taken.mkString(", ")} — rename before the scan")
  }

  /** Range-partition `df` by `sort`, pin the layout, and attach each
    * partition's EXCLUSIVE prefix total of `weight` (a long expression;
    * rows missing from a partition contribute nothing). Returns the
    * pinned frame plus `pid` and `off` columns, broadcast-joined —
    * callers add `sum(...) over (partition by pid order by sort)` and
    * `off` to finish the global scan. */
  def withLongOffsets(df: DataFrame, sort: Seq[Column],
                      weight: Column): DataFrame = {
    requireFreeNames(df)
    val spark = df.sparkSession
    val nParts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val ranged = df.repartitionByRange(nParts, sort: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val perPart = ranged.groupBy(col("pid")).agg(sum(weight).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val scanned = perPart.scanLeft((-1, 0L)) {
      case ((_, acc), (p, s)) => (p, acc + s)
    }
    val offs = scanned.sliding(2)
      .collect { case Array((_, prev), (p, _)) => (p, prev) }.toSeq
    import spark.implicits._
    ranged.join(broadcast(offs.toDF("pid", "off")), "pid")
  }

  /** Decimal twin of [[withLongOffsets]] for exact money arithmetic:
    * the driver-side prefix sum runs in `java.math.BigDecimal` (no
    * float drift at any partition count) and `off` comes back as
    * DECIMAL(38, scale). Also returns the grand total, which cumulative-
    * share consumers need as the denominator. */
  def withDecimalOffsets(df: DataFrame, sort: Seq[Column], weight: Column,
                         scale: Int): (DataFrame, java.math.BigDecimal) = {
    requireFreeNames(df)
    val spark = df.sparkSession
    val nParts = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val ranged = df.repartitionByRange(nParts, sort: _*)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val perPart = ranged.groupBy(col("pid")).agg(sum(weight).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDecimal(1)).sortBy(_._1)
    val zero = java.math.BigDecimal.ZERO
    val scanned = perPart.scanLeft((-1, zero)) {
      case ((_, acc), (p, s)) => (p, acc.add(s))
    }
    val total = scanned.last._2
    val offs = scanned.sliding(2)
      .collect { case Array((_, prev), (p, _)) => (p, prev) }.toSeq
    import spark.implicits._
    val dec = DecimalType(38, scale)
    val offDf = offs.toDF("pid", "off")
      .select(col("pid"), col("off").cast(dec).as("off"))
    (ranged.join(broadcast(offDf), "pid"), total)
  }
}
