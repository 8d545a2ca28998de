package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.Tables
import graft.functions.ExactNum._

/** Bloom-filter join pruning — the scale move for a selective
  * dim-filter joining a huge fact: build a bloom over the FILTERED dim
  * keys (small), probe it on the fact side BEFORE the join shuffle, so
  * only might-match rows are ever exchanged. False positives are
  * eliminated by the exact join that follows, so the rewrite is
  * semantics-preserving by construction — the oracle is the plain join.
  *
  * This is the manual, deterministic form of Spark's own
  * `spark.sql.optimizer.runtime.bloomFilter` row-level runtime filter
  * (which injects the same BloomFilterAggregate/MightContain pair under
  * AQE when stats justify it). Building the sketch via
  * `df.stat.bloomFilter` keeps the bitmap bounded (numBits from
  * the dim key count and the fpp, independent of fact size); probing reuses
  * Catalyst's codegen'd [[BloomFilterMightContain]], so the probe stays
  * inside whole-stage codegen — no Scala UDF on the hot path.
  *
  * Reference corollary: the dashboards join full dims every refresh
  * (`product-demos/producer/api.py:102-107`); at 100 TB the equivalent
  * join wants exactly this pre-shuffle pruning.
  */
object BloomPrune {

  /** `fact` rows whose `factKey` might be in `dim`'s `dimKey` set.
    * Key columns must be integral (probed as long).
    *
    * The filter is sized from `dim.count()` — one cheap action over
    * the already-filtered dim side — at a 1% false-positive rate. A
    * fixed capacity would silently saturate at larger scale factors
    * (fpp degrades toward 1 and the pruning claim evaporates, even
    * though the exact join keeps the RESULT correct). */
  def prunedFact(fact: DataFrame, factKey: String,
                 dim: DataFrame, dimKey: String): DataFrame = {
    val bf = dim.stat.bloomFilter(dimKey, math.max(dim.count(), 1L), 0.01)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    val bytes = bos.toByteArray
    val mightContain: Column = GraftShims.column(BloomFilterMightContain(
      Literal(bytes, BinaryType),
      GraftShims.expression(col(factKey).cast("long"))))
    fact.filter(mightContain)
  }

  /** Monthly revenue from URGENT-priority orders: bloom on the filtered
    * order keys prunes ~4/5 of lineitem before the join shuffle. */
  def urgentRevenueByMonth(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val fact = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    prunedFact(fact, "l_orderkey", urgent, "o_orderkey")
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(
        round(moneySum4(revenue(col("l_extendedprice"), col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }
}
