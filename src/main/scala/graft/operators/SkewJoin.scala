package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigated equi-join via key salting.
  *
  * AQE's skew-join handles most cases at runtime
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default here); salting
  * is the explicit fallback when one key dominates so heavily that even
  * split shuffle blocks hot-spot a single executor — the classic 100 TB
  * failure mode. Mechanics: the skewed (large) side gets a random salt
  * in [0, S); the build side is replicated S× with every salt value;
  * the join key becomes (key, salt). Row multiplicity is unchanged —
  * each large-side row matches exactly the one replica carrying its
  * salt — so the result set is identical to the unsalted join
  * (spec-asserted).
  */
object SkewJoin {

  /** Inner equi-join `large ⋈ small` on `key`, salted S ways. `small`
    * is replicated S× (it must be the manageable side — typically the
    * dimension that a plain broadcast can't hold but a skewed shuffle
    * mishandles). */
  def salted(large: DataFrame, small: DataFrame, key: String,
             salts: Int): DataFrame = {
    val saltedLarge = large.withColumn("__salt",
      (rand(seed = 42) * salts).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLarge.join(saltedSmall,
        saltedLarge(key) === saltedSmall(key) &&
          saltedLarge("__salt") === saltedSmall("__salt"))
      .drop(saltedSmall(key))
      .drop("__salt")
  }

  /** The salted join as a full query: fact (lineitem) salted against
    * the supplier dimension, aggregated to per-supplier revenue. The
    * salt is internal plumbing — the result is bit-identical to the
    * plain join (that IS the oracle), which is the property that lets
    * this rewrite be dropped onto any hot-key join without touching
    * downstream logic. 8 salts. */
  def saltedSupplierRevenue(spark: org.apache.spark.sql.SparkSession,
                            sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val fact = graft.Tables.lineitem(spark, sfDir).select(
      col("l_suppkey").as("suppkey"),
      (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 4)).as("rev"))
    val dim = graft.Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("suppkey"), col("s_name"))
    salted(fact, dim, "suppkey", 8)
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("rev")).cast("double"), 2).as("revenue"))
  }
}
