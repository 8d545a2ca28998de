package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, slice, udf}

/** The timing harness ([[Bench.select]], [[Bench.time]]) and Verify's
  * fixture-pin table. */
class HarnessSpec extends SparkSpec {

  private val ivfKeys = Set("q44_ann_ivf", "q127_knn_ivf", "q128_cluster_profile",
    "q129_semantic_keep", "q137_ann_ivf_pq", "q139_cell_balanced_keep",
    "q141_ann_ivfadc_residual")
  private val pqKeys = Set("q135_ann_pq", "q136_pq_recall", "q137_ann_ivf_pq",
    "q141_ann_ivfadc_residual")
  private val linUcbKeys = Set("q30_linucb_seed", "q31_linucb_topk", "q41_policy_eval_linucb")

  /** `body` over a copy of the sf0.001 lake whose `table` is replaced
    * by `edit` of it; the other tables are links to the fixture's files. */
  private def withLake[T](table: String)(edit: DataFrame => DataFrame)(body: String => T): T = {
    val dir = Files.createTempDirectory("graft-pins")
    try {
      Tables.names.filter(_ != table).foreach { t =>
        Files.createSymbolicLink(dir.resolve(s"$t.parquet"), Paths.get(sf(), s"$t.parquet"))
      }
      edit(Tables.read(spark, sf(), table)).write.parquet(dir.resolve(s"$table.parquet").toString)
      body(dir.toString)
    } finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  test("Bench.time computes every output column, which count() prunes") {
    val evaluated = spark.sparkContext.longAccumulator("spec_evaluated")
    val touch = udf((x: Long) => { evaluated.add(1); x })
    val df = spark.range(0, 100, 1, 4).select(touch(col("id")).as("v"))
    assert(df.count() == 100 && evaluated.sum == 0)
    assert(Bench.time(df) > 0)
    assert(evaluated.sum == 100, "the timed action skipped an output column")
  }

  test("Bench.select keeps the known names and throws on an unknown one") {
    assert(Bench.select(Seq("q84_approx_distinct,q01_pricing_summary")).map(_._1) ==
      Seq("q84_approx_distinct", "q01_pricing_summary"))
    assert(Bench.select(Nil).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    val e = intercept[IllegalArgumentException](
      Bench.select(Seq("q01_pricing_summary", "q01_pricing_sumary")))
    assert(e.getMessage.contains("q01_pricing_sumary"))
  }

  test("a targeted bench builds exactly the layers its queries record") {
    val named = Seq("q131_bpe_learn", "q142_embedding_decontam")
    val derived = Bench.warmQueries(spark.newSession(), sf(), Seq(named.mkString(",")))
    val fresh = spark.newSession()
    val (_, builds) = Layers.recording(named.foreach(q => SparkEntry.queries(q)(fresh, sf())))
    val recorded = builds.map(_.name).distinct.sorted
    assert(derived == recorded)
    assert(derived == Seq("bpe_merges", "embedding_decontam"))
    assert(Bench.warmQueries(spark.newSession(), sf(), Nil) ==
      SparkEntry.layers.keys.toSeq.sorted)
  }

  test("no fixture pin is violated on the sf0.001 lake") {
    assert(Verify.droppedOracles(spark, sf(), SparkEntry.oracleSql.keySet).isEmpty)
  }

  test("8-dimensional embeddings drop exactly the IVF and PQ oracles") {
    withLake("embeddings")(_.withColumn("embedding", slice(col("embedding"), 1, 8))) { lake =>
      assert(Verify.droppedOracles(spark, lake, SparkEntry.oracleSql.keySet) == ivfKeys ++ pqKeys)
      // a targeted dump drops only its own pinned keys
      assert(Verify.droppedOracles(spark, lake, Set("q135_ann_pq", "q01_pricing_summary")) ==
        Set("q135_ann_pq"))
    }
  }

  test("a 3-dp l_extendedprice drops exactly the LinUCB oracles") {
    withLake("lineitem")(_.withColumn("l_extendedprice", col("l_extendedprice") + lit(0.001))) { lake =>
      assert(Verify.droppedOracles(spark, lake, SparkEntry.oracleSql.keySet) == linUcbKeys)
    }
  }
}
