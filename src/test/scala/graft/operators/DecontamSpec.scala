package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q142's bounded entry point: [[Similarity.embeddingDecontamFrom]] with
  * an EXTERNAL eval frame (ids the corpus never saw), plus the
  * [[Similarity.DecontamMaxEvalVectors]] broadcast-ceiling refusal path.
  * The fixture adapter [[Similarity.embeddingDecontam]] (the `% 50`
  * derivation) stays covered by the q142 DuckDB hash oracle.
  */
class DecontamSpec extends SparkSpec {

  test("embeddingDecontamFrom flags exact copies from an external eval frame") {
    val e = graft.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding"))
    val corpus = e.filter(col("vec_id") % 50 =!= 0)
    // External holdout: exact copies of three corpus vectors under ids the
    // corpus has never seen (>= 1e6) — the shape a real benchmark ships in.
    val copiedIds = Seq(1L, 17L, 333L)
    val eval = e.filter(col("vec_id").isin(copiedIds: _*))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))

    val out = Similarity.embeddingDecontamFrom(corpus, eval, tau = 0.99)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap

    assert(out.size == corpus.count(), "one verdict row per corpus vector")
    copiedIds.foreach { id =>
      val (nearest, cos, contaminated) = out(id)
      assert(cos == 1.0, s"exact copy of $id must score cosine 1.0, got $cos")
      assert(contaminated, s"exact copy of $id must be flagged")
      assert(nearest == id + 1000000L,
        s"nearest eval id for $id must be its copy, got $nearest")
    }
    // Verdicts reference only eval-side ids — the frames stay distinct.
    assert(out.values.forall(_._1 >= 1000000L))
    // tau=0.99 keeps the gate tight: non-copies stay below it here.
    val flagged = out.filter(_._2._3).keySet
    assert(flagged == copiedIds.toSet,
      s"only the planted copies should reach tau=0.99, got $flagged")
  }

  test("eval side above DecontamMaxEvalVectors is refused up front") {
    import spark.implicits._
    val corpus = graft.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding"))
    val tooBig = spark.range(Similarity.DecontamMaxEvalVectors + 1)
      .select(col("id").as("vec_id"),
        array(lit(1.0f), lit(0.0f)).as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.embeddingDecontamFrom(corpus, tooBig)
    }
    assert(ex.getMessage.contains("DecontamMaxEvalVectors"))
  }

  test("fixture adapter still matches its own derived slices") {
    val e = graft.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding"))
    val viaAdapter = Similarity.embeddingDecontam(spark, sf())
      .orderBy("vec_id").collect().toSeq
    val viaEntry = Similarity.embeddingDecontamFrom(
      e.filter(col("vec_id") % 50 =!= 0),
      e.filter(col("vec_id") % 50 === 0))
      .orderBy("vec_id").collect().toSeq
    assert(viaAdapter == viaEntry)
  }
}
