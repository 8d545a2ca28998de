package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Native expressions must be bit-identical to their declarative
  * (interpreted higher-order-function) equivalents — that equivalence is
  * what lets the fast path replace the oracle-checkable slow path. */
class ExprParitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet(sf() + "/documents.parquet")
    .select($"doc_id", array_distinct(split($"text", " ")).as("shingles"))
    .cache()

  // The declarative twins below spell out the ENGINE-PORTABLE hash
  // contract (md5 prefixes + affine family over P = 2^31-1) in plain
  // Spark SQL — the exact arithmetic the DuckDB oracles for
  // q21/q22 re-express, so this parity is what makes those full hash
  // checks meaningful.
  private val base60 =
    "(CAST(conv(substr(md5(%s), 1, 15), 16, 10) AS BIGINT))"

  test("minhashSig == md5-affine declarative form (the q21 oracle contract)") {
    val n = 16
    val slotA = "(1L + CAST(conv(substr(md5(concat('a', CAST(i AS STRING))), 1, 7), 16, 10) AS BIGINT) % 2147483646L)"
    val slotB = "(CAST(conv(substr(md5(concat('b', CAST(i AS STRING))), 1, 7), 16, 10) AS BIGINT) % 2147483647L)"
    val both = docs.select(
      minhashSig($"shingles", n).as("fast"),
      expr(s"transform(sequence(0, ${n - 1}), i -> " +
        s"array_min(transform(shingles, s -> " +
        s"($slotA * (${base60.format("s")} % 2147483647L) + $slotB) % 2147483647L)))").as("slow"))
    assert(both.filter($"fast" =!= $"slow").count() == 0)
  }

  test("simhash60 == md5 declarative bitsum form (the q22 oracle contract)") {
    val both = docs.select(
      simhash60($"shingles").as("fast"),
      expr(
        "aggregate(sequence(0, 59), 0L, (s, b) -> s | shiftleft(" +
          s"CASE WHEN element_at(aggregate(transform(shingles, x -> ${base60.format("x")}), " +
          "array_repeat(0L, 60), (acc, h) -> zip_with(acc, sequence(0, 59), (a, bb) -> " +
          "a + CASE WHEN (shiftright(h, CAST(bb AS INT)) & 1) = 1 THEN 1 ELSE -1 END)), " +
          "CAST(b+1 AS INT)) > 0 THEN 1L ELSE 0L END, CAST(b AS INT)))").as("slow"))
    assert(both.filter($"fast" =!= $"slow").count() == 0)
  }

  test("dotF32 == aggregate(zip_with(...)) fold") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val both = e.as("a").crossJoin(e.as("b")).limit(500).select(
      dotF32(col("a.embedding"), col("b.embedding")).as("fast"),
      expr("aggregate(zip_with(a.embedding, b.embedding, " +
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)").as("slow"))
    assert(both.filter($"fast" =!= $"slow").count() == 0)
  }

  test("wordShingles == array_distinct(transform(slice(concat_ws)))") {
    val both = spark.read.parquet(sf() + "/documents.parquet")
      .select(wordShingles(col("text"), 3).as("fast"),
        expr("array_distinct(transform(sequence(0, size(split(text, ' '))-3), " +
          "i -> concat_ws(' ', slice(split(text, ' '), i+1, 3))))").as("slow"))
    assert(both.filter($"fast" =!= $"slow").count() == 0)
    // sub-n-token input → null, not empty array
    val tiny = Seq("a b").toDF("text")
      .select(wordShingles($"text", 3).as("s")).collect()(0)
    assert(tiny.isNullAt(0))
  }

  test("fnv1a64 matches known FNV-1a test vectors and codegen == eval") {
    // Public FNV-1a 64 vectors: fnv1a64("") = offset basis,
    // fnv1a64("a") = 0xaf63dc4c8601ec8c.
    val r = Seq("", "a", "hello world").toDF("s")
      .select(fnv1a64($"s").as("h")).as[Long].collect()
    assert(r(0) == -3750763034362895579L)
    assert(r(1) == 0xaf63dc4c8601ec8cL)
    assert(r(2) == Fnv1a64.hash("hello world".getBytes("UTF-8")))
    // two calls in ONE codegen stage: regression for fixed-name locals
    // colliding in the generated method
    val two = Seq(("a", "b")).toDF("x", "y")
      .select(fnv1a64($"x").as("hx"), fnv1a64($"y").as("hy"))
      .as[(Long, Long)].collect()(0)
    assert(two._1 == Fnv1a64.hash("a".getBytes) && two._2 == Fnv1a64.hash("b".getBytes))
  }

  test("minhashSig/simhash60 skip null elements instead of NPEing") {
    // ArrayType(StringType, containsNull=true) with actual nulls: the
    // sketch must equal the same input with nulls removed.
    val df = Seq(
      (1L, Seq[String]("a", null, "b")),
      (2L, Seq[String]("a", "b")),
      (3L, Seq[String](null, null)), // all-null → null signature
    ).toDF("id", "arr")
    val r = df.select($"id", minhashSig($"arr", 4).as("sig"),
        simhash60($"arr").as("sh"))
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2))).sortBy(_._1)
    assert(r(0)._2 == r(1)._2, "null element must not change minhash")
    assert(r(0)._3 == r(1)._3, "null element must not change simhash")
    assert(r(2)._2 == null, "all-null array → null minhash signature")
    assert(r(2)._3 == null, "all-null array → null simhash (not 0L: empty docs must not collide at hamming 0)")
  }

  test("srpSigPortable rejects numPlanes outside 1..64 and planeOffset < 0") {
    intercept[IllegalArgumentException] { PortableSrpSig(null, 65) }
    intercept[IllegalArgumentException] { PortableSrpSig(null, 0) }
    intercept[IllegalArgumentException] { PortableSrpSig(null, 8, -1) }
    intercept[IllegalArgumentException] { MinHashSig(null, 0) }
    // SQL path goes through the same constructor
    registerAll(spark)
    Seq(Seq(1.0f, 2.0f)).toDF("v").createOrReplaceTempView("srp_guard")
    val e = intercept[Exception] {
      spark.sql("SELECT srp_sig_portable(v, 128) FROM srp_guard").collect()
    }
    assert(e.getMessage.contains("numPlanes") || e.getMessage.contains("64"))
  }

  test("poly_hash64 matches a pure-Scala codepoint fold, including non-BMP text") {
    def ref(s: String): Long = {
      var h = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * 31 + cp) % 1000000007L
        i += Character.charCount(cp)
      }
      h
    }
    // ASCII, accents, CJK, and a surrogate-pair emoji (non-BMP: the
    // codepoint loop must advance by TWO UTF-16 units there)
    val samples = Seq("", "abc", "héllo wörld", "中文 文本 也 许", "mixed 中 text",
      "emoji 😀 inside")
    val got = samples.toDF("s").select(polyHash64($"s").as("h"))
      .as[Long].collect()
    samples.zip(got).foreach { case (s, h) =>
      assert(h == ref(s), s"'$s': engine $h vs reference ${ref(s)}")
    }
    // hash lands in [0, 1e9+7) for arbitrary input
    assert(got.forall(h => h >= 0 && h < 1000000007L))
  }

  test("registerAll exposes every custom expression to SQL") {
    registerAll(spark)
    spark.read.parquet(sf() + "/documents.parquet").limit(5)
      .createOrReplaceTempView("docs_sql")
    spark.read.parquet(sf() + "/embeddings.parquet").limit(5)
      .createOrReplaceTempView("emb_sql")
    val r1 = spark.sql(
      """SELECT fnv1a64(text) AS h, simhash60(word_shingles(text, 3)) AS sh,
        |  minhash_sig(word_shingles(text, 3), 8) AS sig,
        |  poly_hash64(text) AS pf
        |FROM docs_sql""".stripMargin).collect()
    assert(r1.length == 5 && r1.forall(r => r.getAs[Seq[Long]]("sig").length == 8))
    assert(r1.forall(r => r.getAs[Long]("pf") >= 0L && r.getAs[Long]("pf") < 1000000007L))
    val r2 = spark.sql(
      """SELECT dot_f32(embedding, embedding) AS d2, srp_sig_portable(embedding, 4) AS b
        |FROM emb_sql""".stripMargin).collect()
    assert(r2.length == 5 && r2.forall(_.getAs[Double]("d2") > 0.0))
    assert(r2.forall(r => r.getAs[Long]("b") >= 0L && r.getAs[Long]("b") < 16L))
  }

  test("srpSigPortable == declarative integer-weight plane-sign form, incl. SQL name") {
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val planes = 6
    // the documented portable weight: ((p*1024+i)*2654435761 mod 2000001 - 1e6)/1e6
    val slow = (0 until planes).map { p =>
      val proj = expr(
        "aggregate(zip_with(embedding, transform(sequence(0, size(embedding)-1), " +
          s"i -> (CAST(($p * 1024 + i) * 2654435761 % 2000001 AS DOUBLE) - 1000000.0) / 1000000.0), " +
          "(x, wgt) -> CAST(x AS DOUBLE) * wgt), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
      when(proj >= 0, lit(1L)).otherwise(lit(0L)) * lit(1L << p)
    }.reduce(_ + _)
    val both = e.select(srpSigPortable($"embedding", planes).as("fast"), slow.as("slow"))
    assert(both.filter($"fast" =!= $"slow").count() == 0)
    // SQL registration round-trip
    graft.functions.registerAll(spark)
    e.createOrReplaceTempView("srp_portable_e")
    val viaSql = spark.sql(
      s"SELECT srp_sig_portable(embedding, $planes) AS s FROM srp_portable_e")
    val viaApi = e.select(srpSigPortable($"embedding", planes).as("s"))
    assert(viaSql.exceptAll(viaApi).count() == 0 && viaApi.exceptAll(viaSql).count() == 0)
  }

  test("native policy scoring == the Scala helpers, bit-for-bit") {
    // The de-UDF'd q41 path is only safe because the native expressions
    // reproduce the helper arithmetic exactly (same loop order, same
    // splitmix64 stream). Compare over real seeded models + contexts.
    import graft.ml.{LinAlg, LinUCB}
    val fb = LinUCB.feedbackFromLineitem(spark, sf("0.01")).limit(2000)
    val seeded = LinUCB.seed(fb, LinUCB.Dim).collect()
    val models = seeded.toSeq
      .map(m => (m.productId, m.aInv, m.b,
        LinUCB.thetaOf(m), LinAlg.choleskyLower(m.aInv, m.d)))
      .toDF("productId", "aInv", "b", "theta", "lchol")
    val byId = seeded.map(m => m.productId -> m).toMap
    val scoreUdf = udf((pid: String, x: Seq[Double]) =>
      LinUCB.score(x.toArray, byId(pid), 0.1))
    val tsUdf = udf((pid: String, x: Seq[Double], seed: Long) =>
      LinUCB.scoreTSPre(x.toArray, LinUCB.thetaOf(byId(pid)),
        LinAlg.choleskyLower(byId(pid).aInv, byId(pid).d), byId(pid).d,
        nu = 0.05, seed = seed))
    val joined = fb.toDF().join(broadcast(models), "productId")
      .withColumn("seed", xxhash64($"productId", $"x"))
    val diff = joined.select(
        linucbScore($"x", $"aInv", $"b", 0.1).as("n_ucb"),
        scoreUdf($"productId", $"x").as("u_ucb"),
        linTsScore($"x", $"theta", $"lchol", $"seed", nu = 0.05).as("n_ts"),
        tsUdf($"productId", $"x", $"seed").as("u_ts"))
      .filter($"n_ucb" =!= $"u_ucb" || $"n_ts" =!= $"u_ts")
    assert(diff.count() == 0, "native scores diverge from the Scala helpers")
    val draws = spark.range(1000).select(
        seededUniform(xxhash64($"id")).as("nu"),
        seededNormal(xxhash64($"id")).as("nn"),
        xxhash64($"id").as("seed")).collect()
    draws.foreach { r =>
      assert(r.getAs[Double]("nu") == PolicyMath.seededUniform(r.getAs[Long]("seed")))
      assert(r.getAs[Double]("nn") == PolicyMath.seededNormal(r.getAs[Long]("seed")))
    }
  }
}
