package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Specs for the corpus-scrub + event-analytics additions: PII
  * redaction on planted fixtures, funnel monotonicity, transition-row
  * normalization.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side cosine mirroring the engine's double-accumulated
    * sequential fold; `roundDp >= 0` applies the production 4dp HALF_UP
    * discipline, negative leaves it raw. One definition for every test
    * in this file so the rounding discipline cannot silently fork. */
  private def cosine(a: Array[Float], b: Array[Float], roundDp: Int = -1): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    val c = d / (math.sqrt(na) * math.sqrt(nb))
    if (roundDp < 0) c
    else BigDecimal(c).setScale(roundDp, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("redactedText masks planted emails and long digit runs") {
    val docs = Seq(
      "Contact Bob.Smith+spam@Example-Mail.org  today",
      "call 5551234567 or 42 times",
      "already   clean text").toDF("text")
    val out = docs.select(TextOps.redactedText($"text").as("c")).as[String].collect()
    assert(out(0) == "contact <EMAIL> today")
    assert(out(1) == "call <NUM> or 42 times") // 2-digit run survives
    assert(out(2) == "already clean text")     // whitespace collapsed
  }

  test("redactPii counts match the masks it applied") {
    val df = TextOps.redactPii(spark, sf("0.001"))
    val bad = df.filter(
      (col("n_emails") > 0 && !col("clean_text").contains("<EMAIL>")) ||
      (col("n_long_nums") > 0 && !col("clean_text").contains("<NUM>")))
    assert(bad.count() == 0)
    // normalization: no residual runs of whitespace anywhere
    assert(df.filter(col("clean_text").contains("  ")).count() == 0)
  }

  test("funnel stages are monotone non-increasing") {
    val rows = Analytics.funnel(spark, sf("0.001"))
      .orderBy("stage").select("n_users").as[Long].collect()
    assert(rows.length == 3)
    assert(rows(0) >= rows(1) && rows(1) >= rows(2))
    assert(rows(0) > 0)
  }

  test("bloom-pruned fact keeps every true match and actually prunes") {
    val fact = spark.range(50000).select($"id".as("k"), ($"id" % 97).as("v"))
    val dim = spark.range(1000).select(($"id" * 50).as("k")) // 2% selectivity
    val pruned = BloomPrune.prunedFact(fact, "k", dim, "k", 4096, 0.01)
    // no false negatives: pruned ⊇ true matches
    assert(pruned.join(dim, "k").count() == fact.join(dim, "k").count())
    // at fpp=1% the survivor set is within ~2x of the true match count
    val survivors = pruned.count()
    assert(survivors >= 1000 && survivors < 3000, s"survivors=$survivors")
    // probe is a codegen'd catalyst predicate, not a Scala UDF
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(500))
    assert(!plan.contains("UDF"), "probe must not be a Scala UDF")
  }

  test("Misra-Gries candidates are a superset of true heavy hitters") {
    // skewed stream: items 0-9 take ~90% of mass, long uniform tail
    val ds = spark.range(100000).select(
      when($"id" % 10 < 9, concat(lit("hot"), $"id" % 10))
        .otherwise(concat(lit("cold"), $"id")).as("t")).as[String]
      .repartition(8)
    val k = 20
    val cand = HeavyHitters.candidates(ds, 4 * k).collect().toSet
    val n = ds.count()
    val trueHH = ds.groupBy("t").count()
      .filter($"count" * k > n).select("t").as[String].collect().toSet
    assert(trueHH.nonEmpty)
    assert(trueHH.subsetOf(cand),
      s"missing: ${trueHH -- cand}; candidates=${cand.size}")
  }

  test("Misra-Gries superset guarantee holds on seeded random skewed streams") {
    for (seed <- 1 to 6) {
      val r = new scala.util.Random(seed)
      val nItems = 3 + r.nextInt(40)
      val k = 4 + r.nextInt(24)
      // zipf-ish: item i gets weight ~ 1/(i+1)
      val stream = (0 until 20000).map { _ =>
        val u = r.nextDouble()
        val i = math.min(nItems - 1, (1.0 / (u + 0.02) - 1.0).toInt)
        s"it$i"
      }
      val ds = stream.toDS().repartition(1 + r.nextInt(8))
      val cand = HeavyHitters.candidates(ds, 4 * k).collect().toSet
      val trueHH = stream.groupBy(identity).view.mapValues(_.size)
        .filter(_._2 * k > stream.size).keys.toSet
      assert(trueHH.subsetOf(cand),
        s"seed=$seed k=$k missing ${trueHH -- cand}")
    }
  }

  test("heavyTokens equals the exact HAVING computation") {
    val sketched = HeavyHitters.heavyTokens(spark, sf("0.001"), k = 50)
      .orderBy("token").collect().toSeq
    val toks = spark.read.parquet(sf("0.001") + "/documents.parquet")
      .select(explode(split($"text", " ")).as("t"))
    val n = toks.count()
    val exact = toks.groupBy($"t".as("token")).agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * 50 > n).orderBy("token").collect().toSeq
    assert(sketched == exact)
    assert(sketched.nonEmpty)
  }

  test("decile bins partition the customer table monotonically") {
    val bins = Analytics.acctbalDecileBins(spark, sf("0.001"))
      .orderBy("bin").collect()
    assert(bins.length == 10)
    assert(bins.map(_.getLong(0)).toSeq == (1L to 10L))
    // contiguous, ordered ranges; sizes within one of n/10
    val n = bins.map(_.getLong(1)).sum
    bins.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(3) < b.getDouble(2)) // hi_bal(prev) < lo_bal(next)
    }
    bins.foreach(r => assert(math.abs(r.getLong(1) - n / 10.0) <= n / 10.0 * 0.5 + 1))
  }

  test("z-interleave is a bijection on the 8-bit x 8-bit grid") {
    val grid = spark.range(256 * 256).select(
      ($"id" % 256).as("x"), ($"id" / 256).cast("long").as("y"))
    val z = grid.select(ZOrder.interleave($"x", $"y", 8).as("z"))
    assert(z.distinct().count() == 256 * 256)
    assert(z.agg(min($"z"), max($"z")).as[(Long, Long)].head() == ((0L, 65535L)))
    // spot-check: x=5 (101) in even bits -> 1+16, y=3 (011) in odd
    // bits -> 2+8, z = 011011 = 27
    val one = spark.range(1).select(
      ZOrder.interleave(lit(5L), lit(3L), 8).as("z")).as[Long].head()
    assert(one == 27L)
  }

  test("native zorder2 matches the declarative fold on the full grid") {
    val grid = spark.range(256 * 256).select(
      ($"id" % 256).as("x"), ($"id" / 256).cast("long").as("y"))
    val mismatches = grid.select(
      graft.functions.zorder2($"x", $"y", 8).as("zn"),
      ZOrder.interleave($"x", $"y", 8).as("zd"))
      .filter($"zn" =!= $"zd").count()
    assert(mismatches == 0)
    // SQL name registered and identical to the column API
    graft.functions.registerAll(spark)
    grid.createOrReplaceTempView("zgrid")
    val sqlMismatches = spark.sql(
      "SELECT count(*) AS n FROM zgrid WHERE zorder2(x, y, 8) IS DISTINCT FROM " +
        "((x & 1) | ((y & 1) << 1) | (((x >> 1) & 1) << 2) | (((y >> 1) & 1) << 3)" +
        " | (((x >> 2) & 1) << 4) | (((y >> 2) & 1) << 5)" +
        " | (((x >> 3) & 1) << 6) | (((y >> 3) & 1) << 7)" +
        " | (((x >> 4) & 1) << 8) | (((y >> 4) & 1) << 9)" +
        " | (((x >> 5) & 1) << 10) | (((y >> 5) & 1) << 11)" +
        " | (((x >> 6) & 1) << 12) | (((y >> 6) & 1) << 13)" +
        " | (((x >> 7) & 1) << 14) | (((y >> 7) & 1) << 15))")
      .collect()(0).getLong(0)
    assert(sqlMismatches == 0)
  }

  test("z-clustering bounds BOTH dimension spans per partition") {
    val parts = ZOrder.clustered(spark, sf("0.01"), 16)
      .groupBy(spark_partition_id().as("p"))
      .agg((max($"ub") - min($"ub")).as("ub_span"),
        (max($"hb") - min($"hb")).as("hb_span"),
        count(lit(1)).as("n"))
      .collect()
    assert(parts.length > 8)
    val avgUb = parts.map(_.getLong(1)).sum.toDouble / parts.length
    val avgHb = parts.map(_.getLong(2)).sum.toDouble / parts.length
    // unclustered, every partition spans ~the full 0-255 of both dims;
    // z-clustered ranges must shrink substantially on average for both
    assert(avgUb < 160, s"avg ub span $avgUb")
    assert(avgHb < 160, s"avg hb span $avgHb")
  }

  test("group-sample pre-filter is invisible to the result") {
    for (sfTag <- Seq("0.001", "0.01")) {
      val withFilter = Analytics.groupSample(spark, sf(sfTag))
        .orderBy("event_type", "rk").collect().toSeq
      val noFilter = Analytics.groupSample(spark, sf(sfTag), preKeep = 1.0)
        .orderBy("event_type", "rk").collect().toSeq
      assert(withFilter == noFilter, s"sf$sfTag differs")
      assert(withFilter.size == 5 * 5) // 5 types x k=5
    }
  }

  test("token entropy: uniform doc hits log2(n_distinct), repeated doc hits 0") {
    // planted via a parquet round-trip through the operator's core math
    val docs = Seq((1L, "a b c d"), (2L, "x x x x")).toDF("doc_id", "text")
    val counts = docs.select($"doc_id", explode(split($"text", " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val ent = counts
      .withColumn("p", $"cnt".cast("double") / sum($"cnt").over(w))
      .groupBy("doc_id")
      .agg(round(sum(round(-$"p" * log2($"p"), 9)
        .cast(org.apache.spark.sql.types.DecimalType(18, 9))).cast("double"), 6)
        .as("entropy"))
      .orderBy("doc_id").as[(Long, Double)].collect()
    assert(math.abs(ent(0)._2 - 2.0) < 1e-6) // 4 distinct, uniform
    assert(ent(1)._2 == 0.0)
    // and the corpus operator emits one finite row per document
    val all = TextOps.tokenEntropy(spark, sf("0.001"))
    assert(all.count() == all.filter($"entropy" >= 0).count())
  }

  test("fk audit: clean synthetic data has zero orphans, planted orphan caught") {
    val clean = Joins.fkAudit(spark, sf("0.001"))
    assert(clean.count() == 4)
    assert(clean.filter($"n_orphan_keys" =!= 0L).count() == 0)
  }

  test("int8 quantization error is bounded by half a quantization step") {
    val emb = spark.read.parquet(sf("0.001") + "/embeddings.parquet")
      .select(explode($"embedding").as("vf"))
      .select($"vf".cast("double").as("v"))
    val Seq(mn, mx) = emb.agg(min($"v"), max($"v")).collect()(0)
      .toSeq.map(_.asInstanceOf[Double])
    // worst per-dim step can't exceed the global range / 255
    val bound = (mx - mn) / 255 / 2 + 1e-9
    val worst = Similarity.int8Quantize(spark, sf("0.001"))
      .agg(max($"max_abs_err")).as[Double].head()
    assert(worst <= bound, s"$worst > $bound")
    // codes are genuine int8 range
    val codes = Similarity.int8Quantize(spark, sf("0.001"))
      .agg(min(least($"code0", $"code1", $"code2", $"code3")),
        max(greatest($"code0", $"code1", $"code2", $"code3")))
      .as[(Long, Long)].head()
    assert(codes._1 >= 0L && codes._2 <= 255L)
  }

  test("mixture sample keeps ~rate of each language and is deterministic") {
    val kept = TextOps.mixtureSample(spark, sf("0.01"))
    val docs = spark.read.parquet(sf("0.01") + "/documents.parquet")
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val byLang = kept.groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), first($"rate").as("rate"))
      .join(docs, "lang")
      .select($"lang", $"n_kept", $"n_docs", $"rate")
      .as[(String, Long, Long, Double)].collect()
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, nKept, nDocs, rate) =>
      val frac = nKept.toDouble / nDocs
      assert(math.abs(frac - rate) < 0.15, s"$lang kept $frac vs rate $rate")
    }
    // determinism: same ids regardless of partitioning
    val ids1 = kept.select("doc_id").as[Long].collect().sorted.toSeq
    val ids2 = TextOps.mixtureSample(spark, sf("0.01"))
      .repartition(7).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
  }

  test("unigram surprisal is positive and bounded by log2(corpus size)") {
    val df = TextOps.unigramSurprisal(spark, sf("0.001"))
    val nCorpus = spark.read.parquet(sf("0.001") + "/documents.parquet")
      .select(explode(split($"text", " ")).as("t")).count()
    val bound = math.log(nCorpus.toDouble) / math.log(2.0) + 1e-6
    val (mn, mx) = df.agg(min($"mean_surprisal"), max($"mean_surprisal"))
      .as[(Double, Double)].head()
    assert(mn > 0.0, s"min $mn")
    assert(mx <= bound, s"max $mx > $bound")
  }

  test("NDCG@3 is a valid normalized gain: (0,1], same judged groups per policy") {
    val rows = graft.ml.PolicyEval.ndcgMetrics(spark, sf("0.001"))
      .as[(String, Double, Long)].collect()
    assert(rows.map(_._1).toSet == Set("popularity", "random"))
    rows.foreach { case (p, v, n) =>
      assert(v > 0.0 && v <= 1.0, s"$p ndcg=$v out of range")
      assert(n > 0)
    }
    assert(rows.map(_._3).distinct.length == 1) // identical denominator
  }

  test("count-min: never underestimates, bounded overestimate, merge-invariant") {
    val width = 1024
    val est = HeavyHitters.heavyTokenEstimates(spark, sf("0.01"), width = width)
      .select("token", "exact_cnt", "cms_est")
      .as[(String, Long, Long)].collect()
    assert(est.length >= 25)
    val n = spark.read.parquet(sf("0.01") + "/documents.parquet")
      .select(explode(split($"text", " ")).as("t")).count()
    est.foreach { case (tok, exact, cms) =>
      assert(cms >= exact, s"$tok underestimated: $cms < $exact")
      // classic bound e·n/width holds w.h.p. per row; min over 4 rows
      // on a fixed fixture sits far inside it
      assert(cms - exact <= math.ceil(math.E * n / width).toLong,
        s"$tok overestimate ${cms - exact}")
    }
    // the sketch itself is identical under any partitioning
    def sketchOf(parts: Int) = {
      val toks = spark.read.parquet(sf("0.001") + "/documents.parquet")
        .select(explode(split($"text", " ")).as("t")).repartition(parts)
      toks.agg(graft.functions.Cms.sketchAgg($"t", width).as("s"))
        .as[Array[Long]].head().toSeq
    }
    assert(sketchOf(1) == sketchOf(13))
  }

  test("SCD-2 current rows equal the materialized latest image") {
    val hist = Cdc.scd2History(spark, sf("0.001"))
    val current = hist.filter($"is_current")
      .select($"order_id", $"line_no", $"part_id", $"quantity", $"price")
      .collect().map(_.toSeq).toSet
    val latest = Cdc.materializeLatest(spark, sf("0.001"))
      .collect().map(_.toSeq).toSet
    assert(current == latest && current.nonEmpty)
    // intervals never overlap: each version closes at or before the
    // next one opens (a delete between versions leaves a legitimate
    // gap — the key did not exist there), and every closed interval is
    // non-empty
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("order_id", "line_no").orderBy("valid_from_lsn")
    val checked = hist
      .withColumn("next_from", lead($"valid_from_lsn", 1).over(w))
    assert(checked.filter($"next_from".isNotNull &&
      ($"valid_to_lsn".isNull || $"valid_to_lsn" > $"next_from")).count() == 0)
    assert(checked.filter($"valid_to_lsn".isNotNull &&
      $"valid_to_lsn" <= $"valid_from_lsn").count() == 0)
  }

  test("hourly anomaly z-scores are standardized per type") {
    val df = Analytics.hourlyAnomalies(spark, sf("0.01"))
    val perType = df.groupBy("event_type")
      .agg(avg($"z").as("mz"), count(lit(1)).as("n"))
      .as[(String, Double, Long)].collect()
    assert(perType.length == 5)
    perType.foreach { case (t, mz, n) =>
      assert(math.abs(mz) < 0.05, s"$t mean z $mz") // ~0 by construction
      assert(n > 100)
    }
    // flags exist only where |z| really exceeds 3
    assert(df.filter($"is_anomaly" && abs($"z") <= 3.0).count() == 0)
  }

  test("transition shares sum to ~1 per from_type") {
    val sums = Analytics.transitionMatrix(spark, sf("0.001"))
      .groupBy("from_type").agg(sum("p_trans").as("s"))
      .as[(String, Double)].collect()
    assert(sums.nonEmpty)
    sums.foreach { case (t, s) =>
      assert(math.abs(s - 1.0) < 0.01, s"$t sums to $s")
    }
  }

  test("kNN classify: one row per holdout vector, vote = recomputed mode of its k nearest") {
    val out = Similarity.knnClassify(spark, sf("0.001"), k = 10, holdout = 5)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("predicted_label"), r.getAs[Long]("votes"))).toMap
    val all = graft.Tables.embeddings(spark, sf("0.001"))
      .select("vec_id", "embedding", "label")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Seq[Float]]("embedding").toArray, r.getAs[Int]("label")))
    val holdout = all.filter(_._1 % 5 == 0)
    assert(out.keySet == holdout.map(_._1).toSet,
      "not exactly one prediction per holdout vector")
    def cos(a: Array[Float], b: Array[Float]): Double = cosine(a, b, roundDp = 4)
    // naive driver-side recompute for a few queries
    val labeled = all.filter(_._1 % 5 != 0)
    for ((qid, qv, _) <- holdout.take(5)) {
      val nbrs = labeled.map { case (id, v, l) => (id, l, cos(qv, v)) }
        .sortBy { case (id, _, c) => (-c, id) }.take(10)
      val mode = nbrs.groupBy(_._2).map { case (l, g) => (l, g.size) }
        .toSeq.sortBy { case (l, n) => (-n, l) }.head
      assert(out(qid) == (mode._1, mode._2.toLong),
        s"q$qid: expected $mode got ${out(qid)}")
    }
  }

  test("weighted sample: equals naive A-ES recompute and skews toward long docs") {
    val k = 50
    val sample = Analytics.weightedSample(spark, sf("0.001"), k).collect()
      .map(_.getAs[Long]("doc_id"))
    val docs = graft.Tables.documents(spark, sf("0.001"))
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars")))
    // naive driver-side A-ES with the same hash stream
    def key(id: Long, w: Long): Double = {
      val h = (((id + 7919) % 1048576) * 2654435761L) % 1048576
      val u = (h.toDouble + 0.5) / 1048576.0
      BigDecimal(-math.log(u) / math.max(w, 1).toDouble)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = docs.map { case (id, w) => (key(id, w), id) }
      .sorted.take(k).map(_._2)
    assert(sample.toSeq == expected.toSeq, "sample diverges from naive A-ES")
    // weight = n_chars → the sample must overrepresent long documents
    val byId = docs.toMap
    val sampleMean = sample.map(byId).sum.toDouble / sample.length
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    assert(sampleMean > corpusMean,
      s"length-weighted sample not length-skewed: $sampleMean <= $corpusMean")
  }

  test("MMR re-rank: first pick is the nearest neighbor, set is more diverse than top-k") {
    val k = 10
    val mmr = Similarity.mmrRerank(spark, sf("0.001"), queryId = 0L, k = k)
      .orderBy("rank").collect()
    assert(mmr.length == k)
    val topk = Similarity.bruteForceTopK(spark, sf("0.001"), nQueries = 1, k = k)
      .orderBy("rank").collect()
      .map(r => r.getAs[Long]("nbr_id"))
    // λ·rel − (1−λ)·0 at step 1 ⇒ the first MMR pick IS the top hit
    assert(mmr.head.getAs[Long]("vec_id") == topk.head,
      "first MMR pick is not the nearest neighbor")
    // diversity: mean pairwise cosine within the MMR set must be below
    // the plain top-k set's (that is the entire point of the re-rank)
    val vecsOf = graft.Tables.embeddings(spark, sf("0.001"))
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = cosine(a, b)
    def meanPairSim(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- i + 1 until ids.length)
        yield cos(vecsOf(ids(i)), vecsOf(ids(j)))
      ps.sum / ps.length
    }
    val mmrIds = mmr.map(_.getAs[Long]("vec_id")).toSeq
    assert(meanPairSim(mmrIds) < meanPairSim(topk.toSeq),
      "MMR set is not more diverse than plain top-k")
  }

  // independent reference for the BPE fit: greedy left-to-right merge
  // over TOKEN ARRAYS (no string/regex machinery shared with the
  // engine path), one merge per iteration — sequential Sennrich
  // semantics, which the engine's BATCHED fit must reproduce exactly
  private def naiveBpe(freqs: Map[String, Long],
                       merges: Int): Seq[(Long, String, String, String, Long)] = {
    var words = freqs.map { case (w, n) => (w.toCharArray.map(_.toString).toVector, n) }.toVector
    (1 to merges).flatMap { rank =>
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (ts, n) =>
        ts.sliding(2).filter(_.length == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + n
        }
      }
      if (counts.isEmpty) None
      else {
        val ((w1, w2), freq) = counts.toSeq.minBy { case ((a, b), f) => (-f, a, b) }
        words = words.map { case (ts, n) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < ts.length) {
            if (i + 1 < ts.length && ts(i) == w1 && ts(i + 1) == w2) {
              out += w1 + w2; i += 2
            } else { out += ts(i); i += 1 }
          }
          (out.toVector, n)
        }
        Some((rank.toLong, w1, w2, w1 + w2, freq))
      }
    }
  }

  private def fixtureWordFreqs(): Map[String, Long] =
    graft.Tables.documents(spark, sf("0.001"))
      .select("text").as[String].collect()
      .flatMap(_.split(" ")).filter(_.length >= 2)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }

  test("BPE learn matches an independent token-array driver BPE") {
    // planted corpus exercising shared-boundary and identical-run
    // merges (the semantics that distinguish greedy BPE from plain
    // string replace)
    val planted = Seq(("aaaaa", 3L), ("banana", 2L), ("abab", 5L), ("bandana", 1L))
    val gotPlanted = TextOps.bpeLearnFrom(
        planted.toDF("word", "n"), merges = 6)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(gotPlanted == naiveBpe(planted.toMap, 6),
      s"planted diverged:\n$gotPlanted\nvs\n${naiveBpe(planted.toMap, 6)}")
    // real fixture, 10 merges
    val fixtureFreqs = fixtureWordFreqs()
    val got = TextOps.bpeLearn(spark, sf("0.001"), merges = 10)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got == naiveBpe(fixtureFreqs, 10),
      s"fixture diverged:\n$got\nvs\n${naiveBpe(fixtureFreqs, 10)}")
  }

  test("BPE in-memory fit: merges>=100 matches sequential exactly") {
    // the default fit path: one distributed word count, then the merge
    // loop in memory (constant Spark-job count at ANY merges) — must
    // agree merge-for-merge with the sequential token-array reference,
    // including the exhaustion point (sf0.001 dries up at 89 merges)
    val fixtureFreqs = fixtureWordFreqs()
    val got = TextOps.bpeFitLocal(fixtureFreqs.toSeq, merges = 100)
    val expect = naiveBpe(fixtureFreqs, 100)
    assert(got == expect, s"in-memory fit diverged from sequential at " +
      s"${got.zip(expect).indexWhere { case (a, b) => a != b }}")
    assert(got.length == expect.length && got.length >= 60)
    // planted corpus: shared boundaries + identical runs
    val planted = Seq(("aaaaa", 3L), ("banana", 2L), ("abab", 5L), ("bandana", 1L))
    assert(TextOps.bpeFitLocal(planted, 6) == naiveBpe(planted.toMap, 6))
  }

  test("BPE batched distributed fit: exact, strictly fewer jobs than merges") {
    // the over-ceiling fallback: commits a provably-exact prefix of the
    // top pairs per counting job. Chain-dependent merges (an→can→scan,
    // tied freqs inside one word) can NEVER batch without changing the
    // sequential result, so the win on natural text is modest — the
    // contract is exactness plus jobs < merges, with the in-memory fit
    // as the real scale path for bounded vocabularies
    val fixtureFreqs = fixtureWordFreqs()
    val (got, jobs) = TextOps.bpeLearnMerges(
      fixtureFreqs.toSeq.toDF("word", "n"), merges = 100)
    val expect = naiveBpe(fixtureFreqs, 100)
    assert(got == expect, s"batched fit diverged from sequential at " +
      s"${got.zip(expect).indexWhere { case (a, b) => a != b }}")
    assert(got.length == expect.length && got.length >= 60)
    assert(jobs < got.length,
      s"batching never committed >1 merge: $jobs jobs for ${got.length} merges")
  }

  test("BPE apply matches a driver-side apply of the learned merges") {
    val merges = TextOps.bpeLearn(spark, sf("0.001"), merges = 10)
      .as[(Long, String, String, String, Long)].collect()
      .map(r => (r._2, r._3))
    def applyWord(w: String): Int = {
      var ts = w.toCharArray.map(_.toString).toVector
      merges.foreach { case (w1, w2) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < ts.length) {
          if (i + 1 < ts.length && ts(i) == w1 && ts(i + 1) == w2) {
            out += w1 + w2; i += 2
          } else { out += ts(i); i += 1 }
        }
        ts = out.toVector
      }
      ts.length
    }
    val docRows = graft.Tables.documents(spark, sf("0.001"))
      .select("doc_id", "text", "n_chars").as[(Long, String, Long)].collect()
    val nCharsOf = docRows.map(d => d._1 -> d._3).toMap
    val expected = docRows.map { case (id, text, nChars) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      val nSub = ws.map(w => if (w.length >= 2) applyWord(w) else 1).sum.toLong
      id -> ((id, ws.length.toLong, nSub,
        BigDecimal(nSub.toDouble / nChars)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
    val got = TextOps.bpeApply(spark, sf("0.001"))
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == expected.size)
    got.foreach { case row @ (id, nw, nsub, _) =>
      assert(row == expected(id), s"doc $id: $row vs ${expected(id)}")
      assert(nsub <= nCharsOf(id), s"doc $id: subwords exceed chars")
      assert(nsub >= nw, "merging cannot drop below one token per word")
    }
  }

  test("bpeApply with a checkpoint-batch-crossing merge table equals the " +
    "driver replay (the 32k-table plan-depth path)") {
    import spark.implicits._
    // request far past saturation: the fixture vocabulary collapses
    // completely, and the learned table must cross BpeApplyBatch so the
    // batched localCheckpoint path actually runs
    val learned = TextOps.learnedMerges(spark, sf("0.001"), 32768)
    assert(learned.length > TextOps.BpeApplyBatch,
      s"saturation ${learned.length} <= batch ${TextOps.BpeApplyBatch}: " +
        "test no longer crosses a checkpoint — lower the batch or plant words")
    def applyWord(w: String): Long = {
      var ts: Vector[String] = w.map(_.toString).toVector
      learned.foreach { case (_, w1, w2, _, _) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < ts.length) {
          if (i + 1 < ts.length && ts(i) == w1 && ts(i + 1) == w2) {
            out += w1 + w2; i += 2
          } else { out += ts(i); i += 1 }
        }
        ts = out.toVector
      }
      ts.length
    }
    val got = TextOps.bpeApply(spark, sf("0.001"), 32768)
      .select("doc_id", "n_subwords").as[(Long, Long)].collect().toMap
    val docs = graft.Tables.documents(spark, sf("0.001"))
      .select("doc_id", "text").as[(Long, String)].collect()
    docs.foreach { case (id, text) =>
      val exp = text.split(" ").filter(_.nonEmpty)
        .map(w => if (w.length >= 2) applyWord(w) else 1L).sum
      assert(got(id) == exp, s"doc $id: ${got(id)} subwords, replay says $exp")
    }
    // fully saturated table -> every multi-char word is ONE token, so
    // fertility collapses to exactly 1.0 everywhere
    TextOps.tokenizerFertility(spark, sf("0.001"), 32768).collect()
      .foreach(r => assert(r.getAs[Double]("fertility") == 1.0, r.toString))
  }

  test("BPE pair counts equal a naive recompute; top merge empties its own pair") {
    val k = 20
    val got = TextOps.bpePairCounts(spark, sf("0.001"), k).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("freq"))).toSeq
    val words = graft.Tables.documents(spark, sf("0.001"))
      .select("text").as[String].collect()
      .flatMap(_.split(" ")).filter(_.length >= 2)
    def pairCounts(ws: Seq[String]): Map[String, Long] =
      ws.flatMap(w => (0 until w.length - 1).map(i => w.substring(i, i + 2)))
        .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val expected = pairCounts(words.toSeq).toSeq
      .sortBy { case (p, f) => (-f, p) }.take(k)
    assert(got == expected, s"pair stats diverge: $got vs $expected")
    // the merge step the statistic exists for: fusing the top pair into
    // ONE new symbol (non-empty, so no fresh adjacency can re-form
    // the pair across the splice) removes every occurrence of it
    val (top, _) = got.head
    val merged = words.toSeq.map(_.replace(top, "\u0001"))
    assert(!pairCounts(merged).contains(top),
      s"top pair '$top' survives its own merge")
  }

  test("KMV sketch: estimates within error bounds, identical under any partitioning") {
    import graft.functions.Kmv
    val k = 256
    // two overlapping key sets: A = [0, 6000), B = [4000, 10000)
    // → |A|=6000, |B|=6000, |A∪B|=10000, |A∩B|=2000, J=0.2
    def sketchOf(ds: org.apache.spark.sql.Dataset[String]): Array[Long] =
      ds.select(new Kmv.SketchAggregator(k).toColumn).head()
    val a = sketchOf(spark.range(0, 6000).select($"id".cast("string")).as[String]
      .repartition(7))
    val b = sketchOf(spark.range(4000, 10000).select($"id".cast("string")).as[String]
      .repartition(3))
    // partitioning invariance: same keys, different layout → same sketch
    val a2 = sketchOf(spark.range(0, 6000).select($"id".cast("string")).as[String]
      .repartition(31))
    assert(a.toSeq == a2.toSeq, "sketch depends on partitioning")
    // KMV relative error ~ 1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
    val tol = 4.0 / math.sqrt(k - 2.0)
    assert(math.abs(Kmv.distinctEstimate(a, k) - 6000) / 6000.0 < tol)
    assert(math.abs(Kmv.distinctEstimate(b, k) - 6000) / 6000.0 < tol)
    val (common, uLen, uEst) = Kmv.intersect(a, b, k)
    val j = common.toDouble / uLen
    val iEst = j * uEst
    assert(math.abs(uEst - 10000) / 10000.0 < tol, s"union est $uEst")
    assert(math.abs(j - 0.2) < 0.2 * 3 * tol + 0.05, s"jaccard $j")
    assert(math.abs(iEst - 2000) / 2000.0 < 0.35, s"intersect est $iEst")
    // the query surface emits one summary row with positive estimates
    val row = HeavyHitters.keyOverlap(spark, sf("0.001")).collect()(0)
    assert(row.getAs[Long]("est_distinct_a") > 0 &&
      row.getAs[Long]("est_union") >= row.getAs[Long]("est_distinct_a"))
  }

  test("bigram PMI equals a naive recompute including rank order") {
    val got = Analytics.bigramPmi(spark, sf("0.001"), k = 20, minCount = 5)
      .collect().map(r => (r.getAs[String]("bigram"), r.getAs[Long]("cab"),
        r.getAs[Double]("pmi"))).toSeq
    val docs = graft.Tables.documents(spark, sf("0.001"))
      .select("text").as[String].collect().map(_.split(" ").toSeq)
    val nTokens = docs.map(_.length).sum.toDouble
    val nBigrams = docs.map(t => math.max(t.length - 1, 0)).sum.toDouble
    val uni = docs.flatten.groupBy(identity).map { case (w, g) => w -> g.size }
    val bi = docs.flatMap(t => t.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, g) => p -> g.size }.filter(_._2 >= 5)
    val expected = bi.toSeq.map { case ((a, b), cab) =>
      val pmi = BigDecimal(math.log((cab / nBigrams) /
        ((uni(a) / nTokens) * (uni(b) / nTokens))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (s"$a $b", cab.toLong, pmi)
    }.sortBy { case (bg, _, pmi) => (-pmi, bg) }.take(20)
    assert(got == expected, s"PMI diverges:\n$got\nvs\n$expected")
  }

  test("bigram PMI counts bigrams over the documents that have text") {
    val lake = java.nio.file.Files.createTempDirectory("pmi-lake").toString
    val texts = Seq(Some("a b c a b"), None, Some("a b d"), Some("c a b"), Some("d"))
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$lake/documents.parquet")
    val got = Analytics.bigramPmi(spark, lake, k = 20, minCount = 1)
      .collect().map(r => (r.getAs[String]("bigram"), r.getAs[Double]("pmi"))).toSeq
    val docs = texts.flatten.map(_.split(" ").toSeq)
    val nTokens = docs.map(_.length).sum.toDouble
    val nBigrams = docs.map(_.length - 1).sum.toDouble // 7: the null-text doc has none
    val uni = docs.flatten.groupBy(identity).map { case (w, g) => w -> g.size }
    val expected = docs.flatMap(_.sliding(2).filter(_.length == 2))
      .groupBy(identity).toSeq.map { case (Seq(a, b), g) =>
        (s"$a $b", BigDecimal(math.log((g.size / nBigrams) /
          ((uni(a) / nTokens) * (uni(b) / nTokens))))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (bg, pmi) => (-pmi, bg) }
    assert(got == expected, s"PMI diverges:\n$got\nvs\n$expected")
  }

  test("feature MI: terms equal a naive recompute and sum to a non-negative MI") {
    val collected = Analytics.featureMi(spark, sf("0.001")).collect()
    val got = collected
      .map(r => (r.getAs[String]("segment"), r.getAs[Int]("nation_key")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("mi_term"))).toMap
    // row count BEFORE the keyed toMap — duplicate cell rows must fail
    assert(collected.length == got.size, "duplicate cells in the output")
    val rows = graft.Tables.customer(spark, sf("0.001"))
      .select("c_mktsegment", "c_nationkey").collect()
      .map(r => (r.getAs[String]("c_mktsegment"), r.getAs[Int]("c_nationkey")))
    val nt = rows.length.toDouble
    val cells = rows.groupBy(identity).map { case (k, g) => k -> g.size }
    val nx = rows.groupBy(_._1).map { case (k, g) => k -> g.size }
    val ny = rows.groupBy(_._2).map { case (k, g) => k -> g.size }
    cells.foreach { case ((s, nk), n) =>
      val term = BigDecimal((n / nt) * math.log((n / nt) /
        ((nx(s) / nt) * (ny(nk) / nt))))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got((s, nk)) == ((n.toLong, term)), s"cell ($s,$nk) diverges")
    }
    assert(got.size == cells.size)
    // MI(X;Y) >= 0 (up to 9dp rounding of the per-cell terms)
    val mi = got.values.map(_._2).sum
    assert(mi >= -1e-6, s"negative MI: $mi")
  }

  test("Benford audit: digits 1-9, shares sum to 1, expectation is closed-form") {
    val rows = Analytics.benfordDigits(spark, sf("0.001"))
      .orderBy("digit").collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq == (1 to 9))
    val obsSum = rows.map(_.getAs[Double]("obs_share")).sum
    assert(math.abs(obsSum - 1.0) < 1e-4, s"shares sum to $obsSum")
    rows.foreach { r =>
      val d = r.getAs[Int]("digit")
      val expect = BigDecimal(math.log10(1.0 + 1.0 / d))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("benford_share") - expect) < 1e-9)
    }
    // benford shares themselves sum to 1 exactly (telescoping log10)
    val bSum = rows.map(_.getAs[Double]("benford_share")).sum
    assert(math.abs(bSum - 1.0) < 1e-4)
  }

  test("source profile: dup burden and entropy are internally consistent") {
    val rows = TextOps.sourceProfile(spark, sf("0.001")).collect()
    assert(rows.nonEmpty)
    val nSources = rows.length
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val nDocs = graft.Tables.documents(spark, sf("0.001")).count()
    assert(total == nDocs, s"profile drops documents: $total != $nDocs")
    rows.foreach { r =>
      val dups = r.getAs[Long]("n_exact_dups")
      assert(dups >= 0 && dups < r.getAs[Long]("n_docs"), s"dup burden out of range: $r")
      val h = r.getAs[Double]("lang_entropy")
      // entropy of a discrete mix is within [0, ln(#langs in corpus)]
      assert(h >= 0.0 && h <= math.log(64), s"entropy out of range: $r")
      assert(r.getAs[String]("top_lang") != null)
    }
    assert(nSources >= 1)
  }

  test("LM score survives degenerate docs (empty / single-token text)") {
    // doc 0: empty text; doc 10: one token — both split to < 2 tokens,
    // where an unguarded sequence(1, size-1) descends to [1, 0] and
    // element_at(arr, 0) throws. They must be silently excluded (no
    // bigrams to score), not crash the query; normal docs still score.
    val docs = Seq(
      (0L, ""),                    // empty → train partition
      (10L, "lonely"),             // single token → train partition
      (1L, "the cat sat"),         // train
      (2L, "the cat ran"),         // train
      (18L, "the dog sat")         // held-out (doc_id % 10 >= 8)
    ).toDF("doc_id", "text")
    val got = TextOps.lmScoreFrom(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("lm_score"))).toMap
    assert(!got.contains(0L) && !got.contains(10L),
      s"degenerate docs must have no bigram rows: $got")
    assert(got.keySet == Set(1L, 2L, 18L))
    assert(got(1L)._1 == 2 && got(2L)._1 == 2 && got(18L)._1 == 2)
    // seen-in-train bigrams score higher than backoff-only ones
    assert(got(1L)._2 > got(18L)._2,
      s"train doc should outscore held-out backoff doc: $got")
  }

  test("LM score: materialized model layer matches the inline build, once") {
    val dir = sf("0.001")
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Double]("lm_score"))).sortBy(_._1)
    // the layered query face (what q130 serves) must be value-identical
    // to the unmaterialized spec entry point over the same corpus
    val viaLayer = canon(TextOps.lmScore(spark, dir).collect())
    val inline = canon(
      TextOps.lmScoreFrom(graft.Tables.documents(spark, dir)).collect())
    assert(viaLayer.nonEmpty && viaLayer.sameElements(inline),
      "layered LM scoring diverged from the inline build")
    // build-once: re-entry through the getter is a cache hit on the
    // SAME checkpointed tables, not a rebuild
    val m1 = TextOps.materializedLmModel(spark, dir)
    val m2 = TextOps.materializedLmModel(spark, dir)
    assert(m1 eq m2, "LM model layer rebuilt on re-entry")
  }
}
