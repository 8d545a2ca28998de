package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract checks for the round-13 curation operators (q147–q152) —
  * the hash oracles pin exact values; these pin the semantic
  * relationships a rewired-but-hash-matching oracle could miss. */
class Round13OpsSpec extends SparkSpec {

  test("gopher composite verdict is exactly the conjunction of its rule flags") {
    val rows = TextOps.gopherRules(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flags = Seq("ok_words", "ok_wlen", "ok_stop", "ok_ttr", "ok_rep")
        .map(c => r.getBoolean(r.fieldIndex(c)))
      assert(r.getBoolean(r.fieldIndex("passes_gopher")) == flags.forall(identity),
        s"doc ${r.getLong(0)}: composite != conjunction")
    }
    val passing = rows.count(_.getBoolean(rows.head.fieldIndex("passes_gopher")))
    assert(passing > 0 && passing < rows.length,
      "the gate must discriminate on the fixture — all-pass/all-fail means a dead rule")
  }

  test("pii scrub counts and redacts planted identifiers, leaves clean text alone") {
    import spark.implicits._
    val planted = Seq(
      (1L, "mail a.user@example.com or cell 555-1234 from 10.0.0.1 ok"),
      (2L, "two mails x@y.io and z.q@mail.example.org no digits"),
      (3L, "nothing sensitive here at all")).toDF("id", "raw")
    val out = Pii.scrub(planted, "raw").collect().map(r =>
      r.getLong(0) -> r).toMap
    assert(out(1L).getLong(2) == 1 && out(1L).getLong(3) == 1 &&
      out(1L).getLong(4) == 1)
    assert(out(1L).getString(5) == "mail <EMAIL> or cell <PHONE> from <IP> ok")
    assert(out(2L).getLong(2) == 2 && out(2L).getLong(3) == 0)
    assert(out(2L).getString(5) == "two mails <EMAIL> and <EMAIL> no digits")
    assert(out(3L).getLong(2) == 0 && out(3L).getLong(3) == 0 &&
      out(3L).getLong(4) == 0)
    assert(out(3L).getString(5) == "nothing sensitive here at all")
    // the synthetic document corpus carries no PII shapes — the scrub
    // must be a verified no-op there, not a source of false positives
    val docs = Pii.scrub(
      graft.Tables.documents(spark, sf()).select(col("doc_id"), col("text")),
      "text")
    assert(docs.filter(col("n_emails") + col("n_phones") + col("n_ips") > 0)
      .count() == 0)
    assert(docs.filter(col("redacted") =!= col("text")).count() == 0)
  }

  test("bm25 ranks are dense, ordered, and every hit contains a query term") {
    val top = Retrieval.bm25TopK(spark, sf()).orderBy(col("rank")).collect()
    assert(top.length == 10)
    assert(top.map(_.getLong(top.head.fieldIndex("rank"))).toSeq ==
      (1L to 10L), "ranks must be dense 1..10")
    val scores = top.map(_.getDouble(top.head.fieldIndex("score")))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "scores must be non-increasing in rank")
    val hitIds = top.map(_.getLong(top.head.fieldIndex("doc_id"))).toSet
    val withTerm = graft.Tables.documents(spark, sf())
      .filter(col("doc_id").isin(hitIds.toSeq: _*))
      .filter(Retrieval.QueryTerms
        .map(t => col("text").contains(t)).reduce(_ || _))
      .count()
    assert(withTerm == hitIds.size, "a ranked doc lacks every query term")
  }

  test("perplexity buckets are score-contiguous per source and keep = not tail") {
    val rows = TextOps.perplexityBuckets(spark, sf()).collect()
    val bySrc = rows.groupBy(_.getString(1))
    assert(bySrc.nonEmpty)
    bySrc.foreach { case (src, rs) =>
      // all docs sharing a score share a bucket (value thresholds)
      rs.groupBy(_.getDouble(2)).foreach { case (_, same) =>
        assert(same.map(_.getString(3)).toSet.size == 1,
          s"$src: one score split across buckets")
      }
      // buckets are contiguous in score: min(head) >= max(middle) ... per
      // the DESC ordering
      def scoresOf(b: String) =
        rs.filter(_.getString(3) == b).map(_.getDouble(2))
      for ((hi, lo) <- Seq(("head", "middle"), ("middle", "tail")))
        if (scoresOf(hi).nonEmpty && scoresOf(lo).nonEmpty)
          assert(scoresOf(hi).min >= scoresOf(lo).max,
            s"$src: $hi/$lo overlap in score")
      assert(rs.forall(r => r.getBoolean(4) == (r.getString(3) != "tail")))
      // thirds within one score-tie run of the boundary
      val n = rs.length
      val head = scoresOf("head").length
      assert(head <= (n + 2) / 3, s"$src: head third overflows")
    }
  }

  test("stratified sample keeps exactly ceil(n/4) per stratum, deterministically") {
    val out = TextOps.stratifiedSample(spark, sf())
    val got = out.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("k"), max(col("k_keep")).as("kk"),
        max(col("n_stratum")).as("n"))
      .collect()
    assert(got.nonEmpty)
    val truth = graft.Tables.documents(spark, sf())
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    got.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val n = truth(key)
      assert(r.getLong(4) == n, s"$key: n_stratum mismatch")
      assert(r.getLong(2) == (n + 3) / 4 && r.getLong(3) == (n + 3) / 4,
        s"$key: kept ${r.getLong(2)} of $n, want ceil(n/4)")
    }
    val a = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextOps.stratifiedSample(spark, sf())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "resampling must be a pure function of the ids")
  }

  test("phrase search agrees with a driver-side scan of every document") {
    val got = Retrieval.phraseSearch(spark, sf()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = graft.Tables.documents(spark, sf())
      .select("doc_id", "text").collect()
    val expect = docs.flatMap { r =>
      val toks = r.getString(1).split(" ", -1)
      val hits = (0 until toks.length - 1).filter(i =>
        toks(i) == "spark" && toks(i + 1) == "window")
      if (hits.isEmpty) None
      else Some(r.getLong(0) -> (hits.length.toLong, hits.head.toLong + 1))
    }.toMap
    assert(got == expect, {
      val extra = got.keySet -- expect.keySet
      val missing = expect.keySet -- got.keySet
      s"extra=$extra missing=$missing"
    })
    assert(expect.nonEmpty, "probe phrase never occurs — dead fixture")
  }

  test("contamination report rows reconcile with the gate operators") {
    val rep = Curation.contaminationReport(spark, sf()).collect()
    assert(rep.nonEmpty)
    val lexHits = TextOps.decontamination(spark, sf())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val verdicts = Similarity.embeddingDecontam(spark, sf())
      .select(col("vec_id"), col("contaminated"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val pool = graft.Tables.documents(spark, sf())
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .filter { case (id, _) => id >= 5 && verdicts.contains(id) }
    val bySrc = pool.groupBy(_._2)
    rep.foreach { r =>
      val src = r.getString(0)
      val ids = bySrc(src).map(_._1)
      assert(r.getLong(1) == ids.length, s"$src n_pool")
      assert(r.getLong(2) == ids.count(lexHits), s"$src n_lexical")
      assert(r.getLong(3) == ids.count(verdicts(_)), s"$src n_semantic")
      assert(r.getLong(4) == ids.count(id => !lexHits(id) && !verdicts(id)),
        s"$src n_clean")
    }
  }

  test("dup flow matrix totals reconcile with the pair operators") {
    val rep = Dedup.dupFlowMatrix(spark, sf()).collect()
    assert(rep.nonEmpty)
    rep.foreach(r => assert(r.getString(0) <= r.getString(1),
      "matrix keys must be unordered (source_a <= source_b)"))
    val nearTotal = rep.map(_.getLong(2)).sum
    val exactTotal = rep.map(_.getLong(3)).sum
    assert(nearTotal == Dedup.jaccardPairs(spark, sf()).count(),
      "near channel total != q20 pair count at the same threshold")
    val docs = graft.Tables.documents(spark, sf())
    assert(exactTotal == Dedup.exactEdgesFrom(docs).count(),
      "exact channel total != star-edge count")
    // the sf0.001 fixture has no byte-identical pair, so only the near
    // channel is guaranteed live here; the exact channel is exercised
    // (8 star edges) by the q156 oracle at sf0.1
    assert(nearTotal > 0, "near channel must be live on the fixture")
  }

  test("cell top terms: dense ranks and the true decimal-fold argmax per cell") {
    import org.apache.spark.sql.types.DecimalType
    val got = Ivf.cellTopTerms(spark, sf()).collect()
      .groupBy(_.getInt(0))
    assert(got.nonEmpty)
    // driver replay of the (cell, term) decimal fold
    val cells = graft.Tables.embeddings(spark, sf())
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val centroids = Ivf.fittedCentroids(spark, sf(), 16, 2)
    val assigned = cells
      .withColumn("cell", Ivf.assignExpr(centroids)(col("embedding")))
      .select("doc_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sums = graft.features.Features.materializedTfidf(spark, sf())
      .select(col("doc_id"), col("term"),
        col("tfidf").cast(DecimalType(18, 6)).as("t"))
      .collect()
      .flatMap { r =>
        assigned.get(r.getLong(0)).map(c =>
          (c, r.getString(1)) -> r.getDecimal(2))
      }
      .groupBy(_._1)
      .map { case (k, vs) =>
        k -> vs.map(v => BigDecimal(v._2)).sum
      }
    got.foreach { case (cell, rows) =>
      assert(rows.map(_.getLong(4)).sorted.toSeq ==
        (1L to rows.length), s"cell $cell: ranks not dense")
      val best = sums.collect { case ((c, t), w) if c == cell => (t, w) }
        .toSeq.sortBy { case (t, w) => (-w, t) }
      val expectTop = best.take(rows.length).map(_._1)
      val gotTerms = rows.sortBy(_.getLong(4)).map(_.getString(1)).toSeq
      assert(gotTerms == expectTop,
        s"cell $cell: $gotTerms != replayed ${expectTop}")
    }
  }

  test("cell outliers are exactly the coldest ceil(10%) of the full per-cell ranking") {
    // the full ranking replayed on the driver: nearest cell by (squared
    // L2, index), 4dp cosine to the float-cast centroid, ascending
    // double accumulation as dot_f32 runs it
    def dot(a: Array[Float], b: Array[Float]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    val centroids = Ivf.fittedCentroids(spark, sf(), Ann.Cells, Ann.DefaultIters)
    val cf = centroids.map(_.map(_.toFloat))
    val full = graft.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray
        val cell = centroids.indices.minBy(c => (v.indices.map { i =>
          val d = v(i).toDouble - centroids(c)(i); d * d }.sum, c))
        val cos = BigDecimal(dot(v, cf(cell)) /
            (math.sqrt(dot(v, v)) * math.sqrt(dot(cf(cell), cf(cell)))))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (r.getLong(0), cell, cos)
      }
      .groupBy(_._2)
    val out = Ivf.cellOutliers(spark, sf())
      .collect()
      .groupBy(_.getInt(1))
    assert(out.nonEmpty && out.keySet == full.keySet)
    out.foreach { case (cell, rs) =>
      val n = full(cell).length
      val cut = (n + 9) / 10
      assert(rs.length == cut, s"cell $cell: ${rs.length} outliers, want $cut")
      val expect = full(cell).sortBy { case (id, _, cos) => (cos, id) }
        .take(cut).map { case (id, _, cos) => (id, cos) }.toSet
      assert(rs.map(r => (r.getLong(0), r.getDouble(2))).toSet == expect,
        s"cell $cell: outlier set is not the bottom of the full ranking")
    }
  }
}
