package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract checks for the round-13 retrieval additions (q158–q161) —
  * the hash oracles pin exact values; these pin the semantic
  * relationships: fusion arithmetic, the binary stage's exactness
  * envelope, rollup consistency, and the query-by-document term
  * derivation. */
class RetrievalFusionSpec extends SparkSpec {

  /** Recall@k of the binary pipeline against exact brute force, per query. */
  private def hammingRecall() =
    Ann.recall(BinaryAnn.hammingTopK(spark, sf()), Similarity.bruteForceTopK(spark, sf()))

  test("recall grid covers the full (variant, n_probe, query) lattice, " +
    "each point agreeing with its single-point gate") {
    val rows = Pq.recallGrid(spark, sf()).collect()
    val nq = graft.Tables.embeddings(spark, sf())
      .filter(col("vec_id") < 10).count().toInt
    assert(rows.length == 2 * 4 * nq, s"grid size ${rows.length}")
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0, s"recall $rec out of range")
    }
    // the deployment point (nProbe=4) must reproduce the q143/q144
    // gates exactly — the grid is the same chain, swept
    val at4 = rows.filter(_.getAs[Int]("n_probe") == 4)
      .map(r => (r.getAs[String]("variant"), r.getAs[Long]("qid")) ->
        r.getAs[Double]("recall")).toMap
    Pq.ivfAdcRecallVsBrute(spark, sf()).collect().foreach { r =>
      assert(at4(("raw", r.getAs[Long]("qid"))) == r.getAs[Double]("recall"))
    }
    Pq.residualRecallVsBrute(spark, sf()).collect().foreach { r =>
      assert(at4(("residual", r.getAs[Long]("qid"))) == r.getAs[Double]("recall"))
    }
  }

  test("DeployedNProbe stays inside the q167-cleared range") {
    // the grid measured recall flat over nProbe 1-4 and regressing at 8;
    // the deployment constant must stay inside the cleared range
    assert(Pq.DeployedNProbe >= 1 && Pq.DeployedNProbe <= 4,
      s"DeployedNProbe ${Pq.DeployedNProbe} outside the measured-safe range")
  }

  test("SQ8: bounds exact, reconstruction within a half-step, recall strong") {
    import spark.implicits._
    val (mn, mx) = Sq.fittedBounds(spark, sf())
    val vecs = graft.Tables.embeddings(spark, sf())
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val d = vecs.head._2.length
    assert(mn.length == d && mx.length == d)
    // independent bounds replay
    (0 until d).foreach { j =>
      assert(mn(j) == vecs.map(_._2(j).toDouble).min)
      assert(mx(j) == vecs.map(_._2(j).toDouble).max)
    }
    // the quantizer's whole contract: every reconstructed value within
    // half a quantization step of the original (driver replay of the
    // engine's integer arithmetic)
    val codes = Sq.encoded(spark, sf())
      .as[(Long, Array[Int])].collect().toMap
    vecs.foreach { case (id, v) =>
      val c = codes(id)
      (0 until d).foreach { j =>
        val span = mx(j) - mn(j)
        if (span > 0) {
          val rv = mn(j) + c(j).toDouble * span / 255
          assert(math.abs(rv - v(j)) <= span / 510 + 1e-12,
            s"vec $id dim $j: |${rv} - ${v(j)}| > half-step")
          assert(c(j) >= 0 && c(j) <= 255)
        } else assert(c(j) == 0)
      }
    }
    // 8-bit fidelity at d=64 should be near-exact on the fixture —
    // far above the PQ (q136) and binary (q159) operating points
    val rec = Sq.sqRecallVsBrute(spark, sf()).collect()
      .map(_.getAs[Double]("recall"))
    assert(rec.sum / rec.length >= 0.9,
      s"mean SQ8 recall ${rec.sum / rec.length} suspiciously low")
    // plan: no UDF, no true cartesian (the bounded query side may be BNLJ)
    val df = Sq.sqTopK(spark, sf())
    assert(!graft.PlanAudit.hasScalaUDF(df))
    assert(!graft.PlanAudit.hasCartesian(df))
    // the code table is an index, built once per (session, sfDir): both
    // calls above must have resolved to the SAME checkpointed RDD — the
    // contract that lets a repeated query set pay only the scan
    val rdds = Seq(Sq.encoded(spark, sf()), Sq.encoded(spark, sf()))
      .map(_.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      })
    assert(rdds.forall(_.nonEmpty), "encoded corpus is not checkpointed")
    assert(rdds.head == rdds.last, "encode re-ran instead of memoizing")
  }

  test("IVF-SQ8: pruned scores agree with the flat scan pairwise, recall " +
    "gate bounded, plan stays equi-join + broadcast") {
    import spark.implicits._
    // every (qid, nbr) the pruned scan emits must carry EXACTLY the
    // score the flat SQ8 arithmetic assigns that pair — pruning changes
    // the candidate set, never the arithmetic. The flat score of every
    // pair, replayed over the encoded layer: reconstruct each code,
    // fold the dot in index order from 0.0, round 4dp half-up
    val (mn, mx) = Sq.fittedBounds(spark, sf())
    val codes = Sq.encoded(spark, sf()).select("vec_id", "codes")
      .as[(Long, Array[Int])].collect()
    val queries = graft.Tables.embeddings(spark, sf()).filter(col("vec_id") < 10)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val flat = (for ((q, qv) <- queries; (n, cs) <- codes if n != q) yield {
      var acc = 0.0
      cs.indices.foreach { j =>
        val r = if (mx(j) > mn(j)) mn(j) + cs(j).toDouble * (mx(j) - mn(j)) / Sq.Levels
          else mn(j)
        acc += r * qv(j).toDouble
      }
      (q, n) -> BigDecimal(acc).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }).toMap
    val pruned = Sq.ivfSqTopK(spark, sf()).collect()
    assert(pruned.nonEmpty)
    pruned.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("nbr_id"))
      assert(flat(key) == r.getAs[Double]("sq_ip"),
        s"$key: pruned ${r.getAs[Double]("sq_ip")} != flat ${flat(key)}")
    }
    val rec = Sq.ivfSqRecallVsBrute(spark, sf()).collect()
      .map(_.getAs[Double]("recall"))
    assert(rec.nonEmpty && rec.forall(r => r >= 0.0 && r <= 1.0))
    val df = Sq.ivfSqTopK(spark, sf())
    assert(!graft.PlanAudit.hasScalaUDF(df))
    assert(!graft.PlanAudit.hasCartesian(df))
  }

  test("rrfFuse on known tiny lists reproduces Cormack's arithmetic exactly") {
    import spark.implicits._
    val lex = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "lex_rank")
    val sem = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "sem_rank")
    val out = Retrieval.rrfFuse(lex, sem, k = 10).orderBy("rank").collect()
    // doc 2 appears in both lists → 1/62 + 1/61; doc 1 only lexical at
    // rank 1 → 1/61; doc 3 only semantic at rank 2 → 1/62
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 1L, 3L))
    val score = out.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(score(2L) == r6(1.0 / 62 + 1.0 / 61))
    assert(score(1L) == r6(1.0 / 61))
    assert(score(3L) == r6(1.0 / 62))
    // absent sides surface as nulls, not zeros
    val doc1 = out.find(_.getLong(0) == 1L).get
    assert(doc1.isNullAt(doc1.fieldIndex("sem_rank")))
  }

  test("hybrid q158: scores recompute from the emitted ranks, set ⊆ union of sides") {
    val lexIds = Retrieval.bm25TopK(spark, sf(), k = 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val semIds = Similarity.bruteForceTopK(spark, sf(), nQueries = 1, k = 20)
      .select("nbr_id").collect().map(_.getLong(0)).toSet
    val fused = Retrieval.hybridTopK(spark, sf()).orderBy("rank").collect()
    assert(fused.length == 10)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    fused.foreach { r =>
      val lexTerm = if (r.isNullAt(1)) 0.0 else 1.0 / (60 + r.getLong(1))
      val semTerm = if (r.isNullAt(2)) 0.0 else 1.0 / (60 + r.getLong(2))
      assert(r.getDouble(3) == r6(lexTerm + semTerm),
        s"doc ${r.getLong(0)}: rrf_score != 1/(60+lex) + 1/(60+sem)")
      assert(lexIds.contains(r.getLong(0)) || semIds.contains(r.getLong(0)))
    }
    val scores = fused.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("binary packing: every sign bit matches its float component") {
    val rows = BinaryAnn.packed(spark, sf())
      .join(graft.Tables.embeddings(spark, sf()), "vec_id")
      .filter(col("vec_id") < 20)
      .select("vec_id", "b_lo", "b_hi", "embedding").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val emb = r.getSeq[Float](3)
      val lo = r.getLong(1); val hi = r.getLong(2)
      (0 until 32).foreach { i =>
        assert(((lo >> i) & 1L) == (if (emb(i) > 0f) 1L else 0L),
          s"vec ${r.getLong(0)} bit $i (lo)")
        assert(((hi >> i) & 1L) == (if (emb(32 + i) > 0f) 1L else 0L),
          s"vec ${r.getLong(0)} bit $i (hi)")
      }
    }
  }

  test("hamming ANN is brute force over its Hamming candidates") {
    // stage 1 recomputed on the driver: the CandPerQuery ids nearest
    // each query's packed code, ties by vec_id
    val codes = BinaryAnn.packed(spark, sf()).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    def hamming(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val cands = (0L until Ann.NQueries).map { q =>
      q -> (codes - q).toSeq.sortBy { case (id, c) => (hamming(codes(q), c), id) }
        .take(BinaryAnn.CandPerQuery).map(_._1).toSet
    }.toMap
    // stage 2's reference: the brute ranking of every pair, cut to the
    // candidates and re-numbered
    val n = graft.Tables.embeddings(spark, sf()).count().toInt
    val expected = Similarity.bruteForceTopK(spark, sf(), k = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter { case (q, id, _, _) => cands(q).contains(id) }
      .groupBy(_._1).values.flatMap(_.sortBy(_._3).take(Ann.TopK).zipWithIndex
        .map { case ((q, id, _, cos), i) => (q, id, i + 1L, cos) }).toSet
    val got = BinaryAnn.hammingTopK(spark, sf())
      .select("qid", "nbr_id", "rank", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.size == Ann.NQueries * Ann.TopK && got == expected,
      "the exact re-rank must be the brute ranking of the candidates")
    // and the recall gate counts the brute top-k it keeps
    val brute = Similarity.bruteForceTopK(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = hammingRecall().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rec.size == Ann.NQueries)
    rec.foreach { case (q, r) =>
      val hits = got.count { case (gq, id, _, _) => gq == q && brute((q, id)) }
      assert(r == BigDecimal(hits.toDouble / Ann.TopK)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, s"q$q recall $r")
    }
  }

  test("bounded-candidate hamming recall is measured and sane on the fixture") {
    val rec = hammingRecall().collect()
    assert(rec.length == 10)
    rec.foreach(r => assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
    // 20 candidates from 64 sign bits must beat random-guessing recall
    // (5/499 ≈ 0.01) by a wide margin on average — the quantizer works
    val mean = rec.map(_.getDouble(1)).sum / rec.length
    assert(mean > 0.2, s"mean hamming recall $mean suspiciously low")
  }

  test("fertility rolls up the q132 per-doc counts exactly") {
    val perDoc = TextOps.bpeApply(spark, sf())
      .join(graft.Tables.documents(spark, sf())
        .select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("nd"), sum("n_words").as("nw"),
        sum("n_subwords").as("ns"), sum("n_chars").as("nc"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val out = TextOps.tokenizerFertility(spark, sf()).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nd, nw, ns, nc) = perDoc(r.getString(0))
      assert(r.getLong(1) == nd && r.getLong(2) == nw && r.getLong(3) == ns)
      def r4(x: Double) = math.rint(x * 1e4) / 1e4
      assert(r.getDouble(4) == r4(ns.toDouble / nw))
      assert(r.getDouble(5) == r4(nc.toDouble / ns))
      // BPE with few merges can only split words further or keep them
      // whole: fertility ≥ 1 for any real corpus
      assert(r.getDouble(4) >= 1.0)
    }
  }

  test("plan audit: hamming scan native (bit_count/xor), no UDF, no cartesian") {
    val df = BinaryAnn.hammingTopK(spark, sf())
    assert(!graft.PlanAudit.hasScalaUDF(df), "UDF in the binary ANN path")
    assert(!graft.PlanAudit.hasCartesian(df), "cartesian in the scan")
    assert(graft.PlanAudit.hasExpression(df, "BitwiseCount"),
      "popcount not native")
    // the broadcast side of the candidate scan is the nQueries-row code
    // frame — same bounded-broadcast shape as the brute baseline
    val hasBroadcast = graft.PlanAudit.hasBroadcastNestedLoop(df) ||
      graft.PlanAudit.nodes(df).exists {
        case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
        case _ => false
      }
    assert(hasBroadcast, "query side not broadcast")
  }

  test("plan audit: hybrid fusion runs over two take-ordered cuts") {
    val df = Retrieval.hybridTopK(spark, sf())
    // each retrieval side must reach the fusion through a distributed
    // k-row cut (TakeOrdered), never a global sort materialization
    val cuts = graft.PlanAudit.takeOrderedCount(df)
    assert(cuts >= 2, s"fusion inputs not take-ordered ($cuts)")
    assert(!graft.PlanAudit.hasScalaUDF(df))
  }

  test("more-like-this: probe doc excluded, every hit shares a derived term") {
    val probe = Retrieval.MltQueryDoc
    val qterms = graft.features.Features.materializedTfidf(spark, sf())
      .filter(col("doc_id") === probe)
      .orderBy(col("tfidf").desc, col("term").asc).limit(3)
      .select("term").collect().map(_.getString(0)).toSet
    assert(qterms.size == 3)
    val out = Retrieval.moreLikeThis(spark, sf()).orderBy("rank").collect()
    assert(out.length == 10)
    assert(!out.exists(_.getLong(0) == probe), "probe doc must not rank")
    assert(out.map(_.getLong(3)).toSeq == (1L to 10L))
    val hitDocs = out.map(_.getLong(0)).toSet
    val withTerm = graft.Tables.documents(spark, sf())
      .filter(col("doc_id").isin(hitDocs.toSeq: _*))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    hitDocs.foreach { d =>
      assert(withTerm(d).intersect(qterms).nonEmpty,
        s"doc $d ranked without containing any derived query term")
    }
  }
}
