package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The IVF family: probe selection, the centroid fit, semantic keep,
  * cluster profiles, kNN classify, embedding decontamination and the
  * cell-balanced keep, each against a driver-side replay. */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  /** Shared driver-side oracle arithmetic — ONE definition of the
    * engine's disciplines (index-order double dot, 4dp HALF_UP
    * rounding, squared-L2 lowest-id cell assignment) so the brute
    * replications cannot drift apart from each other. */
  private object BruteMath {
    def dotd(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cell(centroids: Array[Array[Double]])(v: Array[Float]): Int =
      probes(centroids, 1)(v).head
    /** The `nProbe` nearest cells by (squared L2, index). */
    def probes(centroids: Array[Array[Double]], nProbe: Int)(v: Array[Float]): Seq[Int] =
      centroids.indices.sortBy { c =>
        var d = 0.0; var i = 0
        while (i < v.length) {
          val diff = v(i).toDouble - centroids(c)(i); d += diff * diff; i += 1
        }
        (d, c)
      }.take(nProbe)
  }

  test("IVF top-k is brute force over the probed cells") {
    // driver replay of the probe: each query's 4 nearest of the 16
    // cells, each corpus vector's nearest cell; the reference is the
    // brute ranking of every pair cut to the probed cells
    val centroids = Ivf.fittedCentroids(spark, sf("0.01"), Ann.Cells, Ann.DefaultIters)
    val emb = graft.Tables.embeddings(spark, sf("0.01"))
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect().toMap
    val cellOf = emb.map { case (id, v) => id -> BruteMath.cell(centroids)(v) }
    val probed = (0L until Ann.NQueries)
      .map(q => q -> BruteMath.probes(centroids, 4)(emb(q)).toSet).toMap
    val expected = Similarity.bruteForceTopK(spark, sf("0.01"), k = emb.size)
      .select("qid", "nbr_id", "rank").as[(Long, Long, Long)].collect()
      .filter { case (q, id, _) => probed(q)(cellOf(id)) }
      .groupBy(_._1).values.flatMap(_.sortBy(_._3).take(Ann.TopK).zipWithIndex
        .map { case ((q, id, _), i) => (q, id, i + 1L) }).toSet
    val ivf = Ivf.topK(spark, sf("0.01"))
      .select("qid", "nbr_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(ivf.size == Ann.NQueries * Ann.TopK && ivf == expected)
  }

  test("IVF partial probe keeps useful recall at a fraction of the scans") {
    val brute = Similarity.bruteForceTopK(spark, sf("0.01"))
      .select("qid", "nbr_id").as[(Long, Long)].collect().toSet
    val ivf = Ivf.topK(spark, sf("0.01"))
      .select("qid", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall $recall") // 4/16 cells probed
  }

  test("kNN classify probe-all equals driver brute force; partial probes keep label agreement") {
    // driver-side brute-force oracle: same arithmetic as the engine
    // (index-order double dot, 4dp HALF_UP cosine, votes-desc +
    // label-asc winner) over the collected sf0.01 fixture
    import BruteMath.{dotd, r4}
    val emb = graft.Tables.embeddings(spark, sf("0.01"))
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val nrm = emb.map { case (_, v, _) => math.sqrt(dotd(v, v)) }
    val idx = emb.indices
    val brutePred = idx.filter(i => emb(i)._1 % 5 == 0).map { qi =>
      val (qid, qv, _) = emb(qi)
      val nbrs = idx.filter(i => emb(i)._1 % 5 != 0)
        .map(i => (r4(dotd(emb(i)._2, qv) / (nrm(i) * nrm(qi))), emb(i)._1, emb(i)._3))
        .sortBy { case (c, id, _) => (-c, id) }.take(10)
      val winner = nbrs.groupBy(_._3).toSeq.map { case (l, g) => (g.size, l) }
        .sortBy { case (v, l) => (-v, l) }.head._2
      qid -> winner
    }.toMap
    // probe-all (the q117 default): candidate set = full corpus → EXACT
    val engine = Similarity.knnClassify(spark, sf("0.01"))
      .select("vec_id", "predicted_label").as[(Long, Int)].collect().toMap
    assert(engine == brutePred,
      s"probe-all diverged from brute on ${(engine.toSet -- brutePred.toSet).take(5)}")
    // 4/16 probes (the q127 configuration): sub-quadratic candidates.
    // The fixture embeddings are near-random (near-orthogonal regime —
    // the same reason the q23 recall floor sits at 0.25): true 10-NN
    // scatter across cells, so 4/16 probes measure 0.37 agreement here,
    // ~4× the 10-label chance rate. A real corpus with cluster
    // structure concentrates neighbors in probed cells, which is what
    // makes IVF a usable ANN index at all.
    val probe4 = Similarity.knnClassify(spark, sf("0.01"), nProbe = 4)
      .select("vec_id", "predicted_label").as[(Long, Int)].collect().toMap
    assert(probe4.size >= 90, s"queries lost all candidates: ${probe4.size}/100")
    val agree = brutePred.count { case (q, l) => probe4.get(q).contains(l) }
      .toDouble / brutePred.size
    assert(agree >= 0.25, s"label agreement $agree vs brute")
    assert(agree > 0.15, s"agreement $agree not above the ~0.1 chance rate")
  }

  test("deriveNProbe: probe-all up to the exactness ceiling, audited nProbe above") {
    import Similarity.{deriveNProbe, ProbeAllMaxVectors, DefaultScaleNProbe}
    // the ceiling itself is pinned: moving it silently changes which
    // corpora get exact-by-default kNN (and the q117 oracle contract)
    assert(ProbeAllMaxVectors == 8192L && DefaultScaleNProbe == 4)
    assert(deriveNProbe(500L, 16) == 16, "fixture corpus must probe all cells")
    assert(deriveNProbe(8192L, 16) == 16, "at the ceiling: still exact")
    assert(deriveNProbe(8193L, 16) == 4, "past the ceiling: scale path")
    assert(deriveNProbe(1_000_000L, 16) == 4)
    assert(deriveNProbe(1_000_000L, 2) == 2, "never probe more cells than fitted")
  }

  test("semanticKeep dominance on planted vectors with pinned cells") {
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    // cell 0: id0=(1,0) keeps, id1=(0.9,0.1) cos≈0.994 to id0 → dropped
    // cell 1: id2=(0,1) keeps, id3=(0.1,0.95) cos≈0.995 to id2 → dropped,
    //         id4=(-1,0) lands in cell 1 (closer to (0,1) than (1,0))
    //         but cos 0 / -0.1 to its cellmates → kept
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 0.95f)),
      (4L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val kept = Ivf.semanticKeepFrom(vecs, centroids, 0.9)
      .as[(Long, Int)].collect().toMap
    assert(kept == Map(0L -> 0, 2L -> 1, 4L -> 1), s"got $kept")
    // threshold above every pairwise cosine → nothing dominated
    val all = Ivf.semanticKeepFrom(vecs, centroids, 0.9999)
      .as[(Long, Int)].collect().toMap.keySet
    assert(all == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("semanticKeep agrees with a brute within-cell replication on the real fixture") {
    val kept = Ivf.semanticKeep(spark, sf("0.001"))
      .as[(Long, Int)].collect().toMap
    // driver replication: same centroids (session-cached fit), same
    // squared-L2 lowest-id assignment, same 4dp HALF_UP cosine
    import BruteMath.{dotd, r4}
    val centroids = Ivf.fittedCentroids(spark, sf("0.001"),
      Ivf.semanticK(spark, sf("0.001")), Ann.DefaultIters)
    val emb = graft.Tables.embeddings(spark, sf("0.001"))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val cells = emb.map { case (_, v) => BruteMath.cell(centroids)(v) }
    val nrm = emb.map { case (_, v) => math.sqrt(dotd(v, v)) }
    val expected = emb.indices.filterNot { j =>
      emb.indices.exists { i =>
        i < j && cells(i) == cells(j) &&
          r4(dotd(emb(i)._2, emb(j)._2) / (nrm(i) * nrm(j))) >= Ivf.SemanticThreshold
      }
    }.map(j => emb(j)._1 -> cells(j)).toMap
    assert(expected.size < emb.length, "fixture produced no dominated vector")
    assert(kept == expected,
      s"diverged on ${(kept.toSet -- expected.toSet).take(5)} / ${(expected.toSet -- kept.toSet).take(5)}")
  }

  test("semanticKeep derives k from the corpus; cells stay pair-work-bounded at 10x") {
    // At the fixture scales the derived k floors at 16, so q129's
    // results are unchanged by the derivation...
    assert(Ivf.deriveK(500) == 16 && Ivf.deriveK(5000) == 16)
    assert(Ivf.semanticK(spark, sf("0.01")) == 16)
    // ...and k grows once the corpus outruns the floor: 10x a
    // 16-cell-by-target corpus must derive 10x the cells, keeping
    // within-cell pair work ~n*target instead of n^2/16.
    val target = Ivf.TargetCellSize
    val n = 16 * target * 10 // 81 920
    assert(Ivf.deriveK(n) == 160)
    val dir = java.nio.file.Files.createTempDirectory("derivedk").toString
    spark.range(n).select(col("id").as("vec_id"), expr(
        "transform(sequence(0, 7), j -> CAST(sin(id * 0.7 + j * 1.3 + id * j * 0.01) AS FLOAT))")
      .as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val k = Ivf.deriveK(n)
    val centroids = Ivf.fittedCentroids(spark, dir, k, 1)
    val sizes = graft.Tables.embeddings(spark, dir)
      .withColumn("cell", Ivf.assignExpr(centroids)(col("embedding")))
      .groupBy("cell").count().as[(Int, Long)].collect().map(_._2)
    val pairWork = sizes.map(s => s * s).sum
    assert(n.toLong / sizes.length <= 2L * target,
      s"mean cell size ${n / sizes.length} vs target $target")
    assert(pairWork <= n.toLong * 8L * target,
      s"within-cell pair work $pairWork exceeds ~n*target bound")
  }

  test("centroid fit is partitioning-independent (decimal-exact dim means)") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val a = Ivf.fitCentroids(spark, sf("0.001"), 8, 2)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val b = Ivf.fitCentroids(spark, sf("0.001"), 8, 2)
      assert(a.length == b.length)
      a.zip(b).zipWithIndex.foreach { case ((ca, cb), i) =>
        assert(ca.sameElements(cb), s"centroid $i drifted across partitionings")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("clusterProfile partitions the corpus with sane cohesion and purity") {
    val rows = Ivf.clusterProfile(spark, sf("0.01"))
      .as[(Int, Long, Double, Int, Double)].collect()
    assert(rows.map(_._2).sum == 500L, "cells must partition the corpus")
    assert(rows.length <= 16 && rows.length >= 2)
    assert(rows.map(_._1).distinct.length == rows.length, "one row per cell")
    rows.foreach { case (c, n, cos, lbl, purity) =>
      assert(n >= 1)
      assert(cos >= -1.0001 && cos <= 1.0001, s"cell $c cohesion $cos")
      assert(lbl >= 0 && lbl <= 9, s"cell $c top label $lbl")
      assert(purity > 0.0 && purity <= 1.0, s"cell $c purity $purity")
    }
    // majority-label replication for the largest cell
    val centroids = Ivf.fittedCentroids(spark, sf("0.01"), 16, 2)
    val emb = graft.Tables.embeddings(spark, sf("0.01"))
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getSeq[Float](1).toArray, r.getInt(2)))
    val big = rows.maxBy(_._2)
    val labels = emb.filter { case (v, _) =>
      BruteMath.cell(centroids)(v) == big._1 }.map(_._2)
    assert(labels.length == big._2, "population mismatch vs replication")
    val major = labels.groupBy(identity).toSeq
      .map { case (l, g) => (g.length, l) }
      .sortBy { case (n, l) => (-n, l) }.head
    assert(big._4 == major._2 && big._5 ==
      BigDecimal(major._1.toDouble / labels.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"majority label mismatch: got (${big._4}, ${big._5}), want $major")
  }

  test("IVF assignment/probe is the native expression - no ScalaUDF in the plan") {
    val plan = Ivf.topK(spark, sf("0.01")).queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"UDF survived in q44 plan:\n$plan")
    assert(plan.contains("nearest_centroids"), "native expression missing from plan")
  }

  test("embedding decontamination matches a driver brute argmax replay") {
    import BruteMath.{dotd, r4}
    val emb = graft.Tables.embeddings(spark, sf("0.001"))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val nrm = emb.map { case (_, v) => math.sqrt(dotd(v, v)) }
    val evs = emb.indices.filter(i => emb(i)._1 % 50 == 0)
    val expect = emb.indices.filter(i => emb(i)._1 % 50 != 0).map { ci =>
      val (cid, cv) = emb(ci)
      val best = evs
        .map(ei => (r4(dotd(cv, emb(ei)._2) / (nrm(ci) * nrm(ei))), emb(ei)._1))
        .minBy { case (c, eid) => (-c, eid) }
      (cid, best._2, best._1, best._1 >= 0.6)
    }.toSet
    val engine = Similarity.embeddingDecontam(spark, sf("0.001"))
      .as[(Long, Long, Double, Boolean)].collect().toSet
    assert(engine == expect)
  }

  test("cell-balanced keep: per-cell cap + ranks replicate a driver top-k replay") {
    val perCell = 8
    val kept = Ivf.cellBalancedKeep(spark, sf("0.01"))
      .select("cell", "doc_id", "cell_rank", "lm_score")
      .as[(Int, Long, Long, Double)].collect()
    // cap + contiguous ranks per cell
    kept.groupBy(_._1).foreach { case (cell, rows) =>
      assert(rows.length <= perCell, s"cell $cell kept ${rows.length}")
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"cell $cell ranks not contiguous")
    }
    // driver replay of the selection LOGIC over the same inputs: the
    // full (cell, score) join collected, ranked by (score desc, id asc)
    // per cell, capped — catches a wrong window/frame/tie-break even
    // though the inputs come from the engine's own layers
    val scores = TextOps.lmScore(spark, sf("0.01"))
      .select("doc_id", "lm_score").as[(Long, Double)].collect().toMap
    val cents = Ivf.fittedCentroids(spark, sf("0.01"),
      Ivf.semanticK(spark, sf("0.01")), 2)
    val cells = graft.Tables.embeddings(spark, sf("0.01"))
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().map { case (id, v) => id -> BruteMath.cell(cents)(v) }.toMap
    val expect = scores.toSeq.flatMap { case (id, s) =>
      cells.get(id).map(c => (c, id, s))
    }.groupBy(_._1).flatMap { case (c, rows) =>
      rows.sortBy { case (_, id, s) => (-s, id) }.take(perCell).zipWithIndex
        .map { case ((_, id, s), r) => (c, id, (r + 1).toLong, s) }
    }.toSet
    assert(kept.toSet == expect)
  }
}
