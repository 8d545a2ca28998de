package graft.features

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Multimodal

class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  test("min-max scaled features land in [0,1] and one-hots are exclusive") {
    val f = Features.customerFeatures(spark, sf()).cache()
    val bounds = f.agg(min("acctbal_scaled"), max("acctbal_scaled"))
      .as[(Double, Double)].collect()(0)
    assert(bounds._1 == 0.0 && bounds._2 == 1.0)
    val hotSum = f.selectExpr(
      "seg_automobile + seg_building + seg_furniture + seg_household + seg_machinery AS s")
      .agg(min("s"), max("s")).as[(Long, Long)].collect()(0)
    assert(hotSum == ((1L, 1L)), "exactly one segment per row")
  }

  test("min-max scale of a constant column yields 0.0, not null") {
    val df = Seq((1L, 7.5), (2L, 7.5), (3L, 7.5)).toDF("id", "v")
    val out = Features.minMaxScale(df, Seq("v"))
      .select("v_scaled").as[Double].collect()
    assert(out.length == 3 && out.forall(_ == 0.0))
  }

  test("time-context one-hots partition the day") {
    val bad = Features.timeContext(spark, sf())
      .filter($"is_morning" + $"is_afternoon" + $"is_evening" =!= 1 ||
        $"is_weekend" + $"is_weekday" =!= 1)
      .count()
    assert(bad == 0)
  }

  test("text embedding is deterministic across partitionings and k-dim") {
    val a = Features.textEmbedding(spark, sf())
      .orderBy("doc_id").as[(Long, Array[Double])].collect()
    assert(a.forall(_._2.length == Features.EmbeddingDims))
    val b = Features.textEmbedding(spark, sf())
      .orderBy("doc_id").as[(Long, Array[Double])].collect()
    assert(a.zip(b).forall { case ((i1, v1), (i2, v2)) =>
      i1 == i2 && v1.sameElements(v2) })
    // embeddings carry signal: not all-zero
    assert(a.exists(_._2.exists(_ != 0.0)))
  }

  test("similar documents embed closer than dissimilar ones") {
    // The corpus has planted near-dup pairs (Jaccard ≥ 0.9); their
    // embeddings must be closer than a random pair's on average.
    val emb = Features.textEmbedding(spark, sf("0.01"))
      .as[(Long, Array[Double])].collect().toMap
    val dups = graft.operators.Dedup.jaccardPairs(spark, sf("0.01"))
      .filter($"jaccard" >= 0.9)
      .select("doc_i", "doc_j").as[(Long, Long)].collect()
    assert(dups.nonEmpty)
    def dist(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val dupDist = dups.map { case (i, j) => dist(emb(i), emb(j)) }.sum / dups.length
    val ids = emb.keys.toArray.sorted
    val randDist = ids.take(50).zip(ids.takeRight(50)).map { case (i, j) =>
      dist(emb(i), emb(j)) }.sum / 50
    assert(dupDist < randDist / 2,
      s"dup pairs mean dist $dupDist vs random $randDist")
  }

  test("media decode survives a null payload: framed as an empty container, zero data bytes") {
    import spark.implicits._
    val docs = Seq((0L, "some pixel text"), (1L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val decoded = Multimodal.decode(Multimodal.mediaTableFrom(docs)).collect()
    assert(decoded.length == 2)
    val nullRow = decoded.find(_.media_id == 1L).get
    assert(nullRow.data_bytes == 0L, s"null payload not empty: $nullRow")
    assert(nullRow.byte_len > 0L, "container header missing for the null payload")
    assert(decoded.find(_.media_id == 0L).get.data_bytes == 15L)
  }

  test("media decode parses real BMP/WAV headers, partition-parallel") {
    val media = Multimodal.mediaTable(spark, sf()).repartition(4)
    val feats = Multimodal.decode(media).collect()
    assert(feats.length == 500)
    // every fixture payload decodes to a known container; header fields
    // round-trip the encoded metadata exactly
    val metaById = Multimodal.mediaTable(spark, sf()).collect()
      .map(r => r.media_id -> r).toMap
    feats.foreach { f =>
      val m = metaById(f.media_id)
      assert(f.byte_len == m.payload.length.toLong)
      if (f.container == "bmp") {
        assert(f.width_px.contains(m.width.toLong) &&
          f.height_px.contains(m.height.toLong) &&
          f.bits_per_px.contains(24L) && f.channels.isEmpty)
        assert(f.data_bytes == m.payload.length - graft.operators.MediaCodec.BmpHeaderLen)
      } else {
        assert(f.container == "wav" && f.width_px.isEmpty)
        assert(f.sample_rate.exists(_ >= 8000L) && f.channels.exists(c => c == 1L || c == 2L))
        assert(f.data_bytes == m.payload.length - graft.operators.MediaCodec.WavHeaderLen)
      }
    }
  }

  test("media codec: byte-level encode/decode round-trip + unknown magic quarantine") {
    val img = graft.operators.MediaCodec.bmp(640, 360, Array[Byte](1, 2, 3, 4, 5))
    val di = graft.operators.MediaCodec.decode(7L, img)
    assert(di.container == "bmp" && di.width_px.contains(640L) &&
      di.height_px.contains(360L) && di.data_bytes == 5L &&
      di.byte_len == 59L)
    val au = graft.operators.MediaCodec.wav(2, 16000, new Array[Byte](64000))
    val da = graft.operators.MediaCodec.decode(8L, au)
    assert(da.container == "wav" && da.channels.contains(2L) &&
      da.sample_rate.contains(16000L) && da.data_bytes == 64000L &&
      da.duration_ms.contains(1000L)) // 64000 bytes / (16000*2ch*2B) = 1 s
    // stragglers survive as quarantine rows, they do not kill the task
    val junk = graft.operators.MediaCodec.decode(9L, Array[Byte](0x42, 0x00, 0x01))
    assert(junk.container == "unknown" && junk.byte_len == 3L)
    // corrupt fmt chunk (zeroed rate/channels): no division by zero —
    // the row survives with an unknown duration
    val corrupt = graft.operators.MediaCodec.decode(10L,
      graft.operators.MediaCodec.wav(0, 0, Array[Byte](1, 2)))
    assert(corrupt.container == "wav" && corrupt.duration_ms.isEmpty &&
      corrupt.data_bytes == 2L)
  }

  test("frame sampling fans out ceil(n_frames/stride) rows per media") {
    val counts = Multimodal.frameSample(spark, sf())
      .groupBy("media_id").agg(count(lit(1)).as("n"))
      .join(Multimodal.mediaMeta(spark, sf()), "media_id")
      .select($"n", ceil($"n_frames" / lit(8.0)).cast("long").as("want"))
      .as[(Long, Long)].collect()
    assert(counts.nonEmpty && counts.forall { case (n, want) => n == want })
  }

  test("hashed embedding keeps near-dups near and is deterministic") {
    // open-vocab twin of the two tests above: same invariants, but the
    // vector space is the feature-hashed one (no driver vocabulary)
    val emb = Features.textEmbeddingHashed(spark, sf("0.01"))
      .as[(Long, Array[Double])].collect().toMap
    // high-Jaccard near-dups: mean distance well under the random background
    val dups = graft.operators.Dedup.jaccardPairs(spark, sf("0.01"))
      .filter($"jaccard" >= 0.9)
      .select("doc_i", "doc_j").as[(Long, Long)].collect()
    assert(dups.nonEmpty)
    def dist(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val dupDist = dups.map { case (i, j) => dist(emb(i), emb(j)) }.sum / dups.length
    val ids = emb.keys.toArray.sorted
    val randDist = ids.take(50).zip(ids.takeRight(50)).map { case (i, j) =>
      dist(emb(i), emb(j)) }.sum / 50
    assert(dupDist < randDist / 2,
      s"dup pairs mean dist $dupDist vs random $randDist")
    // and determinism across re-runs (decimal bucket sums - exact)
    val again = Features.textEmbeddingHashed(spark, sf("0.01"))
      .as[(Long, Array[Double])].collect().toMap
    assert(emb.keys.forall(k => emb(k).sameElements(again(k))))
  }

  test("embedding envelope queries: one row per doc, every contract flag true") {
    // The r12 oracle surface for q35/q77 — the parity gate hash-checks
    // it against DuckDB; this spec pins the same contract inside `sbt
    // test` so a projection regression fails a NAMED test without
    // needing the oracle loop.
    val nDocs = graft.Tables.documents(spark, sf("0.01")).count()
    for (env <- Seq(Features.textEmbeddingCheckedQuery(spark, sf("0.01")),
                    Features.textEmbeddingHashedCheckedQuery(spark, sf("0.01")))) {
      val rows = env.collect()
      assert(rows.length.toLong == nDocs)
      assert(rows.forall(_.getAs[Long]("n_dims") == 10L))
      assert(rows.forall(_.getAs[Boolean]("finite")), "non-finite embedding")
      assert(rows.forall(_.getAs[Boolean]("contractive")), "projection expanded a vector")
      assert(rows.forall(_.getAs[Boolean]("proj_orthonormal")), "basis not orthonormal")
      assert(rows.forall(_.getAs[Boolean]("capture_ok")), "captured energy below floor")
      assert(rows.forall(_.getAs[Double]("tfidf_norm2") > 0.0))
    }
  }

  test("basis residual refutes broken bases, accepts orthonormal and rank-deficient ones") {
    // The envelope's orthonormality flag is only as good as its power
    // to REFUTE: feed basisResidual hand-made bases and check it
    // separates the legitimate shapes (orthonormal columns; a zeroed
    // rank-deficient column) from the broken ones (unnormalized,
    // correlated, or partially-scrambled columns).
    val v = 6; val k = 3
    def colMajor(cols: Seq[Array[Double]]): Array[Double] = {
      val m = new Array[Double](v * k)
      for (j <- cols.indices; i <- 0 until v) m(i * k + j) = cols(j)(i)
      m
    }
    val e = (j: Int) => Array.tabulate(v)(i => if (i == j) 1.0 else 0.0)
    // identity-like: residual ~0
    assert(Features.basisResidual(colMajor(Seq(e(0), e(1), e(2))), v, k) < 1e-12)
    // zeroed third column (rank deficiency): still accepted
    assert(Features.basisResidual(
      colMajor(Seq(e(0), e(1), Array.fill(v)(0.0))), v, k) < 1e-12)
    // unnormalized column: refuted
    assert(Features.basisResidual(
      colMajor(Seq(e(0).map(_ * 1.001), e(1), e(2))), v, k) > 1e-8)
    // correlated columns: refuted
    val mix = e(0).zip(e(1)).map { case (a, b) => (a + b) / math.sqrt(2.0) }
    assert(Features.basisResidual(colMajor(Seq(e(0), mix, e(2))), v, k) > 1e-8)
  }

  test("distributed randomized SVD matches an exact driver eigensolve on a planted low-rank corpus") {
    // 60 docs in a 12-dim space, built from 3 orthogonal base patterns
    // with well-separated strengths (8, 4, 2) plus tiny deterministic
    // noise — strong eigengaps so the exact top-3 eigenvectors are
    // unique up to sign and subspace iteration must reproduce them.
    val v = 12
    val k = 3
    val bases = Array(
      Array.tabulate(v)(i => if (i < 4) 1.0 else 0.0),
      Array.tabulate(v)(i => if (i >= 4 && i < 8) 1.0 else 0.0),
      Array.tabulate(v)(i => if (i >= 8) 1.0 else 0.0))
    val scales = Array(8.0, 4.0, 2.0)
    val docs = (0 until 60).map { d =>
      val x = new Array[Double](v)
      for (b <- 0 until 3) {
        val wgt = scales(b) * (1.0 + 0.1 * ((d * (b + 3)) % 7))
        if (d % 3 == b || d % 5 == b) for (i <- 0 until v) x(i) += wgt * bases(b)(i)
      }
      for (i <- 0 until v) x(i) += 0.001 * (((d * 31 + i * 17) % 13) - 6)
      (d.toLong, x)
    }
    val vecs = docs.toDF("doc_id", "vec")
    val got = Features.svdProject(spark, vecs, v, k)
      .as[(Long, Array[Double])].collect().toMap

    // exact path: full V×V gram on the test driver, Jacobi eigensolve,
    // same sign canonicalization, same projection
    val gram = new Array[Double](v * v)
    docs.foreach { case (_, x) =>
      for (i <- 0 until v; j <- 0 until v) gram(i * v + j) += x(i) * x(j)
    }
    val eig = graft.ml.LinAlg.symEigDesc(gram, v)._2
    val exact = docs.map { case (id, x) =>
      id -> Array.tabulate(k) { j =>
        var sign = 0.0
        var i = 0
        while (i < v && sign == 0.0) {
          if (math.abs(eig(i * v + j)) > 1e-12) sign = math.signum(eig(i * v + j))
          i += 1
        }
        if (sign == 0.0) sign = 1.0
        (0 until v).map(i => x(i) * eig(i * v + j) * sign).sum
      }
    }.toMap
    val maxNorm = exact.values.map(_.map(math.abs).max).max
    docs.foreach { case (id, _) =>
      got(id).zip(exact(id)).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-6 * maxNorm,
          s"doc $id diverged: got ${got(id).toSeq} exact ${exact(id).toSeq}")
      }
    }
  }
}
