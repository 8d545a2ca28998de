package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product-quantization contract: the decimal-exact fit is
  * partitioning-independent, the encode/ADC arithmetic matches an
  * independent in-memory replay bit-for-bit, and an exactly-quantizable
  * corpus recovers exact inner-product ranking — the same cross-check
  * discipline the IVF/kNN family carries next door. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  /** Independent replay of the engine's arithmetic (one definition, so
    * the tests cannot drift apart): ascending-dim squared-L2 with
    * ties to the lowest code, DECIMAL(28,12) per-cell means, the
    * ascending-s ADC fold, 4dp HALF_UP rounding. */
  private object Replay {
    def fit(vecs: Seq[(Long, Array[Float])], m: Int, k: Int,
            iters: Int): Array[Array[Array[Double]]] = {
      val sorted = vecs.sortBy(_._1)
      val d = sorted.head._2.length
      val sub = d / m
      var books = Array.tabulate(m) { s =>
        sorted.take(k).map(_._2.slice(s * sub, (s + 1) * sub).map(_.toDouble)).toArray
      }
      for (_ <- 0 until iters) {
        val next = books.map(_.map(_.clone()))
        for (s <- 0 until m) {
          val assigned = sorted.groupBy { case (_, v) =>
            code(books(s), v.slice(s * sub, (s + 1) * sub))
          }
          assigned.foreach { case (c, rows) =>
            for (i <- 0 until sub) {
              val sum = rows.map { case (_, v) =>
                BigDecimal(v(s * sub + i).toDouble)
                  .setScale(12, BigDecimal.RoundingMode.HALF_UP)
              }.sum
              next(s)(c)(i) = sum.toDouble / rows.size.toDouble
            }
          }
        }
        books = next
      }
      books
    }
    def code(cb: Array[Array[Double]], v: Array[Float]): Int = nearest(cb, v, 1).head
    /** The `n` nearest codes by (squared L2, index). */
    def nearest(cb: Array[Array[Double]], v: Array[Float], n: Int): Seq[Int] =
      cb.indices.sortBy { c =>
        var d = 0.0; var i = 0
        while (i < v.length) {
          val diff = v(i).toDouble - cb(c)(i); d += diff * diff; i += 1
        }
        (d, c)
      }.take(n)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    /** ADC top-k with the engine's fold order: LUT entries in
      * ascending-dim accumulation, score = 0.0 + t₀ + t₁ + …. */
    def adcTopK(vecs: Seq[(Long, Array[Float])],
                queries: Seq[(Long, Array[Float])],
                books: Array[Array[Array[Double]]],
                topk: Int): Set[(Long, Long, Long, Double)] = {
      val m = books.length
      val sub = books.head.head.length
      val codes = vecs.map { case (id, v) =>
        id -> Array.tabulate(m)(s => code(books(s), v.slice(s * sub, (s + 1) * sub)))
      }
      queries.flatMap { case (qid, qv) =>
        val lut = Array.tabulate(m, books.head.length) { (s, c) =>
          var acc = 0.0; var i = 0
          while (i < sub) { acc += qv(s * sub + i).toDouble * books(s)(c)(i); i += 1 }
          acc
        }
        codes.filter(_._1 != qid).map { case (id, cs) =>
          var score = 0.0
          for (s <- 0 until m) score += lut(s)(cs(s))
          (id, r4(score))
        }.sortBy { case (id, sc) => (-sc, id) }.take(topk).zipWithIndex
          .map { case ((id, sc), r) => (qid, id, (r + 1).toLong, sc) }
      }.toSet
    }
  }

  private def frame(vecs: Seq[(Long, Array[Float])]) =
    vecs.toDF("vec_id", "embedding")

  test("codebook fit is bit-identical under repartitioning") {
    val vecs = Tables_embeddings()
    val a = Ann.fit(frame(vecs), 4, 8, 2)
    val b = Ann.fit(frame(vecs).repartition(7), 4, 8, 2)
    assert(java.util.Arrays.deepEquals(
      a.asInstanceOf[Array[AnyRef]], b.asInstanceOf[Array[AnyRef]]))
  }

  test("IVF centroid fit is the m = 1 case of the in-memory Lloyd replay") {
    // the IVF quantizer and the PQ codebooks share one Lloyd fit: at
    // m = 1 the single subspace is the whole vector, so the session
    // cell layer must equal the independent replay bit-for-bit
    val vecs = graft.Tables.embeddings(spark, sf("0.001"))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val engine = Ivf.fittedCentroids(spark, sf("0.001"), 16, 2)
    val replay = Replay.fit(vecs, 1, 16, 2)(0)
    assert(java.util.Arrays.deepEquals(
      engine.asInstanceOf[Array[AnyRef]], replay.asInstanceOf[Array[AnyRef]]))
  }

  test("fit + encode + ADC agree with the in-memory replay on a random corpus") {
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 60L).map { id =>
      id -> Array.fill(16)(rnd.nextFloat() * 2f - 1f)
    }
    val (m, k, iters, topk) = (4, 8, 2, 5)
    val books = Ann.fit(frame(vecs), m, k, iters)
    val replayBooks = Replay.fit(vecs, m, k, iters)
    assert(java.util.Arrays.deepEquals(
      books.asInstanceOf[Array[AnyRef]], replayBooks.asInstanceOf[Array[AnyRef]]))
    val queries = vecs.filter(_._1 < 3)
    val enc = Ann.withCodes(frame(vecs), books)
      .select(col("vec_id"), col("codes"))
    val engine = Pq.adcTopKFrom(enc, queries, books, topk)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(engine == Replay.adcTopK(vecs, queries, books, topk))
  }

  test("exactly-quantizable corpus: codebooks converge to the atoms, ADC is the exact IP") {
    // 8 atom vectors on a 1/1024 grid (exact as float AND as 12dp
    // decimal, so the decimal mean reproduces each atom bit-for-bit),
    // replicated 5x: with k = 8 codes per subspace every subvector
    // quantizes losslessly and ADC == true inner product.
    val rnd = new scala.util.Random(7)
    val atoms = Array.fill(8)(Array.fill(8)((rnd.nextInt(2049) - 1024).toFloat / 1024f))
    val vecs = (0L until 40L).map(id => id -> atoms((id % 8).toInt))
    val books = Ann.fit(frame(vecs), 2, 8, 2)
    val queries = vecs.filter(_._1 < 2)
    val enc = Ann.withCodes(frame(vecs), books)
    val engine = Pq.adcTopKFrom(enc.select(col("vec_id"), col("codes")),
        queries, books, 3)
      .as[(Long, Long, Long, Double)].collect()
    // every reported score equals the exact inner product of the two
    // original vectors (quantization error is zero by construction),
    // accumulated the ADC way: per-subspace partial dots, then the
    // ascending-s fold — float addition is not associative, so the
    // expectation must mirror the fold shape, not a flat sum
    val byId = vecs.toMap
    engine.foreach { case (qid, nbr, _, adc) =>
      val (q, v) = (byId(qid), byId(nbr))
      var ip = 0.0
      for (s <- 0 until 2) {
        var p = 0.0; var i = s * 4
        while (i < s * 4 + 4) { p += q(i).toDouble * v(i).toDouble; i += 1 }
        ip += p
      }
      assert(adc == Replay.r4(ip), s"q$qid n$nbr: adc $adc vs exact $ip")
    }
  }

  test("IVF-ADC is plain ADC over the probed cells") {
    // the composition invariant (the IVF family's probe ≡ brute-over-
    // the-probed-cells rule, one level up): cell pruning only narrows
    // each query's candidates to its DeployedNProbe nearest cells
    val d = sf("0.001")
    val cents = Ivf.fittedCentroids(spark, d, Ann.Cells, Ann.DefaultIters)
    val books = Pq.fittedCodebooks(spark, d)
    val enc = Pq.ivfEncodedRaw(spark, d)
    val queries = graft.Tables.embeddings(spark, d).filter(col("vec_id") < Ann.NQueries)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val plain = queries.flatMap { case (qid, qv) =>
      val probes = Replay.nearest(cents, qv, Pq.DeployedNProbe)
      Pq.adcTopKFrom(enc.filter(col("cluster").isin(probes: _*)).select("vec_id", "codes"),
          Seq(qid -> qv), books, Ann.TopK)
        .as[(Long, Long, Long, Double)].collect()
    }.toSet
    val ivf = Pq.ivfAdcTopK(spark, d).as[(Long, Long, Long, Double)].collect().toSet
    assert(ivf.size == Ann.NQueries * Ann.TopK && ivf == plain)
  }

  test("residual IVFADC matches a driver replay of the full pipeline") {
    val d = sf("0.001")
    val (m, k, topk) = (8, 16, 5)
    val cents = Ivf.fittedCentroids(spark, d, 16, 2)
    val vecs = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    // driver replay: cell assignment (Replay.code IS the argmin-with-
    // lowest-tie semantics), float-cast residuals, the SAME Replay.fit,
    // then celldot + residual-ADC ranking
    val resid = vecs.map { case (id, v) =>
      val c = Replay.code(cents, v)
      (id, c, v.indices.map(i => (v(i).toDouble - cents(c)(i)).toFloat).toArray)
    }
    val books = Replay.fit(resid.map { case (id, _, r) => (id, r) }, m, k, 2)
    val sub = 64 / m
    val codes = resid.map { case (id, c, r) =>
      (id, c, Array.tabulate(m)(s => Replay.code(books(s), r.slice(s * sub, (s + 1) * sub))))
    }
    val expect = vecs.filter(_._1 < 10).flatMap { case (qid, qv) =>
      val probes = Replay.nearest(cents, qv, Pq.DeployedNProbe).toSet
      val lut = Array.tabulate(m, k) { (s, c) =>
        var acc = 0.0; var i = 0
        while (i < sub) { acc += qv(s * sub + i).toDouble * books(s)(c)(i); i += 1 }
        acc
      }
      codes.filter { case (id, cell, _) => id != qid && probes(cell) }.map { case (id, cell, cs) =>
        var cd = 0.0; var i = 0
        while (i < 64) { cd += qv(i).toDouble * cents(cell)(i); i += 1 }
        var score = cd
        for (s <- 0 until m) score += lut(s)(cs(s))
        (id, Replay.r4(score))
      }.sortBy { case (id, sc) => (-sc, id) }.take(topk).zipWithIndex
        .map { case ((id, sc), r) => (qid, id, (r + 1).toLong, sc) }
    }.toSet
    val engine = Pq.ivfAdcResidualTopK(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(engine == expect)
  }

  test("recall vs brute reports one row per query, bounded in [0, 1]") {
    val rows = Pq.recallVsBrute(spark, sf("0.001"))
      .as[(Long, Double)].collect()
    assert(rows.length == 10)
    assert(rows.forall { case (_, r) => r >= 0.0 && r <= 1.0 })
  }

  test("recall stays a true fraction when topk exceeds the corpus") {
    // a corpus under topk (5) shortens BOTH lists: q0's brute list
    // holds 3 neighbours, all found, q1's holds 2, one found. The gate
    // q136 runs divides by the brute list; dividing by topk (the
    // pre-fix denominator) would report 0.6 and 0.2 here.
    val brute = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (1L, 2L)).toDF("qid", "nbr_id")
    val ann = Seq((0L, 3L), (0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L)).toDF("qid", "nbr_id")
    val rows = Ann.recall(ann, brute).as[(Long, Double)].collect().toMap
    assert(rows == Map(0L -> 1.0, 1L -> 0.5), s"recall must divide by the brute list, got $rows")
  }

  private def Tables_embeddings(): Seq[(Long, Array[Float])] =
    graft.Tables.embeddings(spark, sf("0.001"))
      .select(col("vec_id"), col("embedding")).limit(64)
      .as[(Long, Array[Float])].collect().toSeq
}
