package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("minhash LSH candidates recover the exact Jaccard pairs (recall)") {
    val exact = Dedup.jaccardPairs(spark, sf("0.01"))
      .select("doc_i", "doc_j").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(spark, sf("0.01"))
      .select("doc_i", "doc_j").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // LSH verifies candidates with exact Jaccard → subset; at 16 bands × 4
    // rows and j ≥ 0.5 expected recall ≈ 1-(1-0.5^4)^16 ≈ 0.645 per pair,
    // but planted dups sit at j ≈ 0.99 where recall ≈ 1. Demand full
    // recovery on this fixture.
    assert(lsh == exact, s"missed: ${exact -- lsh}, extra: ${lsh -- exact}")
  }

  test("simhash banding is exact at hamming <= 3 (brute-force oracle)") {
    val sig = Dedup.simhashSignatures(spark, sf("0.01")).cache()
    val brute = sig.as("x").join(sig.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("h"))
      .filter($"h" <= 3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val banded = Dedup.simhashPairs(spark, sf("0.01"))
      .select("doc_i", "doc_j").as[(Long, Long)].collect().toSet
    assert(banded == brute, s"missed: ${brute -- banded}, extra: ${banded -- brute}")
    assert(banded.nonEmpty, "fixture should contain simhash near-dups")
  }

  test("near-dup clusters equal union-find over the exact pair graph") {
    val labels = Dedup.nearDupClusters(spark, sf())
      .as[(Long, Long)].collect().toMap
    val pairs = Dedup.jaccardPairs(spark, sf())
      .select($"doc_i", $"doc_j").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs")
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    labels.foreach { case (doc, lbl) =>
      assert(lbl == find(doc), s"doc $doc: engine $lbl vs union-find ${find(doc)}")
    }
    // canonical representative is the component min and is its own label
    labels.values.foreach(l => assert(labels(l) == l))
  }

  // --- planted stop-shingle corpus: exercises the DF cap, the
  // recall-neutral prefilter, and the exact-edge union, none of which
  // the shipped fixtures reach (their max df = 25 < 64) ---

  /** 100 identical boilerplate copies (every shingle df ≥ 100 > cap) +
    * one near-dup pair that shares low-df shingles alongside the
    * boilerplate. */
  private def plantedDocs = {
    val boiler = "all rights reserved by example corp limited company"
    val copies = (0L until 100L).map(i => (1000L + i, boiler))
    val pair = Seq(
      (1L, s"unique snippet alpha beta gamma $boiler"),
      (2L, s"unique snippet alpha beta gamma $boiler extra"))
    (copies ++ pair).toDF("doc_id", "text")
  }

  test("DF cap: high-df shingles leave candidate generation; low-df survivors report exact Jaccard") {
    // the capped_postings layer, built over the planted corpus written
    // as a one-table lake
    val lake = java.nio.file.Files.createTempDirectory("dfcap_lake").toString
    plantedDocs.write.parquet(s"$lake/documents.parquet")
    val kept = Dedup.materializedCappedPostings(spark, lake)
      .select("s").distinct().as[String].collect().toSet
    // every purely-boilerplate shingle (df >= 100) must be capped out
    val boilerOnly = "rights reserved by"
    assert(!kept.contains(boilerOnly), s"df>cap shingle '$boilerOnly' survived the cap")
    // the unique-prefix shingles (df = 2) must survive
    assert(kept.contains("unique snippet alpha"), "low-df shingle was capped")

    val sh = Dedup.shingledFrom(plantedDocs)
    val capped = Dedup.jaccardPairsFrom(sh, Dedup.DefaultMaxDf)
      .as[(Long, Long, Double)].collect().toSet
    val uncapped = Dedup.jaccardPairsFrom(sh, Long.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    // the (1,2) pair survives via its low-df shingles and its Jaccard is
    // scored on the FULL shingle sets — identical to the uncapped run
    val survivor = capped.find(p => p._1 == 1L && p._2 == 2L)
    assert(survivor.isDefined, "low-df survivor pair lost under the cap")
    assert(uncapped.contains(survivor.get), "capped run reported a non-exact Jaccard")
    // the documented tradeoff: pairs whose EVERY shared shingle is a
    // stop-shingle (the 100 identical copies, pairwise J = 1.0) emit no
    // SIMILARITY candidates at all under the cap...
    assert(!capped.exists(p => p._1 >= 1000L), "all-stop-shingle pair unexpectedly survived")
    assert(uncapped.exists(p => p._1 >= 1000L && p._3 == 1.0), "uncapped baseline sanity")
  }

  test("exact-dup edges close the identical-copy hole: capped boilerplate copies still cluster") {
    val labels = Dedup.nearDupClustersFrom(plantedDocs)
      .as[(Long, Long)].collect().toMap
    // ...but the exact-edge union still clusters the identical copies
    (1000L until 1100L).foreach(d =>
      assert(labels(d) == 1000L, s"boilerplate copy $d not clustered (label ${labels(d)})"))
    // and the keep-one reduction sees ONE representative absorbing 100
    val groups = labels.groupBy(_._2).view.mapValues(_.size).toMap
    assert(groups(1000L) == 100, s"expected 100-doc cluster, got ${groups(1000L)}")
    // the low-df near-dup pair clusters too
    assert(labels(1L) == 1L && labels(2L) == 1L)
  }

  test("incremental dedup: sha2 bypass rejects byte-identical copies of all-capped boilerplate") {
    val boiler = "all rights reserved by example corp limited company"
    // 100-copy boilerplate split 70 existing / 30 incoming: every
    // shingle df = 100 > cap, so the SIMILARITY path emits zero
    // candidates for them — the sha2 bypass must reject the incoming
    // copies anyway (the round-8 recall hole)
    val existing = (0L until 70L).map(i => (i, boiler)) ++ Seq(
      (900L, "unique snippet alpha beta gamma delta"))
    val incoming = (1000L until 1030L).map(i => (i, boiler)) ++ Seq(
      // near-dup of existing 900 via low-df shingles (j = 4/5 = 0.8):
      // the similarity path must still fire under the cap
      (1040L, "unique snippet alpha beta gamma delta epsilon"),
      // genuinely new: survives
      (1050L, "completely fresh content sharing no phrases whatsoever"))
    val docs = (existing ++ incoming).toDF("doc_id", "text")
      .withColumn("n_chars", length($"text").cast("long"))
    val kept = Dedup.incrementalNewFrom(docs, splitId = 1000L)
      .select("doc_id").as[Long].collect().toSet
    (1000L until 1030L).foreach(d =>
      assert(!kept.contains(d), s"byte-identical boilerplate copy $d kept as new"))
    assert(!kept.contains(1040L), "low-df near-dup not rejected by the similarity path")
    assert(kept == Set(1050L), s"expected only the fresh doc, got $kept")
  }

  test("incremental exact-dup bypass: star-edge derivation ≡ sha2 semi-join") {
    // the r17 cut replaced the per-invocation sha2(text) semi-join with
    // a filter over the exact-edge star (doc_i < split ≤ doc_j) — pin
    // the set equivalence on a corpus exercising every case: cross-
    // split copies (flagged), intra-batch-only copies (not flagged:
    // group min is incoming), existing-only copies (not incoming),
    // and unique docs on both sides
    val docs = Seq(
      (0L, "existing copy one"), (1L, "existing copy one"), // existing-only dup group
      (2L, "crosses the split boundary"),
      (3L, "unique existing document"),
      (1000L, "crosses the split boundary"),                 // cross-split copy
      (1001L, "crosses the split boundary"),                 // second cross-split copy
      (1002L, "incoming only duplicate"), (1003L, "incoming only duplicate"),
      (1004L, "unique incoming document"))
      .toDF("doc_id", "text")
    val splitId = 1000L
    val viaEdges = Dedup.exactEdgesFrom(docs)
      .filter($"doc_i" < splitId && $"doc_j" >= splitId)
      .select($"doc_j").as[Long].collect().sorted.toSeq
    val viaSha = docs.filter($"doc_id" >= splitId)
      .select($"doc_id", sha2($"text", 256).as("th"))
      .join(docs.filter($"doc_id" < splitId).select(sha2($"text", 256).as("th")),
        Seq("th"), "left_semi")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(viaEdges == viaSha, s"edge-derived $viaEdges != semi-join $viaSha")
    assert(viaEdges == Seq(1000L, 1001L))
  }

  test("containment: DF cap keeps the low-df embedded doc, misses the all-capped pair, scores exactly") {
    val boiler = "all rights reserved by example corp limited company"
    val docs = ((0L until 100L).map(i => (i, boiler)) ++ Seq(
      // short doc embedded in a longer one, reachable via low-df
      // shingles despite the boilerplate tail
      (500L, "unique snippet alpha beta gamma"),
      (501L, s"unique snippet alpha beta gamma $boiler"))).toDF("doc_id", "text")
    val sh = Dedup.shingledFrom(docs)
    val capped = TextOps.containmentPairsFrom(sh, Dedup.DefaultMaxDf)
      .as[(Long, Long, Double)].collect().toSet
    val uncapped = TextOps.containmentPairsFrom(sh, Long.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    // 500's every shingle is a shingle of 501 → containment(500→501) = 1.0,
    // found via the df=2 "unique snippet ..." shingles, scored on the
    // FULL sets — identical value to the uncapped run
    val hit = capped.find(c => c._1 == 500L && c._2 == 501L)
    assert(hit.isDefined, "embedded doc lost under the cap")
    assert(hit.get._3 == 1.0, s"containment not exact: ${hit.get}")
    assert(uncapped.contains(hit.get), "capped run reported a non-exact containment")
    // the documented miss mode: boilerplate-only pairs (mutual
    // containment 1.0) share only df>cap shingles → no candidates
    assert(!capped.exists(c => c._1 < 100L && c._2 < 100L),
      "all-capped pair unexpectedly survived")
    assert(uncapped.exists(c => c._1 < 100L && c._2 < 100L && c._3 == 1.0),
      "uncapped baseline sanity")
  }

  test("prefilter rounding slack keeps pairs whose 4dp score rounds up to the threshold") {
    // Nothing here is capped (every df <= 2), so the prefilter's bound is
    // the exact score itself; a true score just under the threshold that
    // rounds up to it at 4dp must survive the prefilter to be kept.
    def words(tag: String, n: Int) = (0 until n).map(k => s"$tag$k")
    def doc(run: Seq[String], tag: String, n: Int) = (run ++ words(tag, n)).mkString(" ")
    // Jaccard: two 15,001-word docs sharing a 10,001-word run have 14,999
    // shingles each and share the run's 9,999 (the bridging shingles
    // differ): J = 9,999 / 19,999 = 0.4999750 -> 0.5000
    val jrun = words("j", 10001)
    val (a, b) = (doc(jrun, "a", 5000), doc(jrun, "b", 5000))
    val jac = Dedup.jaccardPairsFrom(
        Dedup.shingledFrom(Seq((1L, a), (2L, b)).toDF("doc_id", "text")), Dedup.DefaultMaxDf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(jac == Seq((1L, 2L, 0.5)), s"rounds-up pair lost: $jac")
    // the same pair across the split: the incoming copy is rejected
    val docs = Seq((1L, a), (1000L, b), (1001L, "fresh incoming text"))
      .toDF("doc_id", "text").withColumn("n_chars", length($"text").cast("long"))
    val kept = Dedup.incrementalNewFrom(docs, splitId = 1000L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1001L), s"rounds-up incoming copy kept as new: $kept")
    // containment: two 20,003-word docs sharing a 16,002-word run have
    // 20,001 shingles each and share 16,000: 16,000 / 20,001 = 0.7999600
    // -> 0.8000 in both directions
    val crun = words("c", 16002)
    val sh = Dedup.shingledFrom(
      Seq((1L, doc(crun, "s", 4001)), (2L, doc(crun, "l", 4001))).toDF("doc_id", "text"))
    val cont = TextOps.containmentPairsFrom(sh, Dedup.DefaultMaxDf)
      .as[(Long, Long, Double)].collect().toSet
    assert(cont == Set((1L, 2L, 0.8), (2L, 1L, 0.8)), s"rounds-up containment lost: $cont")
  }

  test("cluster operators degrade gracefully when no pairs exist") {
    // no two docs share a word, so no shingle and no text: an empty pair
    // graph and no exact edge → every doc its own cluster
    val disjoint = (0L until 50L).map(i =>
      (i, (0 until 6).map(k => s"w${i}_$k").mkString(" "))).toDF("doc_id", "text")
    val labels = Dedup.nearDupClustersFrom(disjoint).as[(Long, Long)].collect()
    assert(labels.length == 50 && labels.forall { case (d, c) => d == c })
    // clusterKeep is its labels' non-singleton clusters: none on the
    // disjoint corpus (above), exactly the grouped labels on the fixture
    val grouped = Dedup.nearDupClusters(spark, sf()).as[(Long, Long)].collect()
      .groupBy(_._2).map { case (c, m) => (c, m.length.toLong) }.filter(_._2 >= 2).toSet
    assert(grouped.nonEmpty)
    assert(Dedup.clusterKeep(spark, sf()).as[(Long, Long)].collect().toSet == grouped)
  }

  test("label propagation converges on a 200-node chain within 20 rounds (pointer jumping)") {
    // A pure chain 0-1-2-...-199 has diameter 199: plain neighbor-min
    // propagation would need ~199 rounds; path halving needs O(log n).
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_i", "doc_j")
    val labels = Dedup.propagateLabels(chain)
      .as[(Long, Long)].collect()
    assert(labels.length == 200)
    assert(labels.forall(_._2 == 0L), "every chain node must label to the min")
  }

  test("corpus filter keeps only canonical, quality, English docs") {
    val kept = TextOps.corpusFilter(spark, sf()).select($"doc_id")
      .as[Long].collect().toSet
    assert(kept.nonEmpty)
    val clusters = Dedup.nearDupClusters(spark, sf()).as[(Long, Long)]
      .collect().toMap
    kept.foreach(d => assert(clusters(d) == d, s"doc $d kept but not canonical"))
    // every dropped near-dup's canonical sibling decides for the cluster:
    // no cluster contributes more than one kept doc
    assert(kept.map(clusters).size == kept.size)
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val out = docs.groupBy($"text")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select($"keep_id", $"dup_cnt")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("bucketed embedding pairs: subset of exact, recall floor, no cartesian in plan") {
    val exact = Dedup.embeddingPairs(spark, sf("0.01"), 0.4)
      .select("vec_i", "vec_j").as[(Long, Long)].collect().toSet
    val bucketed = Dedup.embeddingPairsBucketed(spark, sf("0.01"), 0.4)
    val got = bucketed.select("vec_i", "vec_j").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain cos >= 0.4 pairs")
    // candidates are verified with the exact cosine -> strict subset
    assert((got -- exact).isEmpty, s"false positives: ${got -- exact}")
    // 8 bands x 6 planes at cos 0.4 (66 deg, near-orthogonal - the
    // hardest regime for any LSH family): measured recall 0.38/0.42 on
    // the sf0.001/sf0.01 fixtures; floor set below both. True near-dups
    // (cos >= 0.8) would see ~0.90 with the same parameters.
    val recall = got.size.toDouble / exact.size
    assert(recall >= 0.25, s"recall $recall (${got.size}/${exact.size})")
    // the whole point: the physical plan must not contain an
    // unrestricted pair join
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"quadratic join in plan:\n$plan")
  }

  test("per-band offset SRP signatures are bit-identical to packed-signature slices") {
    // The r12 band-key refactor (offset signatures generalize past 64
    // total planes for the derived geometry) must not move a single
    // bucket at the classic width: band b's key from
    // srp_sig_portable(emb, 6, b*6) must equal bits [6b, 6b+6) of the
    // old packed 48-plane signature, vector for vector.
    val checks = (0 until 8).map(b =>
      graft.functions.srpSigPortable(col("embedding"), 6, b * 6) ===
        shiftright(graft.functions.srpSigPortable(col("embedding"), 48), b * 6)
          .bitwiseAND(lit(63L)))
    val bad = Similarity.spread(graft.Tables.embeddings(spark, sf("0.01")))
      .filter(!checks.reduce(_ && _)).count()
    assert(bad == 0, s"$bad vectors with diverging band keys")
  }

  test("derived SRP band width follows the occupancy ladder") {
    // <= 8192 vectors (every driver fixture): the classic 6 — the
    // regime where the q23 oracle's hard-coded replay is valid
    assert(Dedup.deriveSrpPlanes(500) == 6)
    assert(Dedup.deriveSrpPlanes(Dedup.SrpOracleMaxVectors) == 6)
    // one plane per doubling past the ceiling
    assert(Dedup.deriveSrpPlanes(Dedup.SrpOracleMaxVectors + 1) == 7)
    assert(Dedup.deriveSrpPlanes(50000) == 9)   // the 10x ScaleLake lake
    assert(Dedup.deriveSrpPlanes(1000000) == 13)
    // width cap: key size stops growing even for absurd corpora
    assert(Dedup.deriveSrpPlanes(Long.MaxValue / 2) == 14)
  }

  test("q23's derived default equals the pinned classic geometry on the fixture") {
    val d = sf("0.01")
    assert(Dedup.deriveSrpPlanes(graft.Tables.countOf(spark, d, "embeddings")) == 6,
      "derived width diverged from 6 below the oracle ceiling")
    val derived = Dedup.embeddingPairsBucketed(spark, d, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    // the pinned geometry's reference: the exact pairs that share a
    // band key of the classic 8 bands x 6 planes
    val keys = Dedup.srpBandKeys(graft.Tables.embeddings(spark, d), 6, 8)
      .select($"vec_id", $"band", $"bkey".cast("long")).as[(Long, Int, Long)].collect()
    val cands: Set[(Long, Long)] = keys.groupBy(k => (k._2, k._3)).values.flatMap { g =>
      val ids = g.map(_._1).sorted.toSeq
      for (i <- ids; j <- ids if i < j) yield (i, j)
    }.toSet
    val pinned = Dedup.embeddingPairs(spark, d, 0.4).as[(Long, Long, Double)].collect()
      .filter { case (i, j, _) => cands((i, j)) }.toSet
    assert(derived.nonEmpty && derived == pinned,
      "the derived geometry's pairs differ from the classic 8x6 banding's")
  }

  test("Manku multi-table SimHash emits exactly the classic pair set") {
    // Both schemes are EXACT at hamming <= 3 (pigeonhole over 4x15
    // single bands; any-untouched-3-of-6-bands over the 20 Manku
    // tables), so the filtered output must be scheme-independent —
    // which is also why the q22 oracle needs no ceiling guard when
    // simhashPairs derives the scheme from corpus size.
    assert(Dedup.SimHashMankuTables.length == 20) // C(6,3)
    assert(Dedup.SimHashMankuTables.forall(_.map(_._2).sum == 30))
    val sig = Dedup.simhashSignatures(spark, sf("0.01")).cache()
    def pairs(tables: Seq[Seq[(Int, Int)]]) =
      Dedup.simhashPairsScheme(sig, tables, 3)
        .select("doc_i", "doc_j", "hamming")
        .as[(Long, Long, Long)].collect().toSet
    val classic = pairs(Dedup.SimHashClassicTables)
    val manku = pairs(Dedup.SimHashMankuTables)
    assert(classic.nonEmpty, "fixture should contain hamming <= 3 pairs")
    assert(manku == classic,
      s"schemes diverged: only-classic ${classic -- manku}, only-manku ${manku -- classic}")
    sig.unpersist()
  }

  test("portable SRP weight formula matches its documented arithmetic") {
    // the same expression the DuckDB oracle embeds - if this drifts, the
    // q23 oracle silently diverges
    for (p <- 0 until 48; i <- 0 until 64) {
      val w = graft.functions.PortableSrpSig.weight(p, i)
      val expect = (((p.toLong * 1024 + i) * 2654435761L) % 2000001L - 1000000L) / 1e6
      assert(w == expect)
      assert(w >= -1.0 && w <= 1.0)
    }
  }

  test("repetition stats are consistent quality signals") {
    val r = TextOps.repetitionStats(spark, sf("0.01"))
      .as[(Long, Double, Double, Double)].collect()
    assert(r.length == 500)
    r.foreach { case (id, topUni, topBi, hapax) =>
      assert(topUni > 0.0 && topUni <= 1.0, s"doc $id top_unigram $topUni")
      assert(topBi > 0.0 && topBi <= 1.0, s"doc $id top_bigram $topBi")
      assert(hapax >= 0.0 && hapax <= 1.0, s"doc $id hapax $hapax")
    }
    // the corpus repeats words heavily (closed vocab) - the signal must
    // actually separate docs, not collapse to a constant
    assert(r.map(_._2).distinct.length > 100, "top_unigram_frac is degenerate")
  }

  test("mixture weights renormalize shares and upsample the tail languages") {
    val w = TextOps.mixtureWeights(spark, sf("0.01"))
      .as[(String, Double, Double, Double)].collect()
    assert(w.length == 5)
    assert(math.abs(w.map(_._3).sum - 1.0) < 1e-4, s"weights sum ${w.map(_._3).sum}")
    // sqrt smoothing: every language with below-average share gets
    // oversampled (>1), the dominant one damped (<1)
    val avg = 1.0 / w.length
    w.foreach { case (lang, share, _, over) =>
      if (share < avg) assert(over > 1.0, s"$lang share $share oversample $over")
      if (share > 2 * avg) assert(over < 1.0, s"$lang share $share oversample $over")
    }
  }

  test("containment dominates symmetric Jaccard on the shared pair graph") {
    val jac = Dedup.jaccardPairs(spark, sf("0.01"))
      .select("doc_i", "doc_j").as[(Long, Long)].collect().toSet
    val cont = TextOps.containmentPairs(spark, sf("0.01"))
      .as[(Long, Long, Double)].collect()
    assert(cont.nonEmpty)
    // containment = |A inter B| / |A| >= jaccard for the same pair, so every
    // jaccard>=0.8 pair must appear in some direction here; and the planted
    // near-identical pairs (j >= 0.9) must be mutual containments
    val dirs = cont.map(c => (c._1, c._2)).toSet
    val mutual = Dedup.jaccardPairs(spark, sf("0.01")).filter($"jaccard" >= 0.9)
      .select("doc_i", "doc_j").as[(Long, Long)].collect()
    assert(mutual.nonEmpty)
    mutual.foreach { case (i, j) =>
      assert(dirs.contains((i, j)) && dirs.contains((j, i)),
        s"planted near-dup ($i,$j) not mutually contained")
    }
    assert(jac.nonEmpty)
  }

  test("dup spans: cross-doc blocks, intra-doc repeats, overlap merge") {
    val w = (1 to 30).map(i => s"w$i")
    val block = (1 to 10).map(i => s"b$i").mkString(" ")
    // doc 1: 5 unique tokens then the shared block at pos 6..15
    val d1 = (w.take(5) :+ block).mkString(" ")
    // doc 2: the same block at pos 1..10, then unique tail
    val d2 = (block +: w.slice(5, 12)).mkString(" ")
    // doc 3: all-unique tokens, >= 8 of them -> no spans
    val d3 = w.slice(12, 26).mkString(" ")
    // doc 4: one 8-gram repeated INTRA-doc at pos 1 and pos 17,
    // separated by 8 unique tokens (gap 16 > 7 -> two spans)
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val d4 = Seq(rep, (1 to 8).map(i => s"x$i").mkString(" "), rep).mkString(" ")
    // doc 5: shorter than one window -> excluded entirely
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4), (5L, "a b c"))
      .toDF("doc_id", "text")
    val got = Dedup.dupSpansFrom(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_pos"),
        r.getAs[Long]("end_pos"), r.getAs[Long]("span_tokens"))).toSet
    // d1's three consecutive duplicated window starts (6,7,8) must fuse
    // into ONE maximal span covering exactly the shared 10-token block
    assert(got == Set(
      (1L, 6L, 15L, 10L),
      (2L, 1L, 10L, 10L),
      (4L, 1L, 8L, 8L),
      (4L, 17L, 24L, 8L)), s"unexpected spans: $got")
  }

  test("dup spans: randomized corpora agree with a brute-force replay") {
    val k = Dedup.DupSpanGram
    val rnd = new scala.util.Random(0xd5b5)
    // tiny vocabulary + short docs force plenty of genuine window
    // collisions, the regime where off-by-one island bugs would hide
    val corpora = Seq(3, 5, 8).map { vocab =>
      (1 to 60).map { id =>
        val n = 4 + rnd.nextInt(28)
        (id.toLong, (1 to n).map(_ => s"v${rnd.nextInt(vocab)}").mkString(" "))
      }
    }
    for (corpus <- corpora) {
      // reference: positional k-grams, global multiset count, per-doc
      // merge of surviving positions with gap <= k-1
      val grams = corpus.flatMap { case (id, text) =>
        val t = text.split(" ")
        if (t.length < k) Seq.empty
        else (0 to t.length - k).map(i => (id, i + 1L, t.slice(i, i + k).toSeq))
      }
      val dup = grams.groupBy(_._3).filter(_._2.size >= 2).keySet
      val expect = grams.filter(g => dup(g._3)).groupBy(_._1).flatMap {
        case (id, ps) =>
          val sorted = ps.map(_._2).sorted
          val spans = sorted.tail.foldLeft(List((sorted.head, sorted.head))) {
            case ((s, e) :: rest, p) =>
              if (p - e <= k - 1) (s, p) :: rest else (p, p) :: (s, e) :: rest
            case (Nil, p) => List((p, p))
          }
          spans.map { case (s, e) => (id, s, e + k - 1, e + k - 1 - s + 1) }
      }.toSet
      val got = Dedup.dupSpansFrom(corpus.toDF("doc_id", "text")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("start_pos"),
          r.getAs[Long]("end_pos"), r.getAs[Long]("span_tokens"))).toSet
      assert(got == expect,
        s"mismatch: extra=${got -- expect} missing=${expect -- got}")
    }
  }

  test("dup-span layer: layered path equals inline, builds once") {
    val docs = graft.Tables.documents(spark, sf())
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(canon(Dedup.dupSpans(spark, sf())) ==
      canon(Dedup.dupSpansFrom(docs)), "layered span table diverges")
    assert(canon(Dedup.stripDupSpans(spark, sf())) ==
      canon(Dedup.stripDupSpansFrom(docs)), "layered strip diverges")
    // both consumers probe the SAME cached frame — the layer builds once
    assert(Dedup.materializedDupSpans(spark, sf()) eq
      Dedup.materializedDupSpans(spark, sf()), "layer rebuilt on re-entry")
  }

  test("span strip: cuts spans, passes clean docs, empties full dups") {
    val w = (1 to 30).map(i => s"w$i")
    val block = (1 to 10).map(i => s"b$i").mkString(" ")
    val head5 = w.take(5).mkString(" ")
    val d1 = s"$head5 $block"          // span at 6..15 -> keeps head5
    val tail7 = w.slice(5, 12).mkString(" ")
    val d2 = s"$block $tail7"          // span at 1..10 -> keeps tail7
    val d3 = w.slice(12, 26).mkString(" ") // unique -> unchanged
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (5L, "a b c"),
      (6L, block), (7L, block))        // 6/7 duplicate wholesale -> ""
      .toDF("doc_id", "text")
    val got = Dedup.stripDupSpansFrom(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"), r.getAs[String]("clean_text"))).toSet
    assert(got == Set(
      (1L, 15L, 10L, head5),
      (2L, 17L, 10L, tail7),
      (3L, 14L, 0L, d3),
      (5L, 3L, 0L, "a b c"),           // sub-window doc passes through
      (6L, 10L, 10L, ""),
      (7L, 10L, 10L, "")), s"unexpected strip: $got")
  }

  test("minhash estimator gate: agreement replays driver-side, error concentrated") {
    val out = Dedup.minhashEstimateGate(spark, sf()).collect()
    assert(out.nonEmpty)
    // the gate covers EXACTLY the verified pair layer
    assert(out.length == Dedup.materializedNearPairs(spark, sf()).count())
    val sigs = Dedup.minhashSignatures(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](r.fieldIndex("sig"))).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    out.foreach { r =>
      val agree = sigs(r.getLong(0)).zip(sigs(r.getLong(1)))
        .count { case (a, b) => a == b }.toLong
      assert(r.getLong(3) == agree, s"pair (${r.getLong(0)},${r.getLong(1)})")
      assert(r.getDouble(4) == r4(agree / 64.0))
      assert(r.getDouble(5) == r4(math.abs(r4(agree / 64.0) - r.getDouble(2))))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // Broder concentration: mean |est - J| well under 2 sigma(J=0.5) = 0.125
    val meanErr = out.map(_.getDouble(5)).sum / out.length
    assert(meanErr < 0.1, s"estimator mean error $meanErr - signatures broken?")
  }

  test("a bucketed-pairs frame outlives Layers.PerName later builds") {
    // q23's SRP index is its query's own checkpoint: PerName more
    // bucketed-pair frames over other corpora in the same session must
    // not release the first frame's blocks (a store entry under one
    // name would evict it, and the first frame would then fail on its
    // truncated lineage). Planted corpus: five orthogonal directions,
    // so exactly the same-direction pairs reach cosine 1.
    def lake(i: Int): String = {
      val d = s"target/test-srp-evict/$i"
      (0 until 40 + i).map(v => (v.toLong, Seq.tabulate(8)(j => if (j == v % 5) 1f else 0f)))
        .toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }
    val first = Dedup.embeddingPairsBucketed(spark, lake(0), 0.9)
    (1 to graft.Layers.PerName).foreach(i => Dedup.embeddingPairsBucketed(spark, lake(i), 0.9))
    val expected = for (a <- 0L until 40L; b <- a + 1 until 40L if a % 5 == b % 5) yield (a, b)
    assert(first.select("vec_i", "vec_j").as[(Long, Long)].collect().toSet == expected.toSet)
  }
}
