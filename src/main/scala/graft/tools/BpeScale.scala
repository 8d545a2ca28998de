package graft.tools

/** Tokenizer-scale BPE measurement (r14 verdict item 6) — two runs,
  * results recorded in PLANS.md:
  *
  *  1. LAKE FIT: [[graft.operators.TextOps.learnedMerges]] on a scale
  *     lake with a 32k-merge request. The driver lakes' text is
  *     synthetic with a tiny closed vocabulary (~3.1k distinct words at
  *     100×), so the fit SATURATES long before 32k — the honest outputs
  *     are the constant-job fit wall, the saturation point, and the
  *     q160 fertility shift (layer default of 10 merges vs the
  *     saturated table) through the batch-checkpointed apply.
  *
  *  2. FITTER STRESS at the guard ceiling: [[graft.operators.TextOps
  *     .bpeFitLocal]] over a DETERMINISTIC Zipf-distributed
  *     word-frequency table of exactly `BpeMaxLocalVocab` rows with the
  *     full 32k merge budget — a microbenchmark of the in-memory fitter
  *     alone, at the largest input the local path accepts (the table is
  *     synthetic and clearly labeled so; it never feeds a query or an
  *     oracle). Words are base-26 renderings of their rank, so the
  *     table has the shared prefix/suffix structure real vocabulary
  *     gives a merge loop.
  *
  * Usage: `runMain graft.tools.BpeScale [merges] [lakeDir]`. */
object BpeScale {

  def main(args: Array[String]): Unit = {
    val merges = if (args.nonEmpty) args(0).toInt else 32768
    val dir = if (args.length > 1) args(1) else "target/scale-sf10"
    val meter0 = graft.HostMeter.mark()
    val spark = graft.GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 1. lake fit + fertility shift
    val t0 = System.nanoTime()
    val table = graft.operators.TextOps.learnedMerges(spark, dir, merges)
    val fitWall = (System.nanoTime() - t0) / 1e9
    println(f"[bpe] lake fit: requested $merges%d merges -> learned " +
      f"${table.length}%d (vocabulary-saturated), wall $fitWall%.2f s ($dir)")
    def fert(m: Int): Seq[(String, Double, Double)] =
      graft.operators.TextOps.tokenizerFertility(spark, dir, m)
        .select("lang", "fertility", "chars_per_subword")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    val f10 = fert(10)
    val t1 = System.nanoTime()
    val fSat = fert(merges)
    val applyWall = (System.nanoTime() - t1) / 1e9
    f10.zip(fSat).foreach { case ((lang, fa, ca), (_, fb, cb)) =>
      println(f"[bpe] fertility $lang%-4s 10-merge $fa%.4f " +
        f"(chars/subword $ca%.4f) -> saturated $fb%.4f ($cb%.4f)")
    }
    println(f"[bpe] saturated fertility pass (apply ${table.length}%d merges " +
      f"over the vocab + corpus rollup): $applyWall%.2f s")

    // 2. fitter stress at the ceiling
    val n = graft.operators.TextOps.BpeMaxLocalVocab
    def word(i: Int): String = {
      val sb = new StringBuilder
      var x = i + 26 * 26 // >= 3 letters so every word can merge
      while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
      sb.toString
    }
    val freqs = (0 until n).map(i => (word(i), math.max(n.toLong / (i + 1), 1L)))
    val t2 = System.nanoTime()
    val stress = graft.operators.TextOps.bpeFitLocal(freqs, merges)
    val stressWall = (System.nanoTime() - t2) / 1e9
    println(f"[bpe] fitter stress: $n%d-word Zipf table, $merges%d merges " +
      f"learned ${stress.length}%d, wall $stressWall%.2f s")
    println("[bpe] " + graft.HostMeter.provenanceJson(meter0, graft.HostMeter.mark()))
    spark.stop()
  }
}
