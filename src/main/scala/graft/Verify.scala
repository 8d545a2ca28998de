package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Shared with [[graft.tools.VerifyOne]] (via [[writeArtifacts]]) so
    * the two dumps can never drift on escaping rules. */
  private[graft] def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The `oracle_sql.json` + `manifest.json` pair both dump tools emit
    * for `tools/parity_check.py` — one writer, so a future escaping or
    * schema fix can't land in one tool and miss the other. The manifest
    * lists every declared query plus any that crashed, so the gate can
    * fail on MISSING outputs instead of silently skipping a broken
    * rows-only query; `min_rows` declares minimum output sizes for
    * rows-only queries (a declared-may-be-empty query is not a
    * failure). */
  private[graft] def writeArtifacts(outDir: String,
                                    oracles: Iterable[(String, String)],
                                    queryNames: Iterable[String],
                                    failed: Iterable[String],
                                    minRows: Map[String, Long]): Unit = {
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracles.map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
        .mkString("{", ",", "}"))
    val manifest = queryNames.toSeq.sorted.map(jsonQuote).mkString("[", ",", "]")
    val failedJson = failed.toSeq.sorted.map(jsonQuote).mkString("[", ",", "]")
    val minRowsJson = minRows.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonQuote(k)}:$v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      s"""{"queries":$manifest,"failed":$failedJson,"min_rows":$minRowsJson}""")
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the one session factory Bench and perfbench use: the gate checks
    // the semantics the benchmarks time
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        // Remove any output (stale from a previous run, or a partial
        // write) so a crashed query can never look green on disk.
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          rm(dir)
        }
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // The IVF-family oracles (q44/q127/q128/q129) replay the k-means
    // fit with k=16 and d=64 hard-pinned in SQL — valid only while the
    // fixture keeps deriveK(n)=16 (n <= 8192) and 64-dim embeddings.
    // If the driver regenerates testdata past either bound, drop those
    // oracles with a NAMED cause (they fall back to rows-only) instead
    // of letting them surface as hash mismatches that look like engine
    // regressions.
    val ivfOracleKeys = Set("q44_ann_ivf", "q127_knn_ivf",
      "q128_cluster_profile", "q129_semantic_keep", "q137_ann_ivf_pq",
      "q139_cell_balanced_keep", "q141_ann_ivfadc_residual")
      .intersect(SparkEntry.oracleSql.keySet)
    // q117's oracle is the brute-force (probe-all-equivalent) kNN; it
    // is only the engine's behavior while the corpus sits at or below
    // the probe-all exactness ceiling (deriveNProbe switches to the
    // sub-quadratic nProbe=4 configuration above it, where q127's
    // pinned-nProbe oracle is the checked surface). Guarded on the
    // corpus COUNT directly — the quantity deriveNProbe actually
    // branches on — not inferred via semanticK==16, which only implied
    // n <= 8192 while deriveK's 16-cell floor happened to equal the
    // probe-all ceiling; retuning either constant must not silently
    // decouple this guard from the engine's branch.
    val knnOracleKeys = Set("q117_knn_classify")
      .intersect(SparkEntry.oracleSql.keySet)
    // q23's oracle hard-codes the 6-plane band geometry; above the SRP
    // ceiling deriveSrpPlanes refines the bands (sub-quadratic bucket
    // occupancy) and the replay is no longer the engine's behavior.
    val srpOracleKeys = Set("q23_embedding_pairs")
      .intersect(SparkEntry.oracleSql.keySet)
    val embeddingCount: Option[Long] =
      try Some(Tables.countOf(spark, sfDir, "embeddings"))
      catch { case e: Throwable =>
        System.err.println(
          s"[verify] embeddings count failed (${e.getMessage}) — dropping corpus-pinned oracles")
        None
      }
    val knnPinsHold = embeddingCount.exists { n =>
      val ok = n <= graft.operators.Similarity.ProbeAllMaxVectors
      if (!ok) System.err.println(
        s"[verify] kNN probe-all pin violated (corpus n=$n > ceiling " +
          s"${graft.operators.Similarity.ProbeAllMaxVectors}: deriveNProbe " +
          s"selects the sub-quadratic path, brute-force oracle no longer " +
          s"the engine's behavior) — dropping pinned oracles: " +
          knnOracleKeys.toSeq.sorted.mkString(", "))
      ok
    }
    val srpPinsHold = embeddingCount.exists { n =>
      val ok = n <= graft.operators.Dedup.SrpOracleMaxVectors
      if (!ok) System.err.println(
        s"[verify] SRP band-geometry pin violated (corpus n=$n > ceiling " +
          s"${graft.operators.Dedup.SrpOracleMaxVectors}: deriveSrpPlanes " +
          s"refines the bands past the oracle's 6-plane replay) — " +
          s"dropping pinned oracles: ${srpOracleKeys.toSeq.sorted.mkString(", ")}")
      ok
    }
    // The PQ oracles (q135/q136) replay the per-subspace Lloyd fit
    // with the 8-subvector × 8-dim slicing (d = 64) hard-pinned in
    // SQL; Pq.DefaultCodes = 16 is a fixed config, not corpus-derived,
    // so dimension is the only fixture pin.
    val pqOracleKeys = Set("q135_ann_pq", "q136_pq_recall", "q137_ann_ivf_pq",
      "q141_ann_ivfadc_residual")
      .intersect(SparkEntry.oracleSql.keySet)
    val pqPinsHold =
      try {
        val d = Tables.embeddings(spark, sfDir)
          .selectExpr("size(embedding) AS d").limit(1).collect()(0).getInt(0)
        val ok = d == 64
        if (!ok) System.err.println(
          s"[verify] PQ fixture pin violated (dim=$d expected 64: the " +
            s"oracle's 8×8 subvector slicing no longer matches) — " +
            s"dropping pinned oracles: ${pqOracleKeys.toSeq.sorted.mkString(", ")}")
        ok
      } catch { case e: Throwable =>
        System.err.println(s"[verify] PQ pin check failed (${e.getMessage}) — dropping pinned oracles")
        false
      }
    val ivfPinsHold =
      try {
        val k = graft.operators.Ivf.semanticK(spark, sfDir)
        val d = Tables.embeddings(spark, sfDir)
          .selectExpr("size(embedding) AS d").limit(1).collect()(0).getInt(0)
        if (k != 16 || d != 64) {
          System.err.println(
            s"[verify] IVF fixture pins violated (semanticK=$k expected 16, " +
              s"dim=$d expected 64) — dropping pinned oracles: " +
              ivfOracleKeys.toSeq.sorted.mkString(", "))
          false
        } else true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] IVF pin check failed (${e.getMessage}) — dropping pinned oracles")
        false
      }
    // The LinUCB seed replay (q30/q31, and q41's deterministic-policy
    // AUC replay since r12) assumes the lineitem money columns are 2dp
    // rationals and quantities integral — that is what keeps every
    // scaled product round(xi*xj*1e12) >= 0.005 away from its rounding
    // boundary, so Spark and DuckDB can't disagree. If the driver
    // regenerates testdata at finer granularity, drop the pinned
    // oracles with a NAMED cause instead of surfacing hash mismatches.
    val luOracleKeys = Set("q30_linucb_seed", "q31_linucb_topk",
      "q41_policy_eval_linucb")
      .intersect(SparkEntry.oracleSql.keySet)
    val luPinsHold =
      try {
        val bad = Tables.lineitem(spark, sfDir).selectExpr(
          "max(abs(l_quantity - round(l_quantity))) AS q",
          "max(abs(l_extendedprice * 100 - round(l_extendedprice * 100))) AS p",
          "max(abs(l_discount * 100 - round(l_discount * 100))) AS d",
          "max(abs(l_tax * 100 - round(l_tax * 100))) AS t"
        ).collect()(0)
        val tol = 1e-6 // fp representation noise of exact 2dp values
        val ok = (0 until 4).forall(i => bad.getDouble(i) < tol)
        if (!ok) System.err.println(
          s"[verify] LinUCB fixture pins violated (money columns not 2dp: $bad) " +
            s"— dropping pinned oracles: ${luOracleKeys.toSeq.sorted.mkString(", ")}")
        ok
      } catch { case e: Throwable =>
        System.err.println(s"[verify] LinUCB pin check failed (${e.getMessage}) — dropping pinned oracles")
        false
      }
    val oracles = SparkEntry.oracleSql --
      (if (ivfPinsHold) Set.empty[String] else ivfOracleKeys) --
      (if (knnPinsHold) Set.empty[String] else knnOracleKeys) --
      (if (srpPinsHold) Set.empty[String] else srpOracleKeys) --
      (if (luPinsHold) Set.empty[String] else luOracleKeys) --
      (if (pqPinsHold) Set.empty[String] else pqOracleKeys)
    writeArtifacts(outDir, oracles, SparkEntry.queries.keys, failed,
      SparkEntry.minRows)
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(", ")}")
    }
    spark.stop()
  }
}
