package graft
import java.nio.file.{Files, Paths}
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [query...]`; named
  * queries (through [[Bench.select]]) restrict the dump and its oracle
  * set to those names, under the same fixture pins. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The `oracle_sql.json` + `manifest.json` pair the dump emits for
    * `tools/parity_check.py`. The manifest lists every dumped query
    * plus any that crashed, so the gate can fail on MISSING outputs
    * instead of silently skipping a broken rows-only query. */
  private[graft] def writeArtifacts(outDir: String,
                                    oracles: Iterable[(String, String)],
                                    queryNames: Iterable[String],
                                    failed: Iterable[String]): Unit = {
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracles.map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
        .mkString("{", ",", "}"))
    val manifest = queryNames.toSeq.sorted.map(jsonQuote).mkString("[", ",", "]")
    val failedJson = failed.toSeq.sorted.map(jsonQuote).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      s"""{"queries":$manifest,"failed":$failedJson}""")
  }

  /** A fixture pin: oracles whose SQL hard-codes a property of the
    * testdata. `violation` is None while the lake keeps the property,
    * else the violated premise; when it is Some or throws, the pinned
    * oracles are dropped with that NAMED cause (they fall back to
    * rows-only) instead of surfacing as hash mismatches that look like
    * engine regressions when the driver regenerates testdata. */
  private final case class Pin(name: String, keys: Set[String], violation: () => Option[String])

  private def pins(spark: SparkSession, sfDir: String): Seq[Pin] = {
    lazy val n = Try(Tables.countOf(spark, sfDir, "embeddings"))
    lazy val dim = Try(Tables.embeddings(spark, sfDir)
      .selectExpr("size(embedding) AS d").limit(1).collect()(0).getInt(0))
    def unless(ok: Boolean, why: => String) = if (ok) None else Some(why)
    Seq(
      // The IVF-family oracles replay the k-means fit with k=16 and
      // d=64 hard-pinned in SQL — valid only while the fixture keeps
      // deriveK(n)=16 (n <= 8192) and 64-dim embeddings.
      Pin("IVF fixture", Set("q44_ann_ivf", "q127_knn_ivf", "q128_cluster_profile",
        "q129_semantic_keep", "q137_ann_ivf_pq", "q139_cell_balanced_keep",
        "q141_ann_ivfadc_residual"), () => {
        val k = graft.operators.Ivf.deriveK(n.get)
        unless(k == 16 && dim.get == 64, s"semanticK=$k expected 16, dim=${dim.get} expected 64")
      }),
      // q117's oracle is the brute-force (probe-all-equivalent) kNN; it
      // is only the engine's behavior while the corpus sits at or below
      // the probe-all exactness ceiling (deriveNProbe switches to the
      // sub-quadratic nProbe=4 configuration above it, where q127's
      // pinned-nProbe oracle is the checked surface). Guarded on the
      // corpus COUNT directly — the quantity deriveNProbe actually
      // branches on — so retuning deriveK's floor or the probe-all
      // ceiling cannot silently decouple this guard from the engine.
      Pin("kNN probe-all", Set("q117_knn_classify"), () =>
        unless(n.get <= graft.operators.Similarity.ProbeAllMaxVectors,
          s"corpus n=${n.get} > ceiling ${graft.operators.Similarity.ProbeAllMaxVectors}: " +
            "deriveNProbe selects the sub-quadratic path, brute-force oracle no longer " +
            "the engine's behavior")),
      // q23's oracle hard-codes the 6-plane band geometry; above the SRP
      // ceiling deriveSrpPlanes refines the bands (sub-quadratic bucket
      // occupancy) and the replay is no longer the engine's behavior.
      Pin("SRP band-geometry", Set("q23_embedding_pairs"), () =>
        unless(n.get <= graft.operators.Dedup.SrpOracleMaxVectors,
          s"corpus n=${n.get} > ceiling ${graft.operators.Dedup.SrpOracleMaxVectors}: " +
            "deriveSrpPlanes refines the bands past the oracle's 6-plane replay")),
      // The PQ oracles replay the per-subspace Lloyd fit with the
      // 8-subvector × 8-dim slicing (d = 64) hard-pinned in SQL;
      // Pq.DefaultCodes = 16 is a fixed config, not corpus-derived, so
      // dimension is the only fixture pin.
      Pin("PQ fixture", Set("q135_ann_pq", "q136_pq_recall", "q137_ann_ivf_pq",
        "q141_ann_ivfadc_residual"), () =>
        unless(dim.get == 64,
          s"dim=${dim.get} expected 64: the oracle's 8×8 subvector slicing no longer matches")),
      // The LinUCB seed replay (q30/q31, and q41's deterministic-policy
      // AUC replay) assumes the lineitem money columns are 2dp rationals
      // and quantities integral — that is what keeps every scaled
      // product round(xi*xj*1e12) >= 0.005 away from its rounding
      // boundary, so Spark and DuckDB can't disagree.
      Pin("LinUCB fixture", Set("q30_linucb_seed", "q31_linucb_topk",
        "q41_policy_eval_linucb"), () => {
        val bad = Tables.lineitem(spark, sfDir).selectExpr(
          "max(abs(l_quantity - round(l_quantity))) AS q",
          "max(abs(l_extendedprice * 100 - round(l_extendedprice * 100))) AS p",
          "max(abs(l_discount * 100 - round(l_discount * 100))) AS d",
          "max(abs(l_tax * 100 - round(l_tax * 100))) AS t"
        ).collect()(0)
        val tol = 1e-6 // fp representation noise of exact 2dp values
        unless((0 until 4).forall(i => bad.getDouble(i) < tol), s"money columns not 2dp: $bad")
      }))
  }

  /** The oracle keys among `keys` whose fixture pin the lake at `sfDir`
    * violates, each violated pin logged with its cause. Only the pins
    * that hold some of `keys` are checked. */
  private[graft] def droppedOracles(spark: SparkSession, sfDir: String,
                                    keys: Set[String]): Set[String] =
    pins(spark, sfDir).flatMap { pin =>
      val pinned = pin.keys.intersect(keys)
      val cause = if (pinned.isEmpty) None else Try(pin.violation()) match {
        case Success(why) => why.map(w => s"${pin.name} pin violated ($w)")
        case Failure(e) => Some(s"${pin.name} pin check failed (${e.getMessage})")
      }
      cause.toSeq.flatMap { c =>
        System.err.println(s"[verify] $c — dropping pinned oracles: ${pinned.toSeq.sorted.mkString(", ")}")
        pinned
      }
    }.toSet

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, only @ _*) = args
    val selected = Bench.select(only)
    val names = selected.map(_._1).toSet
    // the one session factory Bench and perfbench use: the gate checks
    // the semantics the benchmarks time
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    selected.foreach { case (name, fn) =>
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
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names(k) }
    writeArtifacts(outDir, oracles -- droppedOracles(spark, sfDir, oracles.keySet), names,
      failed)
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.sorted.mkString(", ")}")
    }
    spark.stop()
  }
}
