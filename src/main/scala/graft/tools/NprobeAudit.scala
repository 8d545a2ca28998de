package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{avg, col}

/** nProbe sensitivity audit at an arbitrary lake — the follow-through
  * on the q167 grid: the grid fixed [[graft.operators.Pq.DeployedNProbe]]
  * from sf0.1/10× measurements; this tool re-prices the probe budget
  * WHERE IT MATTERS (the 100× lake) by measuring, per nProbe, the warm
  * wall and the mean recall\@k of both deployed IVF index families
  * (IVF-PQ codes, q141; IVF-SQ8, q173) against exact brute force.
  * Results land in PLANS.md, not code — the deployed default only moves
  * if the big-lake curve disagrees with the grid's.
  *
  * Usage: `runMain graft.tools.NprobeAudit <lakeDir> [nProbe,...]`
  * (default probes 2,4,8). Each point is timed cold then warm through
  * [[graft.Bench.time]] after one [[graft.Bench.warm]] of the lake: the
  * cold pass builds the shared layers (centroids, codes, codebooks),
  * and HostMeter provenance covers the whole audit. */
object NprobeAudit {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: NprobeAudit <lakeDir> [nProbe,...]")
    val dir = args(0)
    val probes =
      if (args.length > 1) args(1).split(",").map(_.trim.toInt).toSeq
      else Seq(2, 4, 8)
    val meter0 = graft.HostMeter.mark()
    val spark = graft.GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    graft.Bench.warm(spark, dir)
    def coldWarm(df: => DataFrame): (Double, Double) = (graft.Bench.time(df), graft.Bench.time(df))
    def meanRecall(df: DataFrame): Double =
      df.agg(avg(col("recall"))).head().getDouble(0)

    probes.foreach { p =>
      val (sqCold, sqWarm) = coldWarm(graft.operators.Sq.ivfSqTopK(spark, dir, nProbe = p))
      val sqRec = meanRecall(
        graft.operators.Sq.ivfSqRecallVsBrute(spark, dir, nProbe = p))
      val (pqCold, pqWarm) = coldWarm(graft.operators.Pq.ivfAdcTopK(spark, dir, nProbe = p))
      val pqRec = meanRecall(
        graft.operators.Pq.ivfAdcRecallVsBrute(spark, dir, nProbe = p))
      println(f"[nprobe] p=$p%-2d ivf_sq8 cold $sqCold%6.2f s warm $sqWarm%6.2f s recall $sqRec%.4f" +
        f"   ivf_pq cold $pqCold%6.2f s warm $pqWarm%6.2f s recall $pqRec%.4f")
    }
    println("[nprobe] " +
      graft.HostMeter.provenanceJson(meter0, graft.HostMeter.mark()) +
      s""","lake":"$dir","deployed":${graft.operators.Pq.DeployedNProbe}""")
    spark.stop()
  }
}
