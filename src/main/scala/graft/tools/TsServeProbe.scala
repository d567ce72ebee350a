package graft.tools

import graft.Session
import graft.analytics.TimeSeriesAnalytics
import org.apache.spark.sql.functions._

/** Decade probe for the TS stored-serving paths: the exact top-k scan
  * (`tsSearchFrom` — linear per query by contract) against the PAA
  * threshold match (`tsMatchPaaFrom` — collision-bucket-bounded): a
  * fixed 256-query panel (every 97th user), 3-rep medians, warm pass +
  * inter-rep scrub, snapshot build timed.
  *
  * Usage: `tools/run.sh graft.tools.TsServeProbe <sfDir> [<sfDir>...]
  * [panel=256] [reps=3] [qscale=1]` — `qscale` builds the PAA snapshot
  * at that quantizer scale (the recall/cost knob; see
  * `ts_paa_recall_curve`), so the serve-time cost of buying the
  * coarse grid's recall is measured, not inferred.
  */
object TsServeProbe {
  def main(args: Array[String]): Unit = {
    val (opts, dirs) = args.partition(_.contains("="))
    require(dirs.nonEmpty, "usage: TsServeProbe <sfDir> [...] [panel=N] [reps=N]")
    def opt(k: String, d: Int) = opts.find(_.startsWith(k + "="))
      .map(_.stripPrefix(k + "=").toInt).getOrElse(d)
    val panel = opt("panel", 256)
    val reps = opt("reps", 3)
    val qscale = opt("qscale", 1)
    val spark = Session.harnessBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def scrub(): Unit = Session.scrubBlocks(spark)

    def med(f: => Long): Double = {
      f; scrub()
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f
        val dt = (System.nanoTime() - t0) / 1e9
        scrub(); dt
      }.sorted.apply(reps / 2)
    }

    for (dir <- dirs) {
      val snap = s"target/tsserve-${new java.io.File(dir).getName}" +
        (if (qscale == 1) "" else s"-q$qscale")
      val t0 = System.nanoTime()
      TimeSeriesAnalytics.materializeSeries(spark, dir, snap)
      TimeSeriesAnalytics.materializePaa(spark, dir, snap, quantScale = qscale)
      val buildS = (System.nanoTime() - t0) / 1e9
      scrub()
      val n = spark.read.parquet(s"$snap/ts_series").count()
      val qTs = spark.read.parquet(s"$snap/ts_series")
        .selectExpr("user_id as query_id", "arr")
        .where($"query_id" % 97 === 0).orderBy($"query_id").limit(panel)
        .as[(Long, Seq[Long])].collect().toSeq
        .toDF("query_id", "arr")
      val exactS = med(TimeSeriesAnalytics.tsSearchFrom(spark, snap, qTs,
        excludeSelfId = true).count())
      var paaN = -1L
      val paaS = med {
        val c = TimeSeriesAnalytics.tsMatchPaaFrom(spark, snap, qTs).count()
        paaN = c; c
      }
      println(f"TSSERVE $dir%-22s n=$n%-8d build_s=$buildS%.1f " +
        f"exact_topk_s=$exactS%.2f paa_match_s=$paaS%.2f " +
        f"paa_matches=$paaN (panel=$panel qscale=$qscale)")
      scrub()
    }
    spark.stop()
  }
}
