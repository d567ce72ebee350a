package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Layer probes of the traced run, outside any timed operation. */
object Probes {
  def sink(df: DataFrame, op: String): Long = {
    df.write.format(CountingSink.Format).mode("overwrite").option("op", op).save()
    CountingSink.rows(op)
  }

  /** The fixed per-query floor: a trivial query through the same sink. */
  def control(spark: SparkSession, trace: Trace, id: String): Map[String, Any] = {
    val (_, s) = trace.timed("control", "control", id, null) { _ =>
      sink(spark.range(0, 1000, 1, 1).selectExpr("sum(id) as s"), id)
    }
    Map("op" -> id, "query" -> "<control>", "control_s" -> s, "traced" -> true)
  }

  /** The scan layer: each of `tables` present in `dir`, through its
    * `graft.Tables` loader, to the sink. */
  def scans(spark: SparkSession, trace: Trace, prefix: String, dir: String,
            tables: Seq[String]): Seq[Map[String, Any]] =
    for (t <- tables if new java.io.File(s"$dir/$t.parquet").exists) yield {
      val id = s"$prefix-scan-$t"
      val (rows, s) = trace.timed("scan", t, id, null) { _ =>
        sink(if (t == "events") graft.Tables.events(spark, dir)
             else graft.Tables.load(spark, dir, t), id)
      }
      Map("op" -> id, "query" -> s"<scan:$t>", "scan_s" -> s, "rows" -> rows, "traced" -> true)
    }
}
