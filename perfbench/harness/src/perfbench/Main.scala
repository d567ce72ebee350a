package perfbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** `--key value` arguments. */
final class Config(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
  def list(k: String): Seq[String] = apply(k).split(',').map(_.trim).filter(_.nonEmpty).toSeq
}

object Config {
  def parse(args: Array[String]): Config = new Config(args.grouped(2).map {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
  }.toMap)
}

/** Benchmark process for one workload run. Writes `result.json`
  * (operations, failures, set-up time, heap) and, when traced,
  * `spans.json` into `--work`; `perfbench/run.py` checks the outputs
  * and turns both into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    val work = cfg("work")
    val heap = new HeapWatch
    val stream = cfg("kind") == "stream"
    val cores = cfg.int("cores")
    val base = SparkSession.builder().appName("perfbench").master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = (if (stream) graft.Session.tuneStreaming(base, cores)
                 else graft.Session.tune(base, cores)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracedRun = cfg("trace") == "1"
    val untraced = new Trace(spark.sparkContext, enabled = false)
    lazy val traced = new Trace(spark.sparkContext, enabled = true)

    val out = scala.collection.mutable.Map[String, Any](
      "workload" -> cfg("workload"), "seed" -> cfg.long("seed"), "traced" -> tracedRun)
    var genS = 0.0
    def setupDone(): Unit = {
      val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
      out("setup_s") = (System.currentTimeMillis() - startMs) / 1000.0 - genS
      heap.reset()
    }

    if (stream) {
      val g0 = System.nanoTime()
      val w = new StreamWorkload(spark, cfg, heap)
      genS = (System.nanoTime() - g0) / 1e9
      w.setup()
      setupDone()
      w.prepareTwins()
      w.window(untraced, if (tracedRun) Some(traced) else None)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      out("runs") = w.runs.toList
      out("probes") = w.probes.toList
      out("batches") = w.batches()
      out("failures") = w.failures.toList
    } else {
      val w = new BatchWorkload(spark, cfg, heap)
      w.setup()
      setupDone()
      w.window(cfg.int("passes"), untraced, if (tracedRun) Some(traced) else None)
      out("ops") = w.ops.toList
      out("passes") = w.passes.toList
      out("verified") = w.verified.toList
      out("oracle") = cfg.list("queries")
        .flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap
      out("failures") = w.failures.toList
    }
    out("gen_s") = genS
    out("live_heap_peak_mb") = heap.peakMb
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    if (tracedRun) json.writeValue(new java.io.File(s"$work/spans.json"), traced.spansSoFar)
    json.writeValue(new java.io.File(s"$work/result.json"), out)
    spark.stop()
  }
}
