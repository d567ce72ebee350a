package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed loop, one client: a seeded permutation of serving queries,
  * each timed from the call into its builder until the last row is
  * written to the counting no-op sink.
  *
  *  - Set-up: one verified pass, untimed, writing each query's rows to
  *    parquet for the oracle comparison, and one untimed warm pass
  *    through the counting sink (together they warm the JIT and the
  *    codegen cache).
  *  - Timed window: a fixed number of whole passes over the same
  *    queries (run.py derives it from `--seconds` and the workload's
  *    nominal pass length), so every run times the same operations.
  *  - Traced run: every other operation is traced (spans, plus the
  *    `count()` audit after its action), and control and scan probes
  *    run between operations; the untraced operations in between give
  *    the tracing overhead inside one process.
  */
final class BatchWorkload(spark: SparkSession, cfg: Config, heap: HeapWatch) {
  private val queries: Seq[String] = cfg.list("queries")
  private val data = cfg("data")
  private val rng = new scala.util.Random(cfg.long("seed"))
  private val registry = graft.SparkEntry.queries

  val ops = mutable.ArrayBuffer[Map[String, Any]]()
  val failures = mutable.ArrayBuffer[String]()
  val passes = mutable.ArrayBuffer[Map[String, Any]]()
  val verified = mutable.ArrayBuffer[String]()

  /** The verified pass: every query once, rows written to parquet. Then
    * a warm pass through the timed path (the counting sink): the
    * verified pass writes through `coalesce(1)`, a different plan, and
    * the multi-job queries are still speeding up after one pass. */
  def setup(): Unit = {
    for (q <- rng.shuffle(queries)) {
      try {
        registry(q)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"${cfg("work")}/verify/$q")
        verified += q
      } catch {
        case e: Throwable => failures += s"verify $q: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    for (q <- rng.shuffle(verified.toList)) {
      try Probes.sink(registry(q)(spark, data), s"warm-$q")
      catch {
        case e: Throwable => failures += s"warm $q: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    scrub()
  }

  private def scrub(): Double = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    heap.collect()
  }

  /** `n` timed passes. With a tracer, every other query is traced,
    * the other half in the next pass (so each query is timed both
    * ways), and the control and scan probes run; `untraced` times the
    * rest. */
  def window(n: Int, untraced: Trace, tracer: Option[Trace]): Unit =
    (1 to n).foreach(_ => pass(untraced, tracer))

  private def pass(untraced: Trace, tracer: Option[Trace]): Unit = {
    val p = passes.size
    val order = rng.shuffle(queries)
    val controlAt = Set(0, order.size / 2)
    def control(i: Int): Unit = tracer.foreach { t =>
      ops += t.around(Probes.control(spark, t, s"p$p-c$i"))
    }
    val t0 = System.nanoTime()
    for ((q, i) <- order.zipWithIndex) {
      if (controlAt(i)) control(i)
      ops += (tracer.filter(_ => (queries.indexOf(q) + p) % 2 == 0) match {
        case Some(t) => t.around(op(t, traced = true, p, i, q))
        case None => op(untraced, traced = false, p, i, q)
      })
    }
    control(order.size)
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.foreach(t => ops ++= t.around(Probes.scans(spark, t, s"p$p", data, cfg.list("tables"))))
    passes += Map("pass" -> p, "traced" -> tracer.isDefined, "wall_s" -> wall,
      "ops" -> order.size, "heap_mb" -> scrub())
  }

  private def op(trace: Trace, traced: Boolean, p: Int, i: Int, q: String): Map[String, Any] = {
    val id = s"p$p-$i-$q"
    val rec = mutable.Map[String, Any]("op" -> id, "query" -> q, "pass" -> p, "traced" -> traced)
    try {
      val ((df, rows), wall) = trace.timed("op", q, id, null) { opSpan =>
        val (df, buildS) = trace.timed("builder", q, id, opSpan)(_ => registry(q)(spark, data))
        val (rows, execS) = trace.timed("action", q, id, opSpan)(_ => Probes.sink(df, id))
        rec("build_s") = buildS
        rec("exec_s") = execS
        (df, rows)
      }
      rec("wall_s") = wall
      rec("rows") = rows
      if (traced) {
        val (n, countS) = trace.timed("count", q, id, null)(_ => df.count())
        rec("count_s") = countS
        rec("count_rows") = n
      }
    } catch {
      case e: Throwable =>
        rec("error") = String.valueOf(e.getMessage).take(300)
        failures += s"$id: ${rec("error")}"
    }
    rec.toMap
  }
}
