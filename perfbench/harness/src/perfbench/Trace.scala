package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder for the traced run.
  *
  * The harness opens a span around each call it makes into a layer
  * (operation → builder call → action / count audit, plus control and
  * scan probes and stream batches). Spark jobs and stages become child
  * spans through two thread-local properties set while a span is open:
  * `perfbench.op` (the operation id) and `perfbench.span` (the parent
  * span id), which Spark copies onto every job the thread submits.
  * Spans stay in memory and are written out once, at the end.
  *
  * The Spark listener is attached only around traced operations
  * ([[around]]), so a traced run can interleave untraced operations
  * and measure the tracing overhead. With `enabled = false` nothing is
  * recorded; [[timed]] still returns the wall time of its body.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()

  /** Epoch milliseconds with nanoTime resolution (Spark's listener
    * events carry epoch milliseconds, so spans share their clock). */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private def record(span: Map[String, Any]): Unit = if (enabled) spans.synchronized { spans += span }

  /** Run `body` inside a span of `kind`; returns its result and wall
    * seconds. Jobs submitted by `body` are attributed to this span. */
  def timed[T](kind: String, name: String, op: String, parent: String)
              (body: String => T): (T, Double) = {
    val id = s"h${ids.incrementAndGet()}"
    val prevOp = sc.getLocalProperty("perfbench.op")
    val prevSpan = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.op", op)
    sc.setLocalProperty("perfbench.span", id)
    val s = nowMs
    val sNs = System.nanoTime()
    try {
      val r = body(id)
      val secs = (System.nanoTime() - sNs) / 1e9
      record(Map("id" -> id, "op" -> op, "kind" -> kind, "name" -> name,
        "parent" -> parent, "start_ms" -> s, "end_ms" -> nowMs))
      (r, secs)
    } catch {
      case e: Throwable =>
        record(Map("id" -> id, "op" -> op, "kind" -> kind, "name" -> name,
          "parent" -> parent, "start_ms" -> s, "end_ms" -> nowMs,
          "error" -> String.valueOf(e.getMessage).take(200)))
        throw e
    } finally {
      sc.setLocalProperty("perfbench.op", prevOp)
      sc.setLocalProperty("perfbench.span", prevSpan)
    }
  }

  private val listener = new SparkListener {
    private val jobOfStage = mutable.Map[Int, Int]()
    private val jobs = mutable.Map[Int, mutable.Map[String, Any]]()
    private val taskTimes = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
    private val stageSums = mutable.Map[(Int, Int), Array[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      jobs(e.jobId) = mutable.Map[String, Any](
        "id" -> s"j${e.jobId}", "kind" -> "job", "name" -> s"job ${e.jobId}",
        "op" -> p.map(_.getProperty("perfbench.op")).orNull,
        "parent" -> p.map(_.getProperty("perfbench.span")).orNull,
        "start_ms" -> e.time.toDouble)
      e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { j =>
        j("end_ms") = e.time.toDouble
        record(j.toMap)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val key = (e.stageId, e.stageAttemptId)
        taskTimes.getOrElseUpdate(key, mutable.ArrayBuffer()) += e.taskInfo.duration
        val a = stageSums.getOrElseUpdate(key, new Array[Long](9))
        a(0) += m.executorRunTime
        a(1) += m.inputMetrics.bytesRead
        a(2) += m.inputMetrics.recordsRead
        a(3) += m.shuffleWriteMetrics.bytesWritten
        a(4) += m.shuffleWriteMetrics.recordsWritten
        a(5) += m.shuffleReadMetrics.fetchWaitTime
        a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(7) += m.jvmGCTime
        a(8) += m.shuffleReadMetrics.recordsRead
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val key = (si.stageId, si.attemptNumber())
      val a = stageSums.remove(key).getOrElse(new Array[Long](9))
      val times = taskTimes.remove(key).getOrElse(mutable.ArrayBuffer()).sorted
      val median = if (times.isEmpty) 0L else times(times.size / 2)
      record(Map(
        "id" -> s"s${si.stageId}.${si.attemptNumber()}", "kind" -> "stage",
        "name" -> si.name, "op" -> null,
        "parent" -> jobOfStage.get(si.stageId).map(j => s"j$j").orNull,
        "start_ms" -> si.submissionTime.map(_.toDouble).getOrElse(0.0),
        "end_ms" -> si.completionTime.map(_.toDouble).getOrElse(0.0),
        "tasks" -> times.size, "task_run_ms" -> a(0),
        "task_max_ms" -> times.lastOption.getOrElse(0L), "task_median_ms" -> median,
        "input_bytes" -> a(1), "input_rows" -> a(2),
        "shuffle_write_bytes" -> a(3), "shuffle_write_records" -> a(4),
        "shuffle_fetch_wait_ms" -> a(5), "spill_bytes" -> a(6),
        "task_gc_ms" -> a(7), "shuffle_read_records" -> a(8),
        "failed" -> si.failureReason.isDefined))
    }
  }

  /** Run `body` with the listener attached; detach it once every event
    * so far is delivered, so the next untraced operation runs without
    * it. */
  def around[T](body: => T): T = {
    if (enabled) sc.addSparkListener(listener)
    try body
    finally if (enabled) {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  def spansSoFar: Seq[Map[String, Any]] = spans.synchronized(spans.toList)
}

/** Live heap between timed operations: old-generation occupancy
  * after a full collection, taken after every pass (batch) or stream
  * query, outside any timed operation. The peak since [[reset]] is the
  * `live_heap_peak_mb` metric.
  */
final class HeapWatch {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toList
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
  private var peakBytes = 0L

  private def oldUsed: Long =
    oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum

  /** Full collections until the old generation stops shrinking: Spark's
    * ContextCleaner releases shuffle and broadcast state only after a
    * collection has found its owner unreachable, on its own thread, and
    * on a busy machine that can take longer than one round. It counts
    * as stopped after two rounds in a row that shrink it by under 2 %.
    * Records and returns the occupancy left, in MB. */
  def collect(): Double = {
    System.gc()
    var last = oldUsed
    var flat = 0
    var rounds = 0
    while (flat < 2 && rounds < 8) {
      Thread.sleep(200)
      System.gc()
      val now = oldUsed
      flat = if (now < last * 0.98) 0 else flat + 1
      last = math.min(last, now)
      rounds += 1
    }
    synchronized { peakBytes = math.max(peakBytes, last) }
    last / 1048576.0
  }

  /** Forget everything seen so far (called when set-up ends). */
  def reset(): Unit = synchronized { peakBytes = 0L }

  def peakMb: Double = peakBytes / 1048576.0
}
