package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.analytics.{DetectionAnalytics, UserBehaviorAnalytics}
import graft.streaming.StreamingAnalytics
import graft.streaming.StreamingAnalytics.Ev
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** One generated event in the `events` schema; `ts_us` is epoch µs. */
case class EvRow(event_id: Long, ts_us: Long, user_id: Long, event_type: String,
                 value: Double, props: String)

/** Seeded, single-threaded generator of `events` rows. User and item
  * cardinalities, the event-type mix, the mean inter-arrival gap and
  * the mean `value` are the ones measured on the committed
  * `events.parquet` (listed in `workloads.json`). Users and items are
  * drawn Zipf-skewed, inter-arrival gaps are exponential in event
  * time, and a fixed share of events is displaced backwards by less
  * than the operators' smallest watermark delay (10 minutes). `batch`
  * cuts the events into fixed-size micro-batches.
  */
final class EventGenerator(seed: Long, cfg: Config) {
  private val rnd = new scala.util.Random(seed)
  private val users = zipfCdf(cfg.int("users"), cfg.double("zipf"))
  private val items = zipfCdf(cfg.int("items"), cfg.double("zipf"))
  private val oooShare = cfg.double("ooo_share")
  private val oooMaxUs = (cfg.double("ooo_max_s") * 1e6).toLong
  private val gapUs = cfg.double("mean_gap_s") * 1e6
  private val valueMean = cfg.double("value_mean")
  // "view:0.2,click:0.2,...": each type with its share
  private val types = cfg.list("types").map { t =>
    val Array(name, share) = t.split(':')
    name -> share.toDouble
  }
  private var nextId = 0L
  private var clockUs = 1704067200L * 1000000 // 2024-01-01T00:00:00Z

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  private def draw(cdf: Array[Double]): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    (if (i >= 0) i else math.min(-i - 1, cdf.length - 1)).toLong
  }

  private def exponential(mean: Double): Double = -math.log(1 - rnd.nextDouble()) * mean

  private def eventType(): String = {
    var u = rnd.nextDouble()
    types.find { case (_, p) => u -= p; u < 0 }.getOrElse(types.last)._1
  }

  def batch(size: Int): Seq[EvRow] = Seq.fill(size) {
    clockUs += 1 + exponential(gapUs).toLong
    val ts = if (rnd.nextDouble() < oooShare) clockUs - (rnd.nextDouble() * oooMaxUs).toLong
             else clockUs
    nextId += 1
    EvRow(nextId, ts, draw(users), eventType(), math.rint(exponential(valueMean) * 100) / 100,
      s"""{"k": ${draw(items)}}""")
  }
}

/** Streaming progress, per query run, as delivered by Spark's
  * StreamingQueryListener: one record per micro-batch.
  */
final class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentHashMap[java.util.UUID, mutable.ArrayBuffer[Map[String, Any]]]()
  @volatile var committedOffset = -1L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val end = p.sources.flatMap(s => Option(s.endOffset).flatMap(_.trim.toLongOption))
    if (p.numInputRows > 0 && end.nonEmpty) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      committedOffset = math.max(committedOffset, end.min)
      batches.computeIfAbsent(p.runId, _ => mutable.ArrayBuffer()).synchronized {
        batches.get(p.runId) += Map(
          "batch_id" -> p.batchId, "end_offset" -> end.min,
          "start_ms" -> start, "end_ms" -> (start + d.getOrElse("triggerExecution", 0L)),
          "rows" -> p.numInputRows,
          "add_ms" -> d.getOrElse("addBatch", 0L),
          "plan_ms" -> d.getOrElse("queryPlanning", 0L),
          "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
      }
    }
  }
}

/** The stream workload: each `StreamingAnalytics` operator that has a
  * batch twin runs, one query at a time, over the same generated
  * micro-batches fed through a MemoryStream:
  *
  *  - closed loop: the client adds a backlog of `backlog_batches`
  *    batches and waits until it is committed, once untimed (the new
  *    query's first micro-batch, which creates its state) and then
  *    `drains` times, each drain one micro-batch (`throughput_per_s`);
  *  - open loop: the same thread, now the generator, adds one batch
  *    every `interval_ms` on a fixed schedule that never waits for the
  *    query; each batch's latency runs from its scheduled send time to
  *    the commit of the micro-batch that holds it (`latency_s`);
  *  - then flush rows far in event time close every window and fire
  *    every timer, and the query's final output must equal its batch
  *    twin on the same events (the pairs `StreamingParitySpec` pins).
  */
final class StreamWorkload(spark: SparkSession, cfg: Config, heap: HeapWatch) {
  import spark.implicits._
  private implicit val ss: SparkSession = spark
  private implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val queries = cfg.list("queries")
  private val batchSize = cfg.int("batch_events")
  private val backlogBatches = cfg.int("backlog_batches")
  private val drains = cfg.int("drains")
  private val closedBatches = (1 + drains) * backlogBatches
  private val openBatches = cfg.int("open_batches")
  private val intervalMs = cfg.double("interval_ms")
  private val work = cfg("work")
  private val dataDir = s"$work/stream"
  private val progress = new ProgressLog
  spark.streams.addListener(progress)

  val runs = mutable.ArrayBuffer[Map[String, Any]]()
  val probes = mutable.ArrayBuffer[Map[String, Any]]()
  val failures = mutable.ArrayBuffer[String]()
  private var runSeq = 0

  private val seed = cfg.long("seed")
  private val timed: Seq[Seq[EvRow]] = {
    val g = new EventGenerator(seed, cfg)
    Seq.fill(closedBatches + openBatches)(g.batch(batchSize))
  }
  // closed loop: a warm-up drain and `drains` timed ones, each adding
  // one backlog of `backlogBatches` batches
  private val backlogs = timed.take(closedBatches).grouped(backlogBatches)
    .map(_.flatten).toSeq
  private val warm: Seq[Seq[EvRow]] = {
    val g = new EventGenerator(seed + 1, cfg)
    Seq(Seq.fill(backlogBatches / 2)(g.batch(batchSize)).flatten, g.batch(batchSize))
  }
  private val maxTsUs = timed.flatten.map(_.ts_us).max
  private var twins: Map[String, Set[String]] = Map.empty

  /** Write the timed events where the batch twins read them, and
    * compute every twin's expected output (untimed, after set-up). */
  def prepareTwins(): Unit = {
    timed.flatten.toDS()
      .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dataDir/events.parquet")
    twins = queries.map(q => q -> want(q)).toMap
  }

  /** Untimed warm-up: every query once over a short separate input. */
  def setup(): Unit = {
    for (q <- queries) {
      val ms = MemoryStream[EvRow]
      val sq = start(q, ms, s"warm_$q")
      try warm.foreach { b => ms.addData(b); sq.processAllAvailable() }
      finally sq.stop()
    }
    heap.collect()
  }

  private def start(q: String, ms: MemoryStream[EvRow], name: String): StreamingQuery = {
    val df = ms.toDF().withColumn("ts", expr("timestamp_micros(ts_us)"))
    val ds = ms.toDS().map(e => Ev(e.event_id, e.ts_us, e.user_id, e.event_type))
    val (out, mode) = q match {
      case "page_views" => (StreamingAnalytics.pageViewsStream(df), "complete")
      case "unique_visitors" => (StreamingAnalytics.uniqueVisitorsStream(df), "append")
      case "hot_items_topn" => (StreamingAnalytics.hotItemsTopNStream(df).toDF(), "append")
      case "login_fail_detect" => (StreamingAnalytics.loginFailPairs(ds).toDF(), "append")
      case "order_timeout" => (StreamingAnalytics.orderTimeoutStream(ds).toDF(), "append")
      case "tx_match" => (StreamingAnalytics.txMatchStream(df), "append")
    }
    runSeq += 1
    out.writeStream.format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", s"$work/checkpoints/$name-$runSeq").start()
  }

  private def flushRow(kind: String, days: Int): EvRow =
    EvRow(-1L, maxTsUs + (30L + days) * 86400L * 1000000, -1L, kind, 0.0, "{}")

  private def flushes(q: String): Seq[EvRow] = q match {
    case "unique_visitors" => Seq(flushRow("view", 0))
    // a timer registered in batch N fires in batch N+1: three flushes
    // finalize the last windows and then their Top-N timers
    case "hot_items_topn" => (0 to 2).map(flushRow("view", _))
    case "login_fail_detect" => Seq(flushRow("error", 0))
    case "order_timeout" => Seq(flushRow("purchase", 0))
    case _ => Nil
  }

  /** The query's final output, projected like its batch twin. */
  private def got(q: String, table: String): DataFrame = {
    val t = spark.table(table)
    q match {
      case "page_views" => t.select($"window_end", $"pv")
      case "unique_visitors" => t.select($"window_end", $"uv")
      case "hot_items_topn" => t.select($"window_end", $"item_id", $"cnt", $"rnk")
      case "login_fail_detect" => t.where($"user_id" =!= -1L)
        .select($"user_id", $"first_fail_us", $"last_fail_us")
      case "order_timeout" => t.where($"user_id" =!= -1L)
        .select($"order_id", $"user_id", $"create_us", coalesce($"pay_us", lit(-1L)), $"status")
      case "tx_match" => t.select($"tx_id", $"pay_event", $"receipt_event")
    }
  }

  private def want(q: String): Set[String] = {
    val df = q match {
      case "page_views" => UserBehaviorAnalytics.pageViews(spark, dataDir)
      case "unique_visitors" => UserBehaviorAnalytics.uniqueVisitors(spark, dataDir)
      case "hot_items_topn" => UserBehaviorAnalytics.hotItemsTopN(spark, dataDir)
        .select($"window_end", $"item_id", $"cnt", $"rnk")
      case "login_fail_detect" => DetectionAnalytics.loginFailDetect(spark, dataDir)
        .select($"user_id", unix_micros($"first_fail"), unix_micros($"last_fail"))
      case "order_timeout" => DetectionAnalytics.orderTimeout(spark, dataDir)
        .select($"order_id", $"user_id", unix_micros($"create_ts"),
          coalesce(unix_micros($"pay_ts"), lit(-1L)), $"status")
      case "tx_match" =>
        val ev = graft.Tables.events(spark, dataDir)
        def side(kind: String, ts: String, id: String, tx: String) =
          ev.where($"event_type" === kind)
            .select(concat($"user_id", lit("-"), get_json_object($"props", "$.k")).as(tx),
              $"ts".as(ts), $"event_id".as(id))
        side("purchase", "pay_ts", "pay_event", "tx_id")
          .join(side("click", "receipt_ts", "receipt_event", "rc_tx_id"),
            $"tx_id" === $"rc_tx_id" &&
              $"receipt_ts" >= $"pay_ts" - expr("interval 24 hours") &&
              $"receipt_ts" <= $"pay_ts" + expr("interval 24 hours"))
          .select($"tx_id", $"pay_event", $"receipt_event")
    }
    rowSet(df)
  }

  private def rowSet(df: DataFrame): Set[String] = df.collect().map(_.mkString("|")).toSet

  /** Windows the flush rows open themselves lie past every real window. */
  private def realRows(q: String, rows: Set[String], want: Set[String]): Set[String] =
    if (q == "unique_visitors" || q == "hot_items_topn") {
      val maxEnd = want.map(_.split('|')(0)).max
      rows.filter(_.split('|')(0) <= maxEnd)
    } else rows

  /** Every query once over the timed input, in a seeded order. With a
    * tracer each query runs twice, traced and untraced in alternating
    * order, after a control probe; the scan probe runs at the end. */
  def window(untraced: Trace, tracer: Option[Trace]): Unit = {
    for ((q, i) <- new scala.util.Random(seed).shuffle(queries).zipWithIndex) tracer match {
      case None => runQuery(untraced, traced = false, q)
      case Some(t) =>
        probes += t.around(Probes.control(spark, t, s"c$i"))
        for (on <- if (i % 2 == 0) Seq(true, false) else Seq(false, true))
          if (on) t.around(runQuery(t, traced = true, q))
          else runQuery(untraced, traced = false, q)
    }
    tracer.foreach(t => probes ++= t.around(Probes.scans(spark, t, "s", dataDir, Seq("events"))))
  }

  private def runQuery(trace: Trace, traced: Boolean, q: String): Unit = {
    val op = s"r${runs.size}-$q"
    val name = s"out_${runs.size}_$q"
    val rec = mutable.Map[String, Any]("op" -> op, "query" -> q, "traced" -> traced)
    val sends = mutable.ArrayBuffer[Map[String, Any]]()
    try {
      trace.timed("stream", q, op, null) { _ =>
        val ms = MemoryStream[EvRow]
        progress.committedOffset = -1L
        val sq = start(q, ms, name)
        rec("run_id") = sq.runId.toString
        try {
          ms.addData(backlogs.head)
          sq.processAllAvailable()
          val drainS = backlogs.tail.map { b =>
            val c0 = System.nanoTime()
            ms.addData(b)
            sq.processAllAvailable()
            (System.nanoTime() - c0) / 1e9
          }
          rec("drain_s") = drainS.toList
          rec("closed_events") = backlogs.tail.map(_.size).sum
          // open loop: the schedule never waits for the query
          val base = System.currentTimeMillis() + 20.0
          for ((b, j) <- timed.drop(closedBatches).zipWithIndex) {
            val due = base + j * intervalMs
            val wait = due - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
            val sentMs = System.currentTimeMillis().toDouble
            val off = ms.addData(b).json.trim.toLong
            sends += Map("offset" -> off, "due_ms" -> due, "sent_ms" -> sentMs,
              "backlog" -> (off - progress.committedOffset))
          }
          sq.processAllAvailable()
          flushes(q).foreach { f => ms.addData(Seq(f)); sq.processAllAvailable() }
          val w = twins(q)
          val g = realRows(q, rowSet(got(q, name)), w)
          rec("rows") = g.size
          rec("want_rows") = w.size
          rec("match") = g == w
          if (g != w) failures += s"$op: stream output differs from its batch twin " +
            s"(${g.size} rows vs ${w.size}; missing ${(w -- g).take(2)}, extra ${(g -- w).take(2)})"
        } finally {
          sq.stop()
          spark.sql(s"DROP VIEW IF EXISTS $name")
        }
      }
    } catch {
      case e: Throwable =>
        rec("error") = String.valueOf(e.getMessage).take(300)
        failures += s"$op: ${rec("error")}"
    }
    rec("sends") = sends.toList
    runs += rec.toMap
    heap.collect()
  }

  /** Micro-batch records of each run, once the listener bus is drained. */
  def batches(): Map[String, Seq[Map[String, Any]]] =
    runs.flatMap { r =>
      r.get("run_id").map(id => r("op").toString ->
        Option(progress.batches.get(java.util.UUID.fromString(id.toString)))
          .map(_.toList).getOrElse(Nil))
    }.toMap
}
