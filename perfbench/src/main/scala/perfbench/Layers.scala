package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.sources.FeedTransport

/** Every per-layer metric a traced run emits, with its unit. A workload
  * that does not exercise a layer reports 0 for it: the ingest workloads
  * build no board query, and the board opens no stream.
  */
object Layers {
  val Modules: Seq[String] = Seq("ReferenceQueries", "ControlPlaneQueries", "RelationalQueries",
    "DedupQueries", "SimilarityQueries", "TextQueries", "TrainingQueries", "FeatureQueries")

  val All: Seq[(String, String)] = Seq(
    "sources.fetch_rows_per_s" -> "1/s",
    "sources.fetch_ms_p50" -> "ms",
    "sources.latest_offset_ms_p50" -> "ms",
    "sources.backlog_rows_max" -> "count",
    "streaming.planning_ms_p50" -> "ms",
    "streaming.wal_ms_p50" -> "ms",
    "streaming.state_commit_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.task_s_per_batch" -> "s",
    "streaming.shuffle_mb_per_batch" -> "MB",
    "streaming.max_task_share" -> "ratio",
    "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB",
    "streaming.dropped_by_watermark" -> "count",
    "streaming.batches" -> "count",
    "streaming.rows_per_batch_p50" -> "count",
    "streaming.trigger_ms_p50" -> "ms",
    "streaming.trigger_ms_tail" -> "ms",
    "streaming.trigger_tail_pct" -> "%",
    "sink.calls" -> "count",
    "sink.rows" -> "count",
    "sink.ms_p50" -> "ms",
    "sink.busy_share" -> "ratio",
    "gen.lag_tail_ms" -> "ms",
    "queries.construct_s" -> "s",
    "queries.construct_jobs" -> "count") ++
    Modules.map(m => s"queries.${m}_s" -> "s") ++ Seq(
    "plans.analysis_ms" -> "ms",
    "plans.optimize_ms" -> "ms",
    "plans.physical_ms" -> "ms",
    "operators.exec_s" -> "s",
    "operators.jobs" -> "count",
    "operators.tasks" -> "count",
    "operators.task_s" -> "s",
    "operators.parallelism" -> "ratio",
    "operators.max_task_share" -> "ratio",
    "operators.shuffle_write_mb" -> "MB",
    "operators.spill_mb" -> "MB",
    "operators.gc_s" -> "s",
    "box.foreign_cores" -> "cores")

  /** The full set, in order, from the values a workload measured. */
  def complete(measured: Map[String, Double]): Seq[Metric] = {
    val unknown = measured.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: $unknown")
    All.map { case (n, u) => Metric(n, measured.getOrElse(n, 0.0), u) }
  }

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  val MB = 1024.0 * 1024.0
}

/** Per-layer numbers of a traced ingest run, from the window's progress
  * reports, the task ledger, the timed sink and direct probes of the
  * transport.
  */
object IngestLayers {
  import Layers.{MB, p50}

  /** Spark's phase order inside one micro-batch, for laying out spans. */
  private val Phases = Seq("latestOffset" -> "sources.latestOffset", "walCommit" -> "streaming.walCommit",
    "getBatch" -> "sources.getBatch", "queryPlanning" -> "streaming.queryPlanning",
    "addBatch" -> "streaming.addBatch", "commitOffsets" -> "streaming.commitOffsets")

  def apply(mode: Ingest.Mode, o: Opts, feed: SeededFeed, server: FeedTransport.FeedServer,
            log: Ingest.ProgressLog, ledger: TaskLedger, queryIds: Set[String], windowStartMs: Long,
            fromTick: Long, toTick: Long, pacer: Pacer, foreign: Double,
            notes: mutable.Buffer[String]): Seq[Metric] = {
    val window = log.events.asScala.toSeq.filter { case (p, _) =>
      queryIds(p.id.toString) && java.time.Instant.parse(p.timestamp).toEpochMilli >= windowStartMs
    }
    val progs = window.map(_._1)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val data = progs.filter(_.numInputRows > 0)
    val work = data.flatMap(p => ledger.get(s"${p.id}:${p.batchId}"))
    val lastByQuery = progs.groupBy(_.id).values.map(_.maxBy(_.batchId))
    val triggers = progs.map(dur(_, "triggerExecution"))
    val tail = Stats.tail(triggers)
    if (tail.isEmpty) notes += s"trigger_ms_tail: ${triggers.size} batches, too few for a percentile with 10 beyond; reporting the max"
    progs.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val id = s"${p.id}:${p.batchId}"
      val batch = s"streaming.batch:$id"
      Spans.add(Span("streaming.batch", start, start + (dur(p, "triggerExecution") * 1000).toLong, p.name, id))
      Phases.foldLeft(start) { case (t, (k, name)) =>
        val d = (dur(p, k) * 1000).toLong
        if (d > 0) Spans.add(Span(name, t, t + d, batch, id))
        t + d
      }
    }

    // the transport alone: direct RANGE pulls at the size a partition pulls
    val chunk = mode match {
      case Ingest.Paced => math.max(1L, math.min(Ingest.ChunkRows, p50(data.map(_.numInputRows.toDouble)).toLong / o.cores))
      case Ingest.Bulk => Ingest.ChunkRows
    }
    val client = new FeedTransport.SocketMeasureFeed("127.0.0.1", server.boundPort)
    val fetchMs = mutable.ArrayBuffer.empty[Double]
    try {
      client.latest() // connect and handshake outside the timing
      val latest = feed.latest()
      val probeStart = System.nanoTime()
      var i = 0L
      while (fetchMs.size < 200 && (fetchMs.size < 10 || System.nanoTime() - probeStart < 2000000000L)) {
        val lo = (i * chunk) % math.max(1L, latest - chunk)
        val t0 = System.nanoTime()
        client.fetchRange(lo, lo + chunk)
        val t1 = System.nanoTime()
        Spans.timed("sources.fetchRange", t0, t1, "probe", s"$lo")
        fetchMs += (t1 - t0) / 1e6
        i += 1
      }
    } finally client.close()

    val lags = if (pacer == null) Seq.empty else pacer.lagMs(fromTick, toTick)
    if (mode == Ingest.Bulk) notes += "gen.lag_tail_ms: closed loop, no schedule to run late against"
    val taskMs = work.map(_.taskMs.toDouble).sum
    Layers.complete(Map(
      "sources.fetch_rows_per_s" -> chunk * fetchMs.size / (fetchMs.sum / 1000.0),
      "sources.fetch_ms_p50" -> p50(fetchMs.toSeq),
      "sources.latest_offset_ms_p50" -> p50(progs.map(dur(_, "latestOffset"))),
      "sources.backlog_rows_max" -> (if (window.isEmpty) 0.0 else window.map(_._2.toDouble).max),
      "streaming.planning_ms_p50" -> p50(data.map(dur(_, "queryPlanning"))),
      "streaming.wal_ms_p50" -> p50(data.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
      "streaming.state_commit_ms_p50" -> p50(data.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum)),
      "streaming.add_batch_ms_p50" -> p50(data.map(dur(_, "addBatch"))),
      "streaming.task_s_per_batch" -> p50(work.map(_.taskMs / 1000.0)),
      "streaming.shuffle_mb_per_batch" -> p50(work.map(_.shuffleWriteBytes / MB)),
      "streaming.max_task_share" -> p50(work.flatMap(_.stageShares)),
      "streaming.state_rows" -> lastByQuery.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "streaming.state_mb" -> lastByQuery.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / MB,
      "streaming.dropped_by_watermark" -> progs.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble,
      "streaming.batches" -> progs.size.toDouble,
      "streaming.rows_per_batch_p50" -> p50(data.map(_.numInputRows.toDouble)),
      "streaming.trigger_ms_p50" -> p50(triggers),
      "streaming.trigger_ms_tail" -> tail.map(_._2).getOrElse(if (triggers.isEmpty) 0.0 else triggers.max),
      "streaming.trigger_tail_pct" -> tail.map(_._1).getOrElse(100.0),
      "sink.calls" -> Recorder.calls.get.toDouble,
      "sink.rows" -> Recorder.rows.get.toDouble,
      "sink.ms_p50" -> p50(Recorder.sinkCallMs.toSeq),
      "sink.busy_share" -> (if (taskMs > 0) Recorder.busyNanos.get / 1e6 / taskMs else 0.0),
      "gen.lag_tail_ms" -> Stats.tail(lags).map(_._2).getOrElse(if (lags.isEmpty) 0.0 else lags.max),
      "box.foreign_cores" -> foreign))
  }
}
