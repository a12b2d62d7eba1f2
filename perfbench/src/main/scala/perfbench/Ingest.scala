package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import org.apache.spark.TaskContext
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import graft.control.{PgEphemeral, PgWire}
import graft.operators.CurrentValues
import graft.sources.{FeedTransport, MeasureSourceProvider}
import graft.streaming.{IngestPipeline, IngestProfile, JdbcUpsert}
import graft.streaming.CurrentValuesSink.{ModRow, UpsertTarget}

/** Where the sink's rows came due, and what it cost to write them. Static
  * so the executor-side sink wrapper reaches it in local mode.
  */
object Recorder {
  /** Value rows of ticks in [fromTick, toTick) are latency samples. */
  @volatile var fromTick: Long = Long.MaxValue
  @volatile var toTick: Long = Long.MaxValue
  @volatile var ts0Micros: Long = 0L
  @volatile var tickMicros: Long = 1L
  /** Wall nanos at which a tick's events were offered. */
  @volatile var due: Long => Long = _ => 0L

  private val latencies = mutable.ArrayBuilder.make[Long]
  private val callMs = mutable.ArrayBuilder.make[Double]
  val calls = new AtomicLong
  val rows = new AtomicLong
  val busyNanos = new AtomicLong

  def reset(): Unit = synchronized {
    fromTick = Long.MaxValue; toTick = Long.MaxValue
    latencies.clear(); clearSink()
  }
  /** Sink counters restart where the measured window starts. */
  def clearSink(): Unit = synchronized {
    callMs.clear(); calls.set(0); rows.set(0); busyNanos.set(0)
  }
  def addLatencies(xs: Array[Long], n: Int): Unit =
    if (n > 0) synchronized { latencies.addAll(xs, 0, n) }
  def addCall(n: Int, t0: Long, t1: Long): Unit = {
    calls.incrementAndGet(); rows.addAndGet(n); busyNanos.addAndGet(t1 - t0)
    synchronized { callMs += (t1 - t0) / 1e6 }
  }
  def latencyMs: Array[Double] = synchronized { latencies.result().map(_ / 1e6) }
  def sinkCallMs: Array[Double] = synchronized { callMs.result() }
}

/** The program's JDBC target, timed: each `upsertPartition` return stamps
  * the value rows it committed with their latency from due time.
  */
final class TimedTarget(inner: UpsertTarget) extends UpsertTarget {
  override def upsertPartition(rows: Iterator[ModRow]): Unit = {
    val buf = rows.toArray
    if (buf.isEmpty) return
    val t0 = System.nanoTime()
    inner.upsertPartition(buf.iterator)
    val t1 = System.nanoTime()
    Recorder.addCall(buf.length, t0, t1)
    val lat = new Array[Long](buf.length)
    var n = 0
    val (from, to) = (Recorder.fromTick, Recorder.toTick)
    buf.foreach { r =>
      if (r.measure_name != CurrentValues.OnlineMeasure) {
        val tick = (Expected.parseMicros(r.last_updated) - Recorder.ts0Micros) / Recorder.tickMicros
        if (tick >= from && tick < to) { lat(n) = t1 - Recorder.due(tick); n += 1 }
      }
    }
    Recorder.addLatencies(lat, n)
    if (Spans.enabled) {
      val tc = TaskContext.get()
      val batch = Option(tc).flatMap(c => Option(c.getLocalProperty("streaming.sql.batchId"))).getOrElse("?")
      val query = Option(tc).flatMap(c => Option(c.getLocalProperty("sql.streaming.queryId"))).getOrElse("?")
      Spans.timed("sink.upsertPartition", t0, t1, s"streaming.batch:$query:$batch", s"$query:$batch")
    }
  }
  override def seed(keys: Seq[(String, String)], nowS: String): Unit = inner.seed(keys, nowS)
  override def offlineReset(nowS: String): Unit = inner.offlineReset(nowS)
  override def heartbeat(nowS: String): Unit = inner.heartbeat(nowS)
}

/** Open-loop generator: tick t is offered at anchor + t * tickNanos,
  * whatever the pipeline is doing; publishing is one volatile write.
  */
final class Pacer(feed: SeededFeed, tickNanos: Long, val anchor: Long) extends Thread("perfbench-pacer") {
  setDaemon(true)
  @volatile var stopAt: Long = Long.MaxValue
  @volatile private var running = true
  private val lagNs = new ConcurrentHashMap[Long, Long]()
  def halt(): Unit = { running = false; interrupt(); join() }
  def lagMs(from: Long, to: Long): Seq[Double] =
    (from until to).flatMap(t => Option(lagNs.get(t)).map(_ / 1e6))
  override def run(): Unit = {
    var t = 0L
    while (running && t < stopAt) {
      val due = anchor + t * tickNanos
      var now = System.nanoTime()
      while (running && now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      if (running) {
        feed.publish(t + 1)
        lagNs.put(t, System.nanoTime() - due)
        t += 1
      }
    }
  }
}

/** The two ingest workloads over one pipeline: the program's split
  * `IngestPipeline` under `IngestProfile.ReferenceFreshness`, reading the
  * DSv2 source over the Part 6 socket transport and upserting into a live
  * Postgres through `JdbcUpsert`.
  */
object Ingest {
  sealed abstract class Mode(val name: String)
  /** Open loop at the reference's rate: 5 s sampling in 100 ms ticks. */
  case object Paced extends Mode("ingest_paced")
  /** Closed loop: the next block is offered once every query committed the last. */
  case object Bulk extends Mode("ingest_bulk")

  /** 10k points sampled every 5 s: 2k fresh events/s, +1% redelivered. A
    * batch then takes about 0.85 s, so both queries keep to the 1 s trigger;
    * at 25k points and more they fall behind it, and latency spreads widely
    * between runs.
    */
  val Spec = FeedSpec(points = 10000, devices = 1000, zipfS = 1.0)
  val BulkBlockEvents = 500000L
  val ChunkRows = 65536L
  /** Set-up runs this many times; the last one stays up for the window. */
  val SetupRepeats = 3
  /** Set-up ends when the first batch of this many ticks has committed;
    * the bulk case warms the per-row path with a larger one.
    */
  val PacedWarmupTicks = 5L
  val BulkWarmupTicks = 50L
  val DrainTimeoutMs = 60000L

  private def committed(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
      .map(_.trim.toLong).getOrElse(0L)

  /** Block until every query has committed `offset`; fail on a dead query. */
  private def awaitCommitted(qs: Seq[StreamingQuery], offset: Long): Unit = {
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    while (!qs.forall(q => committed(q) >= offset)) {
      qs.foreach(q => q.exception.foreach(e => throw new IllegalStateException(s"${q.name} died", e)))
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"not committed to $offset within ${DrainTimeoutMs} ms: " +
          qs.map(q => s"${q.name}=${committed(q)}").mkString(", "))
      Thread.sleep(2)
    }
  }

  /** Wall time the queries spent on the block ending at `end`: from the
    * first trigger that picked it up to the last commit. The wait for the
    * next trigger after a block is offered is left out, as it is when a
    * backlog drains back to back.
    */
  private def busySeconds(qs: Seq[StreamingQuery], end: Long): Double = {
    val spans = qs.map { q =>
      val p = q.recentProgress.findLast(_.sources.headOption.exists(s => Option(s.endOffset).exists(_.trim.toLong == end)))
        .getOrElse(throw new IllegalStateException(s"${q.name}: no batch ended at offset $end"))
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      (start, start + p.durationMs.get("triggerExecution").longValue)
    }
    (spans.map(_._2).max - spans.map(_._1).min) / 1000.0
  }

  /** Progress of the traced window, with the generator's backlog at the
    * time each batch reported.
    */
  final class ProgressLog(feed: SeededFeed) extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(StreamingQueryProgress, Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val end = Option(e.progress.sources).flatMap(_.headOption).flatMap(s => Option(s.endOffset))
        .map(_.trim.toLong).getOrElse(0L)
      events.add((e.progress, feed.latest() - end))
    }
  }

  def run(mode: Mode, o: Opts): RunResult = {
    val (spark, bootS) = Main.boot(o)
    val feed = new SeededFeed(o.seed, Spec)
    Recorder.ts0Micros = feed.ts0Micros
    Recorder.tickMicros = Spec.tickMicros
    val tickNanos = Spec.tickMicros * 1000L
    val server = new FeedTransport.FeedServer(feed)

    val pgT0 = System.nanoTime()
    val pg = PgEphemeral.start().fold(r => throw new IllegalStateException(s"no Postgres: $r"), identity)
    val stopPg = new Thread(() => pg.stop())
    Runtime.getRuntime.addShutdownHook(stopPg)
    val notes = mutable.ArrayBuffer.empty[String]
    try {
      pg.createDatabase("bench")
      val port = pg.port
      val connect = () => PgWire.connect("127.0.0.1", port, "postgres", "bench")
      JdbcUpsert.bootstrap(connect)
      def sql(s: String): Seq[Seq[String]] = {
        val c = new PgWire.Client("127.0.0.1", port, "postgres", "bench")
        try c.query(s).rows.map(_.toSeq.map(b => if (b == null) null else new String(b, "UTF-8")))
        finally c.close()
      }
      val dataDir = sql("SHOW data_directory").head.head
      java.nio.file.Files.writeString(java.nio.file.Paths.get(o.work, "pg_data_dir"), dataDir)
      val postmaster = scala.util.Try(java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(dataDir, "postmaster.pid")).get(0).trim.toLong).toOption
      val pgS = (System.nanoTime() - pgT0) / 1e9
      val target = new TimedTarget(new JdbcUpsert.Target(connect))

      val progressLog = new ProgressLog(feed)
      val ledger = new TaskLedger(p => for {
        query <- Option(p.getProperty("sql.streaming.queryId"))
        batch <- Option(p.getProperty("streaming.sql.batchId"))
      } yield s"$query:$batch")
      if (o.trace) {
        spark.streams.addListener(progressLog)
        spark.sparkContext.addSparkListener(ledger)
      }

      def start(rep: Int): IngestPipeline.Handle = {
        val raw = spark.readStream.format(classOf[MeasureSourceProvider].getName)
          // queue capacity = queueCapacity * nDevices * nMeasures events:
          // 10M, so no offered event is ever discarded as stale backlog
          .option("nDevices", Spec.points).option("nMeasures", 1).option("queueCapacity", 100L)
          .option("numPartitions", o.cores)
          .option("feedHost", "127.0.0.1").option("feedPort", server.boundPort)
          .option("chunkRows", ChunkRows)
          .load()
        IngestPipeline.start(raw, target, 1.0, 0.0, IngestProfile.ReferenceFreshness,
          Some(s"${o.work}/checkpoint-$rep"))
      }

      // ---- set-up, repeated; the last pipeline (and pacer) carry on
      val setups = mutable.ArrayBuffer.empty[Double]
      var handle: IngestPipeline.Handle = null
      var pacer: Pacer = null
      for (rep <- 1 to SetupRepeats) {
        if (handle != null) { handle.stop(); if (pacer != null) pacer.halt() }
        sql("TRUNCATE modvalues")
        feed.publish(0)
        Recorder.reset()
        val t0 = System.nanoTime()
        handle = start(rep)
        mode match {
          case Paced =>
            // the schedule starts PacedWarmupTicks in the past, so the first
            // batch finds them waiting, as it does in the bulk case
            pacer = new Pacer(feed, tickNanos, System.nanoTime() - PacedWarmupTicks * tickNanos)
            val p = pacer
            Recorder.due = t => p.anchor + t * tickNanos
            pacer.start()
          case Bulk =>
            feed.publish(BulkWarmupTicks)
        }
        awaitCommitted(Seq(handle.valueQuery, handle.livenessQuery),
          (if (mode == Paced) PacedWarmupTicks else BulkWarmupTicks) * Spec.perTick)
        setups += (System.nanoTime() - t0) / 1e9
      }
      val queries = Seq(handle.valueQuery, handle.livenessQuery)
      val queryIds = queries.map(_.id.toString).toSet

      // ---- the measured window
      Recorder.clearSink()
      val before = Proc.cpuSnapshot(postmaster)
      val windowStartMs = System.currentTimeMillis()
      var windowFromTick = 0L
      var windowToTick = 0L
      var windowStartNs = 0L
      val blockSecs = mutable.ArrayBuffer.empty[Double]
      val throughput = mode match {
        case Paced =>
          windowFromTick = feed.published + 1
          windowToTick = windowFromTick + o.seconds * 1000000L / Spec.tickMicros
          Recorder.fromTick = windowFromTick
          Recorder.toTick = windowToTick
          pacer.stopAt = windowToTick
          windowStartNs = pacer.anchor + windowFromTick * tickNanos
          pacer.join()
          awaitCommitted(queries, windowToTick * Spec.perTick)
          (windowToTick - windowFromTick) * Spec.perTick / ((System.nanoTime() - windowStartNs) / 1e9)
        case Bulk =>
          val blockTicks = (BulkBlockEvents + Spec.perTick - 1) / Spec.perTick
          val published = new ConcurrentHashMap[Long, Long]()
          windowFromTick = feed.published
          Recorder.due = t => published.getOrDefault((t - windowFromTick) / blockTicks, 0L)
          Recorder.fromTick = windowFromTick
          windowStartNs = System.nanoTime()
          var b = 0L
          while (b == 0 || System.nanoTime() - windowStartNs < o.seconds * 1000000000L) {
            val at = System.nanoTime()
            published.put(b, at)
            feed.publish(windowFromTick + (b + 1) * blockTicks)
            awaitCommitted(queries, feed.latest())
            blockSecs += busySeconds(queries, feed.latest())
            b += 1
          }
          windowToTick = feed.published
          Recorder.toTick = windowToTick
          b * blockTicks * Spec.perTick / blockSecs.sum
      }
      val windowS = (System.nanoTime() - windowStartNs) / 1e9
      val after = Proc.cpuSnapshot(postmaster)
      val foreign = Proc.foreignCores(before, after)
      val latency = Recorder.latencyMs.sorted.toIndexedSeq
      val offered = feed.latest()
      val readByQuery = queries.map(q => q.name -> q.recentProgress.map(_.numInputRows).sum)
      handle.stop()

      // ---- correctness: the table against the generator, all offered events read
      val table = sql("SELECT device, measure_name, tag_value, measure_value, last_updated FROM modvalues")
        .map(r => (r(0), r(1), r(2), r(3), r(4)))
      val want = Expected.values(Expected.log(feed, offered))
      val devices = Expected.devices(Expected.log(feed, offered))
      val (nValues, badValues, nDevices, badOnline, diffs) = Expected.compare(table, want, devices)
      val unread = readByQuery.map { case (_, n) => math.abs(offered - n) }.max
      val checks = Seq(
        Check("events_read", offered, unread,
          s"offered $offered; read ${readByQuery.map { case (q, n) => s"$q=$n" }.mkString(", ")}"),
        Check("value_rows", nValues, badValues, diffs.filterNot(_.contains("online")).mkString("; ")),
        Check("online_rows", nDevices, badOnline, diffs.filter(_.contains("online")).mkString("; ")))

      val setupS = bootS + pgS + Stats.median(setups.toSeq)
      val rss = Proc.rssPeakMb()
      if (latency.isEmpty) notes += "no value rows were upserted in the window"
      val p50 = if (latency.isEmpty) 0.0 else Stats.median(latency)
      val p99 = if (latency.isEmpty) 0.0 else Stats.percentile(latency, 99)
      val endToEnd = Seq(
        Metric("latency_p50_ms", p50, "ms"),
        Metric("latency_p99_ms", p99, "ms"),
        Metric("throughput_per_s", throughput, "1/s"),
        Metric("setup_s", setupS, "s"),
        Metric("heap_live_peak_mb", Proc.LiveHeap.peakMb, "MB"))
      val named = (mode match {
        case Paced => Seq(Metric("value_latency_p50_ms", p50, "ms"), Metric("value_latency_p99_ms", p99, "ms"))
        case Bulk => Seq(Metric("bulk_eps", throughput, "events/s"))
      }) ++ Seq(Metric("setup_s", setupS, "s"), Metric("rss_peak_mb", rss, "MB"),
        Metric("latency_samples", latency.length, "count"),
        Metric("window_s", windowS, "s"))
      notes += f"set-up: boot $bootS%.2f s, postgres $pgS%.2f s, pipeline ${setups.map(s => f"$s%.2f").mkString("/")} s"
      if (mode == Bulk) notes += s"blocks: ${blockSecs.map(s => f"$s%.2f").mkString(", ")} s"

      val layers =
        if (!o.trace) Seq.empty
        else IngestLayers(mode, o, feed, server, progressLog, ledger, queryIds, windowStartMs,
          windowFromTick, windowToTick, pacer, foreign, notes)
      server.close()
      spark.stop()
      RunResult(mode.name, checks, endToEnd, named, layers, foreign, notes.toSeq)
    } finally {
      pg.stop()
      scala.util.Try(Runtime.getRuntime.removeShutdownHook(stopPg))
    }
  }
}
