package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.functions.ScalarOps
import graft.operators.{CurrentValues, Gates}
import graft.sources.MeasureSourceProvider
import graft.streaming.CurrentValuesSink.{ModRow, UpsertTarget}

/** The reference's full data path (SURVEY.md §3.1) as ONE Structured
  * Streaming query:
  *
  * {{{
  * source (DataSource V2)                            S1/T6
  *   → measure exclusion (F3)
  *   → watermark + dedup                             (T8)
  *   → flatMapGroupsWithState keyed by device:
  *       all events → liveness machine (T2)          → the device's online row
  *       good only (F1) → last value per measure     → one value row per key
  *   → scale (C1) → keyed upsert (K2), one pass per micro-batch
  * }}}
  *
  * The reference writes value rows and myPV_online rows from one
  * subscription loop (`Services/OpcSubscribeService.cs:578-585`), and so
  * does this query: one source admission, one dedup state, one
  * device-keyed shuffle, one state store and one sink pass per trigger.
  * The streaming last-writer-wins rule on (source_ts, event_seq) lives in
  * the in-group reduction ([[update]]); liveness is [[Liveness.update]]
  * itself. Both row kinds land in the same keyed UpsertTarget, so the
  * result is exactly the reference's `modvalues` table.
  *
  * The staleness gate (F2) is enforced by the watermark: rows older than
  * the delay are dropped by `dropDuplicatesWithinWatermark`'s state
  * eviction bound, matching the reference's |now − source| ≤ 60 s intent
  * in event time (deterministic under replay — SURVEY.md §7.4).
  */
object IngestPipeline {

  /** The name of the ingest query; progress listeners key on it. */
  val QueryName = "graft-ingest"

  /** Driver-side twin of ScalarOps.lastUpdatedString (C4 µs format, UTC). */
  private def formatTs(ts: java.sql.Timestamp): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(ts.toInstant)

  /** The running ingest query. It writes both row kinds, so `valueQuery`
    * and `livenessQuery` are the same query.
    */
  final case class Handle(query: StreamingQuery) {
    def valueQuery: StreamingQuery = query
    def livenessQuery: StreamingQuery = query
    def stop(): Unit = query.stop()
    def processAllAvailable(): Unit = query.processAllAvailable()
  }

  /** Gated event + the source's dequeue sequence (the within-batch
    * last-writer-wins tiebreak).
    */
  final case class SeqEvent(
      device: String,
      measure_name: String,
      raw_value: Double,
      source_ts: Timestamp,
      status_ok: Boolean,
      event_seq: Long)

  /** One final row per `modvalues` key for a micro-batch: a measure's last
    * good value, or — under [[CurrentValues.OnlineMeasure]], which F3 keeps
    * out of the input — the device's online flag as `raw_value`.
    */
  final case class LatestRow(
      device: String,
      measure_name: String,
      raw_value: Double,
      event_ts: Timestamp)

  /** Exclusion gate + watermark dedup: the front end of the query. */
  def gated(raw: DataFrame, watermarkDelay: String = "60 seconds"): DataFrame =
    MeasureStream.watermarkDedup(Gates.excludeOnlineMeasure(raw), watermarkDelay)

  private def update(
      device: String,
      events: Iterator[SeqEvent],
      state: GroupState[Liveness.DeviceState]): Iterator[LatestRow] = {
    val evs = events.toSeq
    // on timeout `evs` is empty: only the liveness machine emits
    val online = Liveness.update(device,
      evs.iterator.map(e =>
        MeasureEvent(e.device, e.measure_name, e.raw_value, e.source_ts, e.status_ok)),
      state
    ).map(o => LatestRow(device, CurrentValues.OnlineMeasure, o.online, o.event_ts))
    // F1 per event, then last-writer-wins per measure on (source_ts, event_seq)
    val values = evs.filter(_.status_ok)
      .groupBy(_.measure_name).valuesIterator.map { g =>
        val last = g.maxBy(e => (e.source_ts.getTime, e.source_ts.getNanos, e.event_seq))
        LatestRow(device, last.measure_name, last.raw_value, last.source_ts)
      }
    values ++ online
  }

  /** Upsert one micro-batch with ONE action: every further action on the
    * batch (an `isEmpty`, a second write) re-runs the stateful plan. Rows
    * are already one per key and a device's keys share its partition, so
    * each partition goes to the target as it is.
    */
  private def upsert(batch: DataFrame, target: UpsertTarget, measureValue: Column): Unit = {
    import batch.sparkSession.implicits._
    val online = col("measure_name") === CurrentValues.OnlineMeasure
    batch.select(col("device"), col("measure_name"),
        bround(col("raw_value"), 3).as("tag_value"),
        when(online, col("raw_value")).otherwise(measureValue).as("measure_value"),
        ScalarOps.lastUpdatedString(col("event_ts")).as("last_updated"))
      .as[ModRow]
      .foreachPartition((rows: Iterator[ModRow]) => target.upsertPartition(rows))
  }

  /** Start the ingest query over an already-open measure stream.
    * `checkpointDir` is REQUIRED in production: with it, a restart resumes
    * from the committed epoch and the idempotent keyed upsert makes the
    * replay exactly-once (SURVEY.md §7.4); without it (tests/demos) Spark
    * uses a temp checkpoint and restart re-reads the source.
    */
  def start(raw: DataFrame, target: UpsertTarget,
            slope: Double = 1.0, offset: Double = 0.0,
            trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
            checkpointDir: Option[String] = None): Handle =
    start(raw, target, slope, offset,
      IngestProfile.Default.copy(trigger = trigger), checkpointDir)

  /** [[start]] under a NAMED freshness profile: the watermark and trigger
    * travel together — see [[IngestProfile]] for the dedup-horizon vs
    * liveness-freshness trade each preset takes.
    */
  def start(raw: DataFrame, target: UpsertTarget,
            slope: Double, offset: Double,
            profile: IngestProfile,
            checkpointDir: Option[String]): Handle =
    run(raw, target, profile, checkpointDir,
      ScalarOps.scaleSlopeIntercept(col("raw_value"), slope, offset), identity)

  /** [[start]] with per-POINT auto-scaling, the reference's actual
    * semantics (`Services/OpcSubscribeService.cs:565-576`: each monitored
    * point scales by its template's scale_mode + parameters). `scaling` is
    * the config dim with columns (device|daq_name, measure_name,
    * scale_mode, slope, offset, value_min, value_max, target_min,
    * target_max) — `ConfigFiles.devicePoints(...)` output works as-is. It
    * is broadcast-joined AFTER the in-group reduction (one row per key,
    * not per event); a point with no config row keeps the identity scale.
    */
  def startScaled(raw: DataFrame, target: UpsertTarget, scaling: DataFrame,
                  trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
                  checkpointDir: Option[String] = None): Handle = {
    val named =
      if (scaling.columns.contains("device")) scaling
      else scaling.withColumnRenamed("daq_name", "device")
    val dim = broadcast(named.select("device", "measure_name", "scale_mode",
      "slope", "offset", "value_min", "value_max", "target_min", "target_max"))
    run(raw, target, IngestProfile.Default.copy(trigger = trigger), checkpointDir,
      ScalarOps.scaleByMode(col("raw_value"), col("scale_mode"),
        col("slope"), col("offset"), col("value_min"), col("value_max"),
        col("target_min"), col("target_max")),
      _.join(dim, Seq("device", "measure_name"), "left_outer"))
  }

  private def run(raw: DataFrame, target: UpsertTarget, profile: IngestProfile,
                  checkpointDir: Option[String], measureValue: Column,
                  enrich: DataFrame => DataFrame): Handle = {
    val g = gated(raw, profile.watermarkDelay)
    import g.sparkSession.implicits._
    // the DSv2 source carries event_seq (true dequeue order); a source
    // without one gets a constant — monotonically_increasing_id is
    // disallowed in a streaming plan — so its same-timestamp ties with
    // different payloads resolve arbitrarily
    val withSeq =
      if (g.columns.contains("event_seq")) g
      else g.withColumn("event_seq", lit(0L))
    val latest = withSeq
      .select("device", "measure_name", "raw_value", "source_ts", "status_ok", "event_seq")
      .as[SeqEvent]
      .groupByKey(_.device)
      .flatMapGroupsWithState[Liveness.DeviceState, LatestRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
    val writer = latest.writeStream
      .outputMode("append").trigger(profile.trigger)
      .foreachBatch { (batch: Dataset[LatestRow], _: Long) =>
        upsert(enrich(batch.toDF()), target, measureValue)
      }
      .queryName(QueryName)
    Handle(checkpointDir
      .map(d => writer.option("checkpointLocation", s"$d/ingest"))
      .getOrElse(writer).start())
  }

  /** K4/T1 — the heartbeat as its own triggered query (reference: every
    * 12th 5 s tick, `Services/OpcSubscribeService.cs:299-301`): each
    * trigger bumps last_updated for every row of currently-online devices,
    * because OPC UA only pushes on change and downstream consumers treat a
    * stale last_updated as death. The rate source is just a metronome; the
    * work happens in foreachBatch against the keyed target.
    */
  def heartbeatQuery(spark: SparkSession, target: UpsertTarget,
                     trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
                     now: () => java.sql.Timestamp = () =>
                       java.sql.Timestamp.from(java.time.Instant.now())): StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream.outputMode("append").trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        CurrentValuesSink.heartbeat(target, formatTs(now()))
      }
      .queryName("graft-heartbeat").start()

  /** T3 fan-out (reference `:980-997`): a server silent for 3 minutes
    * marks EVERY device of that server offline. The stream carries
    * (server, source_ts); each silence event joins the (device, server)
    * dimension batch-side and lands as myPV_online=0 upserts.
    */
  def watchdogQuery(withServer: DataFrame, deviceDim: Seq[(String, String)],
                    target: UpsertTarget, trigger: Trigger): StreamingQuery = {
    import withServer.sparkSession.implicits._
    watchdogQuery(withServer, deviceDim.toDF("device", "server"), target, trigger)
  }

  /** The (device, server) dim as a DataFrame — the production form, fed
    * directly by the config plane (`ConfigFiles.devicePoints(...)
    * .select(col("daq_name").as("device"), col("server"))`) with no
    * driver collect anywhere on the path.
    */
  def watchdogQuery(withServer: DataFrame, deviceDim: DataFrame,
                    target: UpsertTarget,
                    trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    ServerWatchdog.silenceEvents(withServer)
      .writeStream.outputMode("append").trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[ServerWatchdog.SilenceEvent], _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // broadcast the (device, server) dim against the silence events:
        // the fan-out join and the writes run on the executors
        val rows = batch.toDF()
          .join(broadcast(deviceDim.select("device", "server")), Seq("server"))
          .select(col("device"),
            lit(CurrentValues.OnlineMeasure).as("measure_name"),
            lit(0.0).as("tag_value"),
            lit(0.0).as("measure_value"),
            graft.functions.ScalarOps.lastUpdatedString(col("silent_since")).as("last_updated"))
          .as[ModRow]
        rows.foreachPartition(
          (it: Iterator[ModRow]) => target.upsertPartition(it))
      }
      .queryName("graft-watchdog").start()

  /** Convenience: open the simulated DataSource V2 source and run the full
    * pipeline against it (the shape a production OPC UA connector plugs
    * into).
    */
  def startFromSource(spark: SparkSession, target: UpsertTarget,
                      nDevices: Int = 5, nMeasures: Int = 2): Handle = {
    val raw = spark.readStream
      .format(classOf[MeasureSourceProvider].getName)
      .option("nDevices", nDevices).option("nMeasures", nMeasures)
      .option("numPartitions", 2)
      .load()
    start(raw, target)
  }
}
