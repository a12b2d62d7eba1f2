package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming._
import graft.streaming.CurrentValuesSink.{InMemoryTarget, ModRow}

/** MemoryStream-driven micro-batch tests for the stateful operators
  * (SURVEY.md §5.4): liveness transitions, watermark dedup, upsert
  * idempotence, seed/reset/heartbeat.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def valueRows(target: InMemoryTarget): Seq[ModRow] =
    target.snapshot.filter(_.measure_name != graft.operators.CurrentValues.OnlineMeasure)

  test("liveness: good→1, bad→0, 60s event-time silence→0 (T2)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MeasureEvent]
    val events = Liveness.onlineEvents(input.toDS())
    val query = events.writeStream.format("memory").queryName("online_t")
      .outputMode("append").start()
    try {
      // batch 1: d1 good, d2 bad
      input.addData(
        MeasureEvent("d1", "temp", 1.0, ts("2024-01-01 00:00:01"), status_ok = true),
        MeasureEvent("d2", "temp", 2.0, ts("2024-01-01 00:00:01"), status_ok = false))
      query.processAllAvailable()
      // batch 2: far-future event advances the watermark past d1's timeout
      input.addData(
        MeasureEvent("d3", "temp", 3.0, ts("2024-01-01 00:10:00"), status_ok = true))
      query.processAllAvailable()
      // batch 3: one more watermark advance so timed-out state is flushed
      input.addData(
        MeasureEvent("d3", "temp", 4.0, ts("2024-01-01 00:20:00"), status_ok = true))
      query.processAllAvailable()

      val rows = spark.table("online_t")
        .select("device", "online").as[(String, Double)].collect().toSeq
      assert(rows.contains(("d1", 1.0)))  // good value → online
      assert(rows.contains(("d2", 0.0)))  // bad status → offline
      assert(rows.contains(("d1", 0.0)))  // 60 s silence → offline
    } finally query.stop()
  }

  test("server watchdog: 3 min silence emits one event per server (T3)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val df = input.toDF().toDF("server", "source_ts")
    val query = ServerWatchdog.silenceEvents(df)
      .writeStream.format("memory").queryName("watchdog_t")
      .outputMode("append").start()
    try {
      input.addData(("s1", ts("2024-01-01 00:00:00")), ("s2", ts("2024-01-01 00:00:00")))
      query.processAllAvailable()
      // s2 keeps talking; s1 goes silent for > 3 min
      input.addData(("s2", ts("2024-01-01 00:04:00")))
      query.processAllAvailable()
      input.addData(("s2", ts("2024-01-01 00:08:00")))
      query.processAllAvailable()
      val silent = spark.table("watchdog_t").select("server").as[String].collect().toSeq
      assert(silent.count(_ == "s1") == 1)
      assert(!silent.contains("s2"))
    } finally query.stop()
  }

  test("watermark dedup drops exact duplicate notifications (T8)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MeasureEvent]
    val query = MeasureStream.watermarkDedup(input.toDF())
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try {
      val e = MeasureEvent("d1", "temp", 1.0, ts("2024-01-01 00:00:01"), status_ok = true)
      input.addData(e, e) // duplicate within one batch
      query.processAllAvailable()
      input.addData(e)    // duplicate across batches, within watermark
      query.processAllAvailable()
      assert(spark.table("dedup_t").count() == 1)
      // a same-timestamp CORRECTION (different value) is NOT a duplicate —
      // it must survive to the sink, whose event_seq tiebreak orders it
      input.addData(e.copy(raw_value = 2.0))
      query.processAllAvailable()
      assert(spark.table("dedup_t").count() == 2)
    } finally query.stop()
  }

  test("foreachBatch upsert: last-writer-wins within and across batches; replay idempotent (K2)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MeasureEvent]
    val target = new InMemoryTarget
    val handle = IngestPipeline.start(input.toDF(), target, slope = 2.0, offset = 0.0,
      trigger = Trigger.ProcessingTime("0 seconds"))
    try {
      input.addData(
        MeasureEvent("d1", "temp", 1.0, ts("2024-01-01 00:00:01"), status_ok = true),
        MeasureEvent("d1", "temp", 5.0, ts("2024-01-01 00:00:09"), status_ok = true))
      handle.processAllAvailable()
      val afterB1 = valueRows(target)
      assert(afterB1 == Seq(ModRow("d1", "temp", 5.0, 10.0, "2024-01-01T00:00:09.000000")))

      // replaying the same event (epoch replay) must not change the table
      input.addData(MeasureEvent("d1", "temp", 5.0, ts("2024-01-01 00:00:09"), status_ok = true))
      handle.processAllAvailable()
      assert(valueRows(target) == afterB1)

      // an older row arriving later still overwrites (last-WRITER-wins,
      // matching the reference's unconditional UPDATE)
      input.addData(MeasureEvent("d1", "temp", 3.0, ts("2024-01-01 00:00:05"), status_ok = true))
      handle.processAllAvailable()
      assert(valueRows(target) == Seq(ModRow("d1", "temp", 3.0, 6.0, "2024-01-01T00:00:05.000000")))
    } finally { handle.stop(); target.close() }
  }

  test("within-batch LWW tie on source_ts resolves by source sequence, deterministically") {
    implicit val sqlCtx = spark.sqlContext
    val t = ts("2024-01-01 00:00:05")
    val lo = IngestPipeline.SeqEvent("d1", "temp", 1.0, t, status_ok = true, event_seq = 10L)
    val hi = IngestPipeline.SeqEvent("d1", "temp", 2.0, t, status_ok = true, event_seq = 11L)
    // two same-timestamp values for one key, one per source partition, in
    // either order: the higher dequeue sequence must win
    Seq(Seq(lo, hi), Seq(hi, lo)).foreach { rows =>
      val input = MemoryStream[IngestPipeline.SeqEvent](2)
      val target = new InMemoryTarget
      val handle = IngestPipeline.start(input.toDF(), target,
        trigger = Trigger.ProcessingTime("0 seconds"))
      try {
        input.addData(rows)
        handle.processAllAvailable()
        assert(valueRows(target) == Seq(ModRow("d1", "temp", 2.0, 2.0,
          "2024-01-01T00:00:05.000000")))
      } finally { handle.stop(); target.close() }
    }
  }

  test("per-point auto-scaling from the config dim (C1/C2 streaming parity)") {
    implicit val sqlCtx = spark.sqlContext
    val scaling = Seq(
      ("d1", "temp", "slope_intercept", 2.0, 1.0, 0.0, 0.0, 0.0, 0.0),
      ("d1", "pct", "point_slope", 1.0, 0.0, 0.0, 10.0, 0.0, 100.0))
      .toDF("device", "measure_name", "scale_mode", "slope", "offset",
        "value_min", "value_max", "target_min", "target_max")
    val t = ts("2024-01-01 00:00:01")
    // the devicePoints column shape (daq_name) is accepted as-is
    Seq(scaling, scaling.withColumnRenamed("device", "daq_name")).foreach { dim =>
      val input = MemoryStream[MeasureEvent]
      val target = new InMemoryTarget
      val handle = IngestPipeline.startScaled(input.toDF(), target, dim,
        trigger = Trigger.ProcessingTime("0 seconds"))
      try {
        input.addData(
          MeasureEvent("d1", "temp", 4.0, t, status_ok = true),
          MeasureEvent("d1", "pct", 2.5, t, status_ok = true),
          MeasureEvent("d1", "unconfigured", 7.0, t, status_ok = true))
        handle.processAllAvailable()
        val byMeasure = target.snapshot.map(r => r.measure_name -> r.measure_value).toMap
        assert(byMeasure("temp") == 9.0)  // C1: 4*2 + 1
        assert(byMeasure("pct") == 25.0)  // C2: (100-0)/(10-0) * (2.5-0) + 0
        assert(byMeasure("unconfigured") == 7.0) // no config row → identity
        assert(byMeasure(graft.operators.CurrentValues.OnlineMeasure) == 1.0) // never scaled
      } finally { handle.stop(); target.close() }
    }
  }

  test("seed + reset + heartbeat lifecycle (K1/K3/K4)") {
    val target = new InMemoryTarget
    CurrentValuesSink.seedAndReset(
      Seq(("d1", "temp"), ("d1", "rpm"), ("d2", "temp")), "T0", target)
    assert(target.snapshot.size == 5) // 3 points + 2 online rows
    assert(target.snapshot.forall(r => r.tag_value == 0.0 && r.measure_value == 0.0))
    // seeding again is a no-op on values
    target.upsert(Seq(ModRow("d1", "temp", 9.0, 9.0, "T1")))
    CurrentValuesSink.seedAndReset(Seq(("d1", "temp")), "T2", target)
    assert(target.snapshot.find(r => r.device == "d1" && r.measure_name == "temp")
      .get.tag_value == 9.0)

    // mark d1 online, heartbeat bumps only d1 rows
    target.upsert(Seq(ModRow("d1", graft.operators.CurrentValues.OnlineMeasure, 1.0, 1.0, "T2")))
    CurrentValuesSink.heartbeat(target, "T3")
    val snap = target.snapshot
    assert(snap.filter(_.device == "d1").forall(_.last_updated == "T3"))
    assert(snap.filter(_.device == "d2").forall(_.last_updated != "T3"))
  }
}
