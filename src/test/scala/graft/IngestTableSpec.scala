package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.operators.CurrentValues
import graft.streaming._
import graft.streaming.CurrentValuesSink.{InMemoryTarget, ModRow}

/** The ingest query lands an exact, spelled-out `modvalues` table for a
  * deterministic multi-batch script — values (2v+1 scaling,
  * last-writer-wins, dedup, F1/F3 gates), liveness (good → 1, bad status
  * → 0, silence timeout → 0) and bad → good re-admission — under both the
  * default and the RocksDB state store, and across a checkpoint restart.
  */
class IngestTableSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val Online = CurrentValues.OnlineMeasure

  /** Dups, bad status, the pseudo-measure, a same-ts identical pair,
    * multi-device, and a silence window that drives d3 offline through
    * the event-time timeout while d1 keeps ticking.
    */
  private val Script: Seq[Seq[MeasureEvent]] = {
    val e1 = MeasureEvent("d1", "temp", 4.0, ts("2024-01-01 00:00:01"), status_ok = true)
    val e2 = MeasureEvent("d1", "temp", 6.0, ts("2024-01-01 00:00:09"), status_ok = true)
    Seq(
      Seq(e1, e1, e2, e2, // T8 duplicates
        MeasureEvent("d2", "rpm", 3.0, ts("2024-01-01 00:00:09"), status_ok = false), // F1 + online 0
        MeasureEvent("d3", "amps", 1.5, ts("2024-01-01 00:00:10"), status_ok = true),
        MeasureEvent("d1", Online, 9.9, ts("2024-01-01 00:00:10"), status_ok = true)), // F3
      // d3 goes silent; d1 pushes the watermark past d3's 60 s timeout
      Seq(MeasureEvent("d1", "temp", 7.0, ts("2024-01-01 00:02:30"), status_ok = true)),
      Seq(MeasureEvent("d1", "temp", 8.0, ts("2024-01-01 00:05:00"), status_ok = true)),
      // d2 recovers: bad → good re-admission
      Seq(MeasureEvent("d2", "rpm", 4.5, ts("2024-01-01 00:05:01"), status_ok = true)))
  }

  /** The script's final table. d3's offline row carries the watermark of
    * the batch whose timeout sweep last fired for it (00:05:00 − 60 s).
    */
  private val Expected: Map[(String, String), ModRow] = Seq(
    ModRow("d1", "temp", 8.0, 17.0, "2024-01-01T00:05:00.000000"),
    ModRow("d1", Online, 1.0, 1.0, "2024-01-01T00:05:00.000000"),
    ModRow("d2", "rpm", 4.5, 10.0, "2024-01-01T00:05:01.000000"),
    ModRow("d2", Online, 1.0, 1.0, "2024-01-01T00:05:01.000000"),
    ModRow("d3", "amps", 1.5, 4.0, "2024-01-01T00:00:10.000000"),
    ModRow("d3", Online, 0.0, 0.0, "2024-01-01T00:04:00.000000"))
    .map(r => (r.device, r.measure_name) -> r).toMap

  /** Runs the script on one checkpoint; with `restartAfter = Some(n)` the
    * query is stopped after batch n and started again on the same
    * checkpoint and MemoryStream. Returns the final table and the state
    * store metric names of the last progress.
    */
  private def runScript(restartAfter: Option[Int] = None)
      : (Map[(String, String), ModRow], Set[String]) = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MeasureEvent]
    val target = new InMemoryTarget
    val ckpt = Files.createTempDirectory("ingest-table")
    def start() = IngestPipeline.start(input.toDF(), target, slope = 2.0, offset = 1.0,
      trigger = Trigger.ProcessingTime("0 seconds"), checkpointDir = Some(ckpt.toString))
    var handle = start()
    try {
      Script.zipWithIndex.foreach { case (batch, i) =>
        input.addData(batch)
        handle.processAllAvailable()
        if (restartAfter.contains(i + 1)) { handle.stop(); handle = start() }
      }
      val metrics = handle.query.lastProgress.stateOperators
        .flatMap(_.customMetrics.keySet().asScala).toSet
      (target.snapshot.map(r => (r.device, r.measure_name) -> r).toMap, metrics)
    } finally {
      handle.stop(); target.close()
      Files.walk(ckpt).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    }
  }

  private def assertTable(got: Map[(String, String), ModRow]): Unit = {
    assert(got.keySet == Expected.keySet,
      s"missing=${Expected.keySet -- got.keySet} extra=${got.keySet -- Expected.keySet}")
    Expected.keys.toSeq.sorted.foreach(k => assert(got(k) == Expected(k), s"row differs at $k"))
    // the script exercised what it claims
    assert(got(("d3", Online)).measure_value == 0.0) // timeout-driven offline
    assert(got(("d2", Online)).measure_value == 1.0) // bad → good re-admission
    assert(got(("d1", "temp")).measure_value == 17.0) // 2*8+1
  }

  test("exact modvalues table: values + liveness + timeout (default state store)") {
    withStateStore(None)(assertTable(runScript()._1))
  }

  test("exact modvalues table: values + liveness + timeout (RocksDB state store)") {
    val (table, metrics) = withStateStore(Some(SparkSpec.RocksDbProvider))(runScript())
    assertTable(table)
    assert(metrics.exists(_.startsWith("rocksdb")), s"RocksDB not engaged: $metrics")
  }

  test("restart on the same checkpoint after batch 2 lands the uninterrupted table") {
    withStateStore(None)(assertTable(runScript(restartAfter = Some(2))._1))
  }
}
