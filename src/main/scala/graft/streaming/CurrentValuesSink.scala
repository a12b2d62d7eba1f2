package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import graft.operators.CurrentValues

/** K2 — the keyed current-value upsert (reference
  * `Services/OpcSubscribeService.cs:600-654`: per-value
  * SELECT-FOR-UPDATE + UPDATE with retries). In Spark the micro-batch is
  * the transaction: one set-oriented MERGE per trigger, single-writer,
  * idempotent under epoch replay — the locks and retry loops disappear by
  * construction (SURVEY.md §4).
  *
  * The write path is PARTITION-level: after the distributed per-key
  * reduction ([[IngestPipeline]]), each partition of final rows is applied
  * executor-side via `foreachPartition` — row data never funnels through
  * the driver, so the sink scales with executors (at 100 TB / millions of
  * keys a driver-side collect would be the bottleneck and an OOM risk).
  * Keys are disjoint across partitions (the reduction is keyed by device),
  * so concurrent partition writers never contend on a row.
  *
  * Control-plane operations (seed / offline reset / heartbeat) are
  * SET-ORIENTED statements on the target — the reference's own
  * `INSERT .. ON CONFLICT DO NOTHING` / `UPDATE .. WHERE` shapes
  * (`Services/OpcSubscribeService.cs:656-713,717-739,332-378`) — never
  * snapshot-the-table-and-rewrite driver logic.
  */
object CurrentValuesSink {

  /** One row of the reference's `modvalues` table
    * (DDL `Services/OpcSubscribeService.cs:140-152`).
    */
  final case class ModRow(
      device: String,
      measure_name: String,
      tag_value: Double,
      measure_value: Double,
      last_updated: String)

  /** Where MERGE lands. Implementations must be idempotent per epoch —
    * replaying a batch with the same rows must yield the same table — and
    * serializable: `upsertPartition` runs executor-side inside
    * `foreachPartition` closures.
    */
  trait UpsertTarget extends Serializable {
    /** Executor-side: apply one partition of final per-key rows. Callers
      * guarantee keys are disjoint across partitions within a batch.
      */
    def upsertPartition(rows: Iterator[ModRow]): Unit

    /** Driver-side convenience for small control-plane row sets (watchdog
      * fan-out, test fixtures) — same semantics, same idempotence.
      */
    def upsert(rows: Seq[ModRow]): Unit = upsertPartition(rows.iterator)

    /** K1 seed-if-missing: a zero row per key, existing keys untouched
      * (`INSERT .. ON CONFLICT DO NOTHING`).
      */
    def seed(keys: Seq[(String, String)], nowS: String): Unit

    /** K3 startup reset: zero every myPV_online row, stamp now. */
    def offlineReset(nowS: String): Unit

    /** K4 heartbeat: bump last_updated on every row of every currently
      * online device.
      */
    def heartbeat(nowS: String): Unit
  }

  /** Test/demo target. State lives in a companion-object registry keyed by
    * instance id, so `upsertPartition` closures reach the SAME table after
    * closure serialization in local mode (the same static-state trick as
    * Spark's own memory sink). On a real cluster this target is driver-only
    * by design — production uses [[JdbcUpsert.Target]].
    */
  final class InMemoryTarget extends UpsertTarget {
    private val id = java.util.UUID.randomUUID().toString
    InMemoryTarget.tables.putIfAbsent(id, new ConcurrentHashMap[(String, String), ModRow]())
    private def table = InMemoryTarget.tables.get(id)

    override def upsertPartition(rows: Iterator[ModRow]): Unit =
      rows.foreach(r => table.put((r.device, r.measure_name), r))

    override def seed(keys: Seq[(String, String)], nowS: String): Unit =
      keys.foreach { case (d, m) =>
        table.putIfAbsent((d, m), ModRow(d, m, 0.0, 0.0, nowS))
      }

    override def offlineReset(nowS: String): Unit =
      table.replaceAll { (_, r) =>
        if (r.measure_name == CurrentValues.OnlineMeasure)
          r.copy(tag_value = 0.0, measure_value = 0.0, last_updated = nowS)
        else r
      }

    override def heartbeat(nowS: String): Unit = {
      val online = table.values.asScala
        .filter(r => r.measure_name == CurrentValues.OnlineMeasure && r.measure_value == 1.0)
        .map(_.device).toSet
      table.replaceAll { (_, r) =>
        if (online(r.device)) r.copy(last_updated = nowS) else r
      }
    }

    def snapshot: Seq[ModRow] = table.values.asScala.toSeq

    /** Release this instance's table from the process-wide registry (the
      * registry would otherwise retain it for the life of the JVM).
      */
    def close(): Unit = InMemoryTarget.tables.remove(id)
  }

  object InMemoryTarget {
    private[CurrentValuesSink] val tables =
      new ConcurrentHashMap[String, ConcurrentHashMap[(String, String), ModRow]]()
  }

  /** K1 seed + K3 startup reset (`Services/OpcSubscribeService.cs:656-713,
    * 717-739`): seed zero rows for unseen keys + one myPV_online row per
    * device, then zero every online flag. Both are single set-oriented
    * statements on the target — no table snapshot, works identically on
    * the in-memory and JDBC targets.
    */
  def seedAndReset(devicePoints: Seq[(String, String)], nowS: String,
                   target: UpsertTarget): Unit = {
    val online = devicePoints.map(_._1).distinct
      .map(d => (d, CurrentValues.OnlineMeasure))
    target.seed((devicePoints ++ online).distinct, nowS)
    target.offlineReset(nowS)
  }

  /** K4 heartbeat (`Services/OpcSubscribeService.cs:332-378`): bump
    * last_updated for all rows of currently-online devices. Driven by a
    * 60 s trigger in production; one set-oriented statement on the target.
    */
  def heartbeat(target: UpsertTarget, nowS: String): Unit =
    target.heartbeat(nowS)
}
