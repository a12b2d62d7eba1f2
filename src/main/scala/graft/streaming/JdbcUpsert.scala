package graft.streaming

import java.sql.Connection
import graft.streaming.CurrentValuesSink.{ModRow, UpsertTarget}

/** Production K2 sink: the reference's per-value SELECT-FOR-UPDATE +
  * UPDATE transaction pair (`Services/OpcSubscribeService.cs:600-713`)
  * collapses to ONE set-oriented statement per micro-batch —
  * `INSERT .. ON CONFLICT (device, measure_name) DO UPDATE` — executed as
  * JDBC batches. Single-writer micro-batches + the natural key make the
  * statement idempotent, so epoch replay after failure is exactly-once
  * (no row locks, no retry loop).
  *
  * The target is serializable and `upsertPartition` opens its connection
  * EXECUTOR-side (one per partition, statements chunked), so value rows
  * flow executors → database without a driver hop. The connection factory
  * must therefore capture only serializable state (a URL + properties),
  * e.g. `() => DriverManager.getConnection(url, props)`; tests pass a
  * stub-capturing factory.
  *
  * Control-plane operations are the reference's own set-oriented SQL:
  *   - seed      → `INSERT .. ON CONFLICT DO NOTHING`   (`:656-713`)
  *   - reset     → `UPDATE .. WHERE measure_name = 'myPV_online'` (`:717-739`)
  *   - heartbeat → `UPDATE .. WHERE device IN (online subquery)`  (`:332-378`)
  * The heartbeat derives the online set in-database via a subquery rather
  * than the reference's app-memory `ANY(array)` — one statement, no data
  * pulled to the client, same rows updated.
  */
object JdbcUpsert {

  val Table = "modvalues"

  /** The reference DDL (`Services/OpcSubscribeService.cs:140-152`) —
    * bootstrap issued once, `CREATE TABLE IF NOT EXISTS` replacing the
    * information-schema existence probe (S6).
    */
  val CreateTableSql: String =
    s"""CREATE TABLE IF NOT EXISTS $Table (
       |  device TEXT NOT NULL,
       |  measure_name TEXT NOT NULL,
       |  tag_value REAL,
       |  measure_value REAL,
       |  last_updated TEXT,
       |  PRIMARY KEY (device, measure_name)
       |)""".stripMargin

  val UpsertSql: String =
    s"""INSERT INTO $Table (device, measure_name, tag_value, measure_value, last_updated)
       |VALUES (?, ?, ?, ?, ?)
       |ON CONFLICT (device, measure_name) DO UPDATE SET
       |  tag_value = EXCLUDED.tag_value,
       |  measure_value = EXCLUDED.measure_value,
       |  last_updated = EXCLUDED.last_updated""".stripMargin

  /** K1 — seed-if-missing (`Services/OpcSubscribeService.cs:656-713`). */
  val SeedSql: String =
    s"""INSERT INTO $Table (device, measure_name, tag_value, measure_value, last_updated)
       |VALUES (?, ?, 0, 0, ?)
       |ON CONFLICT (device, measure_name) DO NOTHING""".stripMargin

  /** K3 — startup offline reset (`Services/OpcSubscribeService.cs:717-739`). */
  val OfflineResetSql: String =
    s"""UPDATE $Table SET tag_value = 0, measure_value = 0, last_updated = ?
       |WHERE measure_name = '${graft.operators.CurrentValues.OnlineMeasure}'""".stripMargin

  /** K4 — heartbeat (`Services/OpcSubscribeService.cs:332-378`): the
    * online-device set stays in the database (subquery), not app memory.
    */
  val HeartbeatSql: String =
    s"""UPDATE $Table SET last_updated = ?
       |WHERE device IN (SELECT device FROM $Table
       |                 WHERE measure_name = '${graft.operators.CurrentValues.OnlineMeasure}'
       |                   AND measure_value = 1)""".stripMargin

  /** The two statement dialects for the keyed-upsert legs. [[Postgres]]
    * is the production target (the reference's database,
    * `ON CONFLICT .. DO UPDATE/NOTHING`); [[AnsiMerge]] expresses the
    * SAME semantics as standard `MERGE` (Postgres 15+, Derby, H2, …) and
    * exists so the full Target — batching, transactions, rollback, the
    * heartbeat subquery — can be exercised against a LIVE embedded engine
    * (Apache Derby ships with Spark; see JdbcDerbySpec). The [[Postgres]]
    * dialect ALSO runs live: no JDBC driver jar resolves offline, so
    * PgLiveSpec drives a real Postgres 15 server through
    * [[graft.control.PgWire]] (hand-written v3 wire protocol) —
    * `ON CONFLICT` upsert/seed, reset, heartbeat, and the rollback path
    * are all engine-verified, closing the former dialect-drift residual.
    * UPDATE-leg statements (reset, heartbeat) are ANSI and shared.
    */
  sealed trait Dialect {
    def upsertSql: String
    def seedSql: String
    def bindUpsert(st: java.sql.PreparedStatement, r: ModRow): Unit
    def bindSeed(st: java.sql.PreparedStatement, device: String, measure: String, nowS: String): Unit
  }
  case object Postgres extends Dialect {
    val upsertSql: String = UpsertSql
    val seedSql: String = SeedSql
    def bindUpsert(st: java.sql.PreparedStatement, r: ModRow): Unit = {
      st.setString(1, r.device); st.setString(2, r.measure_name)
      st.setDouble(3, r.tag_value); st.setDouble(4, r.measure_value)
      st.setString(5, r.last_updated)
    }
    def bindSeed(st: java.sql.PreparedStatement, device: String, measure: String, nowS: String): Unit = {
      st.setString(1, device); st.setString(2, measure); st.setString(3, nowS)
    }
  }
  case object AnsiMerge extends Dialect {
    // Derby's MERGE source must be a base table or table function — the
    // one-row SYSIBM.SYSDUMMY1 with the key parameters in the ON clause
    // is the standard single-row-upsert form
    val upsertSql: String =
      s"""MERGE INTO $Table t
         |USING SYSIBM.SYSDUMMY1 s
         |ON t.device = ? AND t.measure_name = ?
         |WHEN MATCHED THEN UPDATE SET
         |  tag_value = ?, measure_value = ?, last_updated = ?
         |WHEN NOT MATCHED THEN INSERT (device, measure_name, tag_value, measure_value, last_updated)
         |VALUES (?, ?, ?, ?, ?)""".stripMargin
    // WHEN NOT MATCHED only = ON CONFLICT DO NOTHING
    val seedSql: String =
      s"""MERGE INTO $Table t
         |USING SYSIBM.SYSDUMMY1 s
         |ON t.device = ? AND t.measure_name = ?
         |WHEN NOT MATCHED THEN INSERT (device, measure_name, tag_value, measure_value, last_updated)
         |VALUES (?, ?, 0, 0, ?)""".stripMargin
    def bindUpsert(st: java.sql.PreparedStatement, r: ModRow): Unit = {
      st.setString(1, r.device); st.setString(2, r.measure_name)
      st.setDouble(3, r.tag_value); st.setDouble(4, r.measure_value)
      st.setString(5, r.last_updated)
      st.setString(6, r.device); st.setString(7, r.measure_name)
      st.setDouble(8, r.tag_value); st.setDouble(9, r.measure_value)
      st.setString(10, r.last_updated)
    }
    def bindSeed(st: java.sql.PreparedStatement, device: String, measure: String, nowS: String): Unit = {
      st.setString(1, device); st.setString(2, measure)
      st.setString(3, device); st.setString(4, measure); st.setString(5, nowS)
    }
  }

  /** UpsertTarget over a JDBC connection factory. One connection and
    * transaction per partition (ingest batch) or per control-plane call;
    * prepared-statement batches chunked at `batchSize` to bound executor
    * memory regardless of partition size.
    */
  final class Target(connect: () => Connection, batchSize: Int = 500,
                     dialect: Dialect = Postgres)
      extends UpsertTarget {

    /** Transaction-abort states worth one more try: 40P01 (Postgres
      * deadlock_detected — concurrent partition upserts vs the
      * full-table heartbeat/offlineReset UPDATEs can acquire row locks
      * in conflicting orders) and 40001 (serialization_failure). Every
      * Target operation is idempotent (ON CONFLICT/MERGE upserts,
      * insert-if-missing seed, absolute-value UPDATEs), so replaying the
      * whole aborted transaction is safe.
      */
    private val RetryableStates = Set("40P01", "40001")
    private val MaxTxRetries = 3

    private def withConnection(body: Connection => Unit): Unit = {
      def once(): Unit = {
        val conn = connect()
        try {
          conn.setAutoCommit(false)
          body(conn)
          conn.commit()
        } catch {
          case e: Throwable =>
            // a rollback on a dead connection throws too — keep the ORIGINAL
            // write failure as the propagated cause, not the rollback noise
            try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
            throw e
        } finally conn.close()
      }
      var attempt = 0
      var done = false
      while (!done) {
        try { once(); done = true }
        catch {
          case e: java.sql.SQLException
              if RetryableStates.contains(e.getSQLState) && attempt < MaxTxRetries =>
            attempt += 1
            // never silent: deadlock/serialization aborts must be visible in
            // soak artifacts (same posture as the QUERY DIED listener) or a
            // lock-order regression hides inside "retry worked eventually"
            System.err.println(
              s"[jdbc-upsert] retryable tx abort ${e.getSQLState} " +
                s"(attempt $attempt/$MaxTxRetries): ${e.getMessage}")
            Thread.sleep(50L * attempt)
        }
      }
    }

    override def upsertPartition(rows: Iterator[ModRow]): Unit = {
      if (!rows.hasNext) return
      // deterministic (device, measure) order: concurrent partition
      // transactions then acquire row locks in the SAME order, which
      // removes upsert-vs-upsert deadlocks outright (the retry above
      // remains for upsert-vs-full-table-UPDATE conflicts). The buffer
      // is bounded: the per-batch keyed reduction upstream emits at most
      // one row per (device, measure) per micro-batch.
      val sorted = rows.toSeq.sortBy(r => (r.device, r.measure_name))
      withConnection { conn =>
        val st = conn.prepareStatement(dialect.upsertSql)
        try {
          var n = 0
          sorted.foreach { r =>
            dialect.bindUpsert(st, r)
            st.addBatch()
            n += 1
            if (n % batchSize == 0) st.executeBatch()
          }
          if (n % batchSize != 0) st.executeBatch()
        } finally st.close()
      }
    }

    override def seed(keys: Seq[(String, String)], nowS: String): Unit = {
      if (keys.isEmpty) return
      withConnection { conn =>
        val st = conn.prepareStatement(dialect.seedSql)
        try {
          keys.foreach { case (device, measure) =>
            dialect.bindSeed(st, device, measure, nowS)
            st.addBatch()
          }
          st.executeBatch()
        } finally st.close()
      }
    }

    override def offlineReset(nowS: String): Unit =
      withConnection { conn =>
        val st = conn.prepareStatement(OfflineResetSql)
        try { st.setString(1, nowS); st.executeUpdate() } finally st.close()
      }

    override def heartbeat(nowS: String): Unit =
      withConnection { conn =>
        val st = conn.prepareStatement(HeartbeatSql)
        try { st.setString(1, nowS); st.executeUpdate() } finally st.close()
      }
  }

  def bootstrap(connect: () => Connection): Unit = {
    val conn = connect()
    try {
      val st = conn.createStatement()
      try st.execute(CreateTableSql) finally st.close()
    } finally conn.close()
  }
}
