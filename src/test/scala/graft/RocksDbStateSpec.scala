package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.DocEvent

/** RocksDB state store parity (r10 verdict #3): `StreamingDedup`'s
  * scaladoc claims "RocksDB state store in production" but every spec to
  * date ran the default in-memory HDFSBackedStateStoreProvider, so the
  * claim was documentation, not behavior. This suite runs the SAME
  * first-seen-dedup scenario as StreamingDedupSpec under
  * `RocksDBStateStoreProvider` (the provider Spark ships for exactly
  * this: state too large for executor heaps, checkpointed to the query's
  * checkpoint location), asserts result parity with the in-memory
  * provider, proves via the state-operator custom metrics that RocksDB
  * was genuinely engaged, and records state-size behavior under the TTL
  * eviction contract (numRowsTotal must DROP when the horizon passes —
  * the boundedness claim, now measured against the production provider).
  *
  * The provider class is a session conf read at query START, so it is
  * set per-test and restored in a finally: the shared SparkSpec session
  * must not leak RocksDB state stores into unrelated suites.
  */
class RocksDbStateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The StreamingDedupSpec scenario, parameterized by provider; returns
    * (emitted survivor rows, state rows after batch 2, rocksdb metric
    * keys seen in the last progress).
    */
  private def runScenario(provider: Option[String], name: String)
      : (Set[(Long, String, Long)], Long, Set[String]) = {
    implicit val sqlCtx = spark.sqlContext
    withStateStore(provider) {
      val input = MemoryStream[DocEvent]
      val out = StreamingDedup.firstSeen(input.toDS().toDF())
      val query = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData(
          DocEvent(11L, "fpA", ts("2024-01-01 00:00:05")),
          DocEvent(7L, "fpA", ts("2024-01-01 00:00:02")),
          DocEvent(20L, "fpB", ts("2024-01-01 00:00:03")))
        query.processAllAvailable()
        input.addData(
          DocEvent(30L, "fpA", ts("2024-01-01 00:00:30")),
          DocEvent(40L, "fpC", ts("2024-01-01 00:00:31")))
        query.processAllAvailable()
        val rows = spark.table(name)
          .select("doc_id", "fp", "dups_at_emit").as[(Long, String, Long)]
          .collect().toSet
        val so = query.lastProgress.stateOperators
        val stateRows = if (so.isEmpty) -1L else so(0).numRowsTotal
        val metricKeys: Set[String] =
          if (so.isEmpty) Set.empty
          else {
            val it = so(0).customMetrics.keySet().iterator()
            val b = Set.newBuilder[String]
            while (it.hasNext) b += it.next()
            b.result()
          }
        (rows, stateRows, metricKeys)
      } finally query.stop()
    }
  }

  test("first-seen dedup under RocksDBStateStoreProvider: results identical to in-memory provider, RocksDB genuinely engaged") {
    val (memRows, memState, _) = runScenario(None, "rocks_mem_t")
    val (rocksRows, rocksState, rocksMetrics) = runScenario(Some(SparkSpec.RocksDbProvider), "rocks_db_t")
    // parity: emitted survivors AND retained state count match exactly
    assert(rocksRows == memRows)
    assert(rocksRows == Set((7L, "fpA", 1L), (20L, "fpB", 0L), (40L, "fpC", 0L)))
    assert(rocksState == memState && rocksState == 3L) // fpA, fpB, fpC
    // the provider must actually be RocksDB, not a silently-ignored conf:
    // its state-operator progress carries rocksdb* custom metrics the
    // HDFS-backed provider never emits
    assert(rocksMetrics.exists(_.startsWith("rocksdb")),
      s"no rocksdb custom metrics in $rocksMetrics")
  }

  test("TTL eviction under RocksDB: state row count drops when the seen-state horizon passes") {
    implicit val sqlCtx = spark.sqlContext
    withStateStore(Some(SparkSpec.RocksDbProvider)) {
      val input = MemoryStream[DocEvent]
      val out = StreamingDedup.firstSeen(input.toDS().toDF(),
        delay = "0 seconds", ttlMillis = 10000L)
      val query = out.writeStream.format("memory").queryName("rocks_ttl_t")
        .outputMode("append").start()
      try {
        input.addData(
          DocEvent(1L, "fpX", ts("2024-01-01 00:00:01")),
          DocEvent(2L, "fpY", ts("2024-01-01 00:00:02")))
        query.processAllAvailable()
        val before = query.lastProgress.stateOperators(0).numRowsTotal
        // watermark jumps far past both TTLs: the timed-out entries are
        // removed (state stays bounded on the production provider too)
        input.addData(DocEvent(3L, "late", ts("2024-01-01 00:10:00")))
        query.processAllAvailable()
        input.addData(DocEvent(4L, "late2", ts("2024-01-01 00:11:00")))
        query.processAllAvailable()
        val after = query.lastProgress.stateOperators(0).numRowsTotal
        assert(before == 2L)
        // EXACT census (r11 ADVICE tightened `< before + 2`, which passed
        // on partial eviction): ttl=10 s, so by the final watermark
        // (00:11:00, delay 0) fpX/fpY (deadlines 00:00:1x) AND the first
        // late key (deadline 00:10:10) are all expired — only `late2`
        // (deadline 00:11:10) may remain. Any surviving expired entry
        // makes this >= 2 and fails.
        assert(after == 1L,
          s"TTL eviction incomplete under RocksDB: $before -> $after (want exactly 1)")
        // and the evicted fingerprint re-admits (the TTL contract holds
        // across the provider swap)
        input.addData(DocEvent(5L, "fpX", ts("2024-01-01 00:12:00")))
        query.processAllAvailable()
        val fpx = spark.table("rocks_ttl_t").where("fp = 'fpX'")
          .select("doc_id").as[Long].collect().toSet
        assert(fpx == Set(1L, 5L))
      } finally query.stop()
    }
  }
}
