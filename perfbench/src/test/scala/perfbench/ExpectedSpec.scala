package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ExpectedSpec extends AnyFunSuite {

  private val T0 = 1704067200000000L
  private def ev(seq: Long, dev: String, m: String, v: Double, tsOff: Long, ok: Boolean) =
    (seq, (dev, m, v, T0 + tsOff, ok))

  test("last good value per key by (source_ts, seq); bad status and online rows ignored") {
    val events = Seq(
      ev(0, "d1", "m0", 1.0, 0, ok = true),
      ev(1, "d1", "m0", 2.0, 100, ok = true),
      ev(2, "d1", "m0", 3.0, 200, ok = false), // newest, but bad status
      ev(3, "d1", "m1", 4.0, 100, ok = true),
      ev(4, "d1", "m1", 5.0, 100, ok = true), // same ts: the later sequence wins
      ev(5, "d1", "m0", 2.0, 100, ok = true), // redelivered duplicate: no change
      ev(6, "d2", "m0", 6.0, 50, ok = true),
      ev(7, "d2", "m0", 7.0, 0, ok = true), // late arrival with an older ts
      ev(8, "d3", "m0", 8.0, 0, ok = false), // no good value at all
      ev(9, "d2", "myPV_online", 1.0, 300, ok = true))
    val want = Expected.values(events.iterator)
    assert(want.keySet == Set(("d1", "m0"), ("d1", "m1"), ("d2", "m0")))
    assert(want(("d1", "m0")) == Expected.Row(2.0, 2.0, "2024-01-01T00:00:00.000100"))
    assert(want(("d1", "m1")).tagValue == 5.0)
    assert(want(("d2", "m0")).tagValue == 6.0)
    assert(Expected.devices(events.iterator) == Set("d1", "d2", "d3"))
  }

  test("the fold agrees with sorting the whole log on a generated feed") {
    val feed = new SeededFeed(7L, FeedSpec(points = 500, devices = 40, zipfS = 1.0))
    feed.publish(230)
    val log = Expected.log(feed, feed.latest()).toSeq
    val bySort = log.filter { case (_, (_, _, _, _, ok)) => ok }
      .sortBy { case (seq, (_, _, _, ts, _)) => (ts, seq) }
      .map { case (_, (d, m, v, ts, _)) => (d, m) -> (v, ts) }.toMap
    val want = Expected.values(log.iterator)
    assert(want.size == bySort.size)
    bySort.foreach { case (k, (v, ts)) =>
      assert(want(k) == Expected.Row(v, v, Expected.formatMicros(ts)))
    }
  }

  test("the generator: pure in (seed, sequence), shares and duplicates as specified") {
    val spec = FeedSpec(points = 5000, devices = 200, zipfS = 1.0)
    val a = new SeededFeed(3L, spec)
    val b = new SeededFeed(3L, spec)
    val c = new SeededFeed(4L, spec)
    val n = 200L * spec.perTick
    val la = (0L until n).map(a.at)
    assert(la == (0L until n).map(b.at))
    assert(la != (0L until n).map(c.at))
    val fresh = (0L until n).filter(i => i % spec.perTick < spec.freshPerTick).map(i => la(i.toInt))
    val bad = fresh.count(!_._5).toDouble / fresh.size
    assert(math.abs(bad - spec.badShare) < 0.02)
    // every point once per cycle: one cycle of fresh events covers each key once
    val cycle = fresh.take(spec.points).map(e => (e._1, e._2))
    assert(cycle.distinct.size == spec.points)
    // a redelivery repeats an earlier event unchanged, within dupBackTicks
    val dups = (0L until n).filter(i => i % spec.perTick >= spec.freshPerTick)
    assert(dups.size == 200 * spec.dupsPerTick)
    dups.foreach { i =>
      val e = la(i.toInt)
      val origTick = (e._4 - a.ts0Micros) / spec.tickMicros
      assert(origTick <= i / spec.perTick && i / spec.perTick - origTick <= spec.dupBackTicks)
      assert(la.take(((origTick + 1) * spec.perTick).toInt).contains(e))
    }
    // Zipf: the busiest device holds far more points than the median one
    val perDevice = cycle.groupBy(_._1).values.map(_.size).toSeq.sorted
    assert(perDevice.last > 10 * perDevice(perDevice.size / 2))
  }

  test("timestamps round-trip through the sink's text format") {
    Seq(T0, T0 + 100000L, T0 + 86399999999L, 0L).foreach { us =>
      assert(Expected.parseMicros(Expected.formatMicros(us)) == us)
    }
  }

  test("compare counts wrong, missing and extra rows") {
    val want = Map(("d1", "m0") -> Expected.Row(1.5, 1.5, "t1"), ("d1", "m1") -> Expected.Row(2.0, 2.0, "t2"))
    val good = Seq(("d1", "m0", "1.5", "1.5", "t1"), ("d1", "m1", "2", "2", "t2"),
      ("d1", "myPV_online", "1", "1", "t2"))
    assert(Expected.compare(good, want, Set("d1")).productIterator.take(4).toSeq == Seq(2L, 0L, 1L, 0L))
    val bad = Seq(("d1", "m0", "1.5", "1.5", "t0"), ("d1", "myPV_online", "0.5", "0.5", "t2"),
      ("d9", "myPV_online", "1", "1", "t2"))
    val (_, wrongValues, _, wrongOnline, diffs) = Expected.compare(bad, want, Set("d1"))
    assert(wrongValues == 2) // one stale, one missing
    assert(wrongOnline == 2) // d1 not in {0,1}, d9 unknown
    assert(diffs.nonEmpty)
  }
}
