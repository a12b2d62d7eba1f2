package perfbench

import graft.sources.MeasureFeed

/** Shape of a generated OPC UA subscription. `points` (device, measure)
  * pairs are each sampled once per cycle of `ticksPerCycle` ticks of
  * `tickMicros` event time, staggered so every tick carries the same
  * number of fresh samples. Points per device follow a Zipf law with
  * exponent `zipfS`, so device-keyed work is skewed. A `badShare` of
  * samples carry a bad status, and `dupShare` more events per tick
  * redeliver an earlier event unchanged, at most `dupBackTicks` ticks back.
  */
final case class FeedSpec(
    points: Int,
    devices: Int,
    zipfS: Double,
    badShare: Double = 0.10,
    dupShare: Double = 0.01,
    dupBackTicks: Int = 80,
    ticksPerCycle: Int = 50,
    tickMicros: Long = 100000L) {
  require(points % ticksPerCycle == 0, "points must fill every tick of a cycle equally")
  require(devices >= 1 && devices <= points, "need 1..points devices")
  val freshPerTick: Int = points / ticksPerCycle
  val dupsPerTick: Int = math.round(freshPerTick * dupShare).toInt
  val perTick: Int = freshPerTick + dupsPerTick
}

/** The benchmark's seeded measure log, served to the program through
  * `FeedTransport.FeedServer`. Every event is a pure function of
  * (seed, sequence number), as the source's replay contract requires; the
  * generator only moves `latest()`, one whole tick at a time.
  */
final class SeededFeed(val seed: Long, val spec: FeedSpec) extends MeasureFeed {
  import SeededFeed._

  /** Event time of tick 0 (2024-01-01T00:00:00Z). */
  val ts0Micros: Long = 1704067200000000L

  private val (pointDevice, pointMeasure) = assignPoints(seed, spec)
  private val deviceNames = Array.tabulate(spec.devices)(d => f"dev-$d%05d")
  private val measureNames = Array.tabulate(pointMeasure.max + 1)(m => s"m$m")
  // slot order: the points sampled at phase `ph` are order(ph * fresh + s)
  private val order: Array[Int] = shuffled(spec.points, mix(seed, 0x5107L))

  @volatile private var publishedTicks = 0L

  def publish(ticks: Long): Unit = publishedTicks = ticks
  def published: Long = publishedTicks
  override def latest(): Long = publishedTicks * spec.perTick

  override def at(i: Long): (String, String, Double, Long, Boolean) = {
    val t = i / spec.perTick
    val s = (i % spec.perTick).toInt
    if (s < spec.freshPerTick) fresh(t, s)
    else {
      val h = mix(seed ^ 0xD0B1EL, i)
      val back = 1 + java.lang.Long.remainderUnsigned(h, spec.dupBackTicks.toLong)
      fresh(math.max(0L, t - back),
        java.lang.Long.remainderUnsigned(h >>> 17, spec.freshPerTick.toLong).toInt)
    }
  }

  private def fresh(t: Long, s: Int): (String, String, Double, Long, Boolean) = {
    val p = order((t % spec.ticksPerCycle).toInt * spec.freshPerTick + s)
    val h = mix(mix(seed, p.toLong), t / spec.ticksPerCycle)
    // multiples of 1/8 in [-5000, 5000): exact in the table's REAL column
    // and unchanged by the sink's three-decimal rounding
    val value = java.lang.Long.remainderUnsigned(h >>> 8, 80000L) / 8.0 - 5000.0
    val ok = java.lang.Long.remainderUnsigned(h >>> 40, 1000L) >= (spec.badShare * 1000).toLong
    (deviceNames(pointDevice(p)), measureNames(pointMeasure(p)), value,
      ts0Micros + t * spec.tickMicros, ok)
  }
}

object SeededFeed {

  /** SplitMix64 finaliser over (a, b). */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Seeded Fisher-Yates permutation of 0 until n. */
  def shuffled(n: Int, seed: Long): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = java.lang.Long.remainderUnsigned(mix(seed, i.toLong), (i + 1).toLong).toInt
      val x = a(i); a(i) = a(j); a(j) = x
      i -= 1
    }
    a
  }

  /** (device, measure index) per point: device ranks get Zipf-weighted
    * point counts (at least one each), and the seed decides which device
    * holds which rank.
    */
  def assignPoints(seed: Long, spec: FeedSpec): (Array[Int], Array[Int]) = {
    val w = Array.tabulate(spec.devices)(r => 1.0 / math.pow(r + 1.0, spec.zipfS))
    val (spare, total) = (spec.points - spec.devices, w.sum)
    val counts = w.map(x => 1 + math.floor(spare * x / total).toInt)
    var left = spec.points - counts.sum
    var r = 0
    while (left > 0) { counts(r % spec.devices) += 1; left -= 1; r += 1 }
    val rankToDevice = shuffled(spec.devices, mix(seed, 0xDE71CEL))
    val dev = new Array[Int](spec.points)
    val meas = new Array[Int](spec.points)
    var p = 0
    for (rank <- 0 until spec.devices; m <- 0 until counts(rank)) {
      dev(p) = rankToDevice(rank); meas(p) = m; p += 1
    }
    (dev, meas)
  }
}
