package perfbench

import scala.collection.mutable
import graft.operators.CurrentValues

/** What `modvalues` must hold after the pipeline has drained a log,
  * computed from the generator alone.
  */
object Expected {

  /** One (device, measure) row as the sink writes it. */
  final case class Row(tagValue: Double, measureValue: Double, lastUpdated: String)

  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  def formatMicros(us: Long): String =
    tsFormat.format(java.time.Instant.EPOCH.plusNanos(us * 1000L))

  /** Inverse of [[formatMicros]], without allocation on the sink's hot path. */
  def parseMicros(s: String): Long = {
    def n(from: Int, to: Int): Int = {
      var v = 0; var i = from
      while (i < to) { v = v * 10 + (s.charAt(i) - '0'); i += 1 }
      v
    }
    val day = java.time.LocalDate.of(n(0, 4), n(5, 7), n(8, 10)).toEpochDay
    ((day * 86400L + n(11, 13) * 3600L + n(14, 16) * 60L + n(17, 19)) * 1000000L) + n(20, 26)
  }

  private def bround3(v: Double): Double =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  /** The last good value of every key, ordered by (source_ts, sequence),
    * scaled by slope 1 and offset 0 as the pipeline is started. Duplicates
    * carry their original's content, so they cannot change the answer.
    */
  def values(events: Iterator[(Long, (String, String, Double, Long, Boolean))]): Map[(String, String), Row] = {
    val best = mutable.HashMap.empty[(String, String), (Long, Long, Double)]
    events.foreach { case (seq, (dev, meas, v, ts, ok)) =>
      if (ok && meas != CurrentValues.OnlineMeasure) {
        val k = (dev, meas)
        best.get(k) match {
          case Some((bts, bseq, _)) if bts > ts || (bts == ts && bseq > seq) => ()
          case _ => best(k) = (ts, seq, v)
        }
      }
    }
    best.iterator.map { case (k, (ts, _, v)) =>
      k -> Row(bround3(v), bround3(v * 1.0 + 0.0), formatMicros(ts))
    }.toMap
  }

  /** Devices that sent at least one event: each must own exactly one
    * online row.
    */
  def devices(events: Iterator[(Long, (String, String, Double, Long, Boolean))]): Set[String] =
    events.map(_._2._1).toSet

  /** The log [0, latest) of a feed with sequence numbers. */
  def log(feed: graft.sources.MeasureFeed, latest: Long): Iterator[(Long, (String, String, Double, Long, Boolean))] =
    Iterator.range(0L, latest).map(i => (i, feed.at(i)))

  /** Compare the table read back with what the log implies. Returns
    * (value rows checked, value rows wrong, devices checked, online rows wrong)
    * plus a short description of the first differences.
    */
  def compare(table: Seq[(String, String, String, String, String)],
              want: Map[(String, String), Row],
              devices: Set[String]): (Long, Long, Long, Long, Seq[String]) = {
    val (online, values) = table.partition(_._2 == CurrentValues.OnlineMeasure)
    val diffs = mutable.ArrayBuffer.empty[String]
    var wrongValues = 0L
    val seen = mutable.HashSet.empty[(String, String)]
    values.foreach { case (d, m, tag, mv, lu) =>
      seen += ((d, m))
      want.get((d, m)) match {
        case Some(w) if tag.toFloat == w.tagValue.toFloat &&
            mv.toFloat == w.measureValue.toFloat && lu == w.lastUpdated => ()
        case other =>
          wrongValues += 1
          if (diffs.size < 5) diffs += s"($d,$m) table=($tag,$mv,$lu) want=$other"
      }
    }
    val missing = want.keySet.count(k => !seen(k))
    if (missing > 0) diffs += s"$missing value rows missing"
    val onlineByDevice = online.groupBy(_._1)
    val badOnline = devices.count { d =>
      onlineByDevice.get(d) match {
        case Some(Seq(r)) => !(r._4.toFloat == 0f || r._4.toFloat == 1f)
        case _ => true
      }
    } + onlineByDevice.keySet.count(d => !devices(d))
    if (badOnline > 0) diffs += s"$badOnline devices without exactly one online row in {0,1}"
    (want.size.toLong, wrongValues + missing, devices.size.toLong, badOnline.toLong, diffs.toSeq)
  }
}
