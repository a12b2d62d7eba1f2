package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** What the box did besides this run, read from /proc.
  *
  * Foreign load is the box-minus-self method: busy jiffies of the whole
  * box over a window, minus the jiffies of this JVM and of the Postgres
  * server it started (whose backends do the sink's work), divided by the
  * window.
  */
object Proc {

  /** USER_HZ: Linux fixes /proc jiffies at 100 per second for userspace. */
  private val Hz = 100.0

  private def read(p: Path): Option[String] = Try(Files.readString(p)).toOption

  /** utime + stime (+ reaped children when `children`) of one process. */
  private def jiffies(pid: Long, children: Boolean): Long =
    read(Paths.get(s"/proc/$pid/stat")).map { s =>
      // fields after the parenthesised comm; utime/stime/cutime/cstime
      // are fields 14..17 of the line
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong + (if (children) f(13).toLong + f(14).toLong else 0L)
    }.getOrElse(0L)

  private def parent(pid: Long): Long =
    read(Paths.get(s"/proc/$pid/stat"))
      .map(s => s.substring(s.lastIndexOf(')') + 2).split(" ")(1).toLong).getOrElse(-1L)

  /** Jiffies of the postmaster (with its reaped backends) and of its live
    * children; 0 when no server runs.
    */
  private def postgresJiffies(postmasterPid: Option[Long]): Long =
    postmasterPid.fold(0L) { pm =>
      val kids = Try(Files.list(Paths.get("/proc")).iterator().asScala
        .map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong)
        .filter(p => parent(p) == pm).toList).getOrElse(Nil)
      jiffies(pm, children = true) + kids.map(jiffies(_, children = false)).sum
    }

  final case class CpuSnapshot(boxBusy: Long, self: Long, nanos: Long)

  def cpuSnapshot(postmasterPid: Option[Long]): CpuSnapshot = {
    val cpu = read(Paths.get("/proc/stat")).map(_.linesIterator.next()).getOrElse("cpu 0 0 0 0")
    val f = cpu.trim.split("\\s+").drop(1).map(_.toLong)
    val busy = f.sum - f(3) - (if (f.length > 4) f(4) else 0L) // minus idle and iowait
    CpuSnapshot(busy, jiffies(ProcessHandle.current().pid(), children = true) +
      postgresJiffies(postmasterPid), System.nanoTime())
  }

  /** Cores' worth of CPU that others used between two snapshots. */
  def foreignCores(a: CpuSnapshot, b: CpuSnapshot): Double = {
    val secs = math.max((b.nanos - a.nanos) / 1e9, 1e-9)
    math.max(0.0, ((b.boxBusy - a.boxBusy) - (b.self - a.self)) / Hz) / secs
  }

  /** Largest heap occupancy right after a collection, in MB: the most
    * memory the run needed live, which unlike the resident set does not
    * depend on how far the collector chose to grow the heap.
    */
  object LiveHeap {
    @volatile private var peakBytes = 0L
    def install(): Unit =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
              synchronized { peakBytes = math.max(peakBytes, used) }
            }, null, null)
        case _ => ()
      }
    def peakMb: Double = peakBytes / (1024.0 * 1024.0)
  }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def rssPeakMb(): Double =
    read(Paths.get("/proc/self/status")).flatMap(_.linesIterator
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0))
      .getOrElse(0.0)
}
