package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One timed call at a layer boundary. Times are epoch microseconds.
  * `id` is the micro-batch (`<query id>:<batch id>`), the board pass or
  * the board query the span belongs to; `parent` is the enclosing span as
  * `<name>:<id>`, or the query or workload name at the root.
  */
final case class Span(name: String, startUs: Long, endUs: Long, parent: String, id: String)

/** Spans of one traced run, kept in memory and written when it ends. */
object Spans {
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var enabled = false

  private val nanoAnchor = System.nanoTime()
  private val epochAnchorUs = System.currentTimeMillis() * 1000L
  def epochUs(nanos: Long): Long = epochAnchorUs + (nanos - nanoAnchor) / 1000L

  def add(s: Span): Unit = if (enabled) spans.add(s)
  def timed(name: String, startNs: Long, endNs: Long, parent: String, id: String): Unit =
    if (enabled) spans.add(Span(name, epochUs(startNs), epochUs(endNs), parent, id))
  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startUs).map(s =>
      Json.obj(Seq("name" -> Json.str(s.name), "start_us" -> s.startUs.toString,
        "end_us" -> s.endUs.toString, "parent" -> Json.str(s.parent), "id" -> Json.str(s.id))))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Task-level work, attributed to a key read from the job's local
  * properties (a micro-batch, or a board query's construction or
  * execution). A stage's wall is submission to completion; its skew is
  * the longest task over that wall.
  */
final class TaskLedger(keyOf: java.util.Properties => Option[String]) extends SparkListener {
  final class Work {
    var jobs = 0
    var tasks = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val stageShares = mutable.ArrayBuffer.empty[Double]
  }
  private final class StageAcc(val key: String) {
    var maxTaskMs = 0L
    var tasks = 0
    var readsShuffle = false
  }
  private val byKey = new ConcurrentHashMap[String, Work]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()

  private def work(k: String): Work = byKey.computeIfAbsent(k, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    keyOf(Option(e.properties).getOrElse(new java.util.Properties)).foreach { k =>
      val w = work(k)
      w.synchronized(w.jobs += 1)
      e.stageIds.foreach(s => stageKey.put(s, k))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val w = work(k)
      val m = e.taskMetrics
      val st = stages.computeIfAbsent(e.stageId, _ => new StageAcc(k))
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.taskMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      st.synchronized {
        st.tasks += 1
        st.maxTaskMs = math.max(st.maxTaskMs, e.taskInfo.duration)
        if (m != null && m.shuffleReadMetrics.totalBlocksFetched > 0) st.readsShuffle = true
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.remove(e.stageInfo.stageId)).foreach { st =>
      for (sub <- e.stageInfo.submissionTime; done <- e.stageInfo.completionTime
           if st.tasks >= 2 && st.readsShuffle && done > sub) {
        val w = work(st.key)
        w.synchronized(w.stageShares += st.maxTaskMs.toDouble / (done - sub))
      }
    }

  def get(k: String): Option[Work] = Option(byKey.get(k))
  def keys: Seq[String] = byKey.keySet().asScala.toSeq
}
