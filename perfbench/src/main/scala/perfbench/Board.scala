package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkEntry

/** The batch board: a fixed mix of `SparkEntry.queries` over the read-only
  * sf0.1 testdata, each materialised with the `noop` writer as `Bench`
  * does. The seed fixes the order the queries run in.
  */
object Board {

  /** One query from every `queries` module, cheap enough that several
    * timed passes fit a run. q19 fires 15 jobs while its DataFrame is built and q123,
    * q166 and q27 three to six, so building DataFrames is a large share of
    * a pass; q03 is the floor of a light reference-path query.
    */
  val Queries: Seq[String] = Seq(
    "q03_scale_slope_intercept", // ReferenceQueries
    "q19_node_tree", // ControlPlaneQueries
    "q27_rollup", // RelationalQueries
    "q31_dedup_fingerprint", // DedupQueries
    "q41_lsh_buckets", // SimilarityQueries
    "q123_bpe_train", // TextQueries
    "q53_hash_split", // TrainingQueries
    "q166_quantile_binning") // FeatureQueries

  /** Foreign load, in cores, above which a board window is measured again. */
  val RetryCores = 0.15

  def moduleOf: Map[String, String] = {
    import graft.queries._
    Seq("ReferenceQueries" -> ReferenceQueries.defs, "ControlPlaneQueries" -> ControlPlaneQueries.defs,
      "RelationalQueries" -> RelationalQueries.defs, "DedupQueries" -> DedupQueries.defs,
      "SimilarityQueries" -> SimilarityQueries.defs, "TextQueries" -> TextQueries.defs,
      "TrainingQueries" -> TrainingQueries.defs, "FeatureQueries" -> FeatureQueries.defs)
      .flatMap { case (m, defs) => defs.map(_.name -> m) }.toMap
  }

  final case class Sample(query: String, pass: Int, constructS: Double, execS: Double) {
    def totalS: Double = constructS + execS
  }

  /** Catalyst phase timings of every query execution Spark reports. */
  final class PlanLog extends QueryExecutionListener {
    val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (name, s) => phases.add((name, s.startTimeMs, s.endTimeMs)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def run(o: Opts): RunResult = {
    val (spark, bootS) = Main.boot(o)
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val order = SeededFeed.shuffled(Queries.size, o.seed).toSeq.map(Queries)
    val out = Paths.get(o.work, "board")
    Files.createDirectories(out)
    val errors = mutable.LinkedHashMap.empty[String, String]
    def err(q: String, e: Throwable): Unit =
      errors.getOrElseUpdate(q, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")

    // ---- set-up: one untimed pass warms the JIT and codegen and writes
    // every output for the oracle comparison
    val warmT0 = System.nanoTime()
    var failedRuns = 0
    val warmEach = order.map { q =>
      val t0 = System.nanoTime()
      try fns(q)(spark, o.sfDir).write.mode("overwrite").parquet(out.resolve(q).toString)
      catch { case e: Throwable => err(q, e); failedRuns += 1 }
      f"$q ${(System.nanoTime() - t0) / 1e9}%.2f"
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(order.flatMap(q => oracle.get(q).map(q -> Json.str(_)))))

    val ledger = new TaskLedger(p => Option(p.getProperty("spark.jobGroup.id")).filter(_.startsWith("board:")))
    val plans = new PlanLog
    if (o.trace) {
      spark.sparkContext.addSparkListener(ledger)
      spark.listenerManager.register(plans)
    }

    // ---- timed passes until the window is used up. Other tenants of the
    // machine swing board times by 20-30%: a window that saw more than
    // RetryCores of foreign load is measured once more, and the quieter of
    // the two is kept, as Bench does.
    val sc = spark.sparkContext
    val passWalls = mutable.Map.empty[Int, (Long, Long)] // epoch ms
    val notes = mutable.ArrayBuffer.empty[String]
    var pass = 0
    def window(): (Seq[Sample], Double, Double) = {
      val samples = mutable.ArrayBuffer.empty[Sample]
      val before = Proc.cpuSnapshot(None)
      val windowT0 = System.nanoTime()
      val first = pass
      while (pass == first || System.nanoTime() - windowT0 < o.seconds * 1000000000L) {
        val passStart = System.currentTimeMillis()
        val passStartNs = System.nanoTime()
        order.foreach { q =>
          try {
            sc.setJobGroup(s"board:$pass:$q:construct", q, interruptOnCancel = false)
            val t0 = System.nanoTime()
            val df = fns(q)(spark, o.sfDir)
            val t1 = System.nanoTime()
            sc.setJobGroup(s"board:$pass:$q:exec", q, interruptOnCancel = false)
            df.write.format("noop").mode("overwrite").save()
            val t2 = System.nanoTime()
            samples += Sample(q, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
            Spans.timed("queries.construct", t0, t1, s"board.pass:$pass", q)
            Spans.timed("operators.execute", t1, t2, s"board.pass:$pass", q)
          } catch { case e: Throwable => err(q, e); failedRuns += 1 }
          finally sc.clearJobGroup()
        }
        passWalls(pass) = (passStart, System.currentTimeMillis())
        Spans.timed("board.pass", passStartNs, System.nanoTime(), "board_mix", pass.toString)
        pass += 1
      }
      (samples.toSeq, Proc.foreignCores(before, Proc.cpuSnapshot(None)), (System.nanoTime() - windowT0) / 1e9)
    }
    var (samples, foreign, windowS) = window()
    if (foreign > RetryCores) {
      val (again, foreign2, windowS2) = window()
      notes += f"window measured again: $foreign%.2f foreign cores, then $foreign2%.2f"
      if (foreign2 < foreign) { samples = again; foreign = foreign2; windowS = windowS2 }
    }
    val rss = Proc.rssPeakMb()

    // each query's median over the timed passes; over 10 seeds this spread
    // less than the fastest pass or the median of all samples
    val perQuery = samples.groupBy(_.query).view.mapValues(ss => Stats.median(ss.map(_.totalS).toSeq)).toMap
    val perQueryMs = perQuery.values.map(_ * 1000.0).toIndexedSeq.sorted
    val boardS = perQuery.values.sum
    val setupS = bootS + warmS
    val p50 = if (perQueryMs.isEmpty) 0.0 else Stats.median(perQueryMs)
    val endToEnd = Seq(
      Metric("latency_p50_ms", p50, "ms"),
      Metric("latency_p99_ms", if (perQueryMs.isEmpty) 0.0 else Stats.percentile(perQueryMs, 99), "ms"),
      Metric("throughput_per_s", perQuery.size / boardS, "1/s"),
      Metric("setup_s", setupS, "s"),
      Metric("heap_live_peak_mb", Proc.LiveHeap.peakMb, "MB"))
    val named = Seq(
      Metric("board_s", boardS, "s"),
      Metric("query_p50_s", p50 / 1000.0, "s"),
      Metric("setup_s", setupS, "s"),
      Metric("rss_peak_mb", rss, "MB"),
      Metric("passes", samples.map(_.pass).distinct.size, "count"),
      Metric("window_s", windowS, "s"))
    val checks = Seq(Check("queries_ran", order.size.toLong * (pass + 1), failedRuns,
      errors.map { case (q, e) => s"$q: $e" }.mkString("; ")))
    notes ++= Seq(f"set-up: boot $bootS%.2f s, warm pass $warmS%.2f s (${warmEach.mkString(", ")}); $pass timed passes",
      "timed: " + samples.map(s => f"${s.query}:${s.totalS}%.2f").mkString(" "))
    val layers = if (!o.trace || samples.isEmpty) Seq.empty else {
      // listener events arrive asynchronously: let the bus go quiet
      var last = -1
      while (ledger.keys.size + plans.phases.size != last) {
        last = ledger.keys.size + plans.phases.size
        Thread.sleep(300)
      }
      layerMetrics(samples, passWalls.toMap, ledger, plans, foreign)
    }
    spark.stop()
    RunResult("board_mix", checks, endToEnd, named, layers, foreign, notes.toSeq)
  }

  private def layerMetrics(samples: Seq[Sample], passWalls: Map[Int, (Long, Long)], ledger: TaskLedger,
                           plans: PlanLog, foreign: Double): Seq[Metric] = {
    import Layers.{MB, p50}
    val modules = moduleOf
    val phases = plans.phases.asScala.toSeq
    val perPass = samples.groupBy(_.pass).toSeq.sortBy(_._1).map { case (pass, ss) =>
      def works(kind: String) = ss.flatMap(s => ledger.get(s"board:$pass:${s.query}:$kind"))
      val exec = works("exec")
      val (from, to) = passWalls(pass)
      def phase(name: String) =
        phases.filter(p => p._1 == name && p._2 >= from && p._2 <= to).map(p => (p._3 - p._2).toDouble).sum
      val execS = ss.map(_.execS).sum
      val taskS = exec.map(_.taskMs).sum / 1000.0
      Map(
        "queries.construct_s" -> ss.map(_.constructS).sum,
        "queries.construct_jobs" -> works("construct").map(_.jobs).sum.toDouble,
        "plans.analysis_ms" -> phase("analysis"),
        "plans.optimize_ms" -> phase("optimization"),
        "plans.physical_ms" -> phase("planning"),
        "operators.exec_s" -> execS,
        "operators.jobs" -> exec.map(_.jobs).sum.toDouble,
        "operators.tasks" -> exec.map(_.tasks).sum.toDouble,
        "operators.task_s" -> taskS,
        "operators.parallelism" -> taskS / execS,
        "operators.max_task_share" -> p50(exec.flatMap(_.stageShares)),
        "operators.shuffle_write_mb" -> exec.map(_.shuffleWriteBytes).sum / MB,
        "operators.spill_mb" -> exec.map(_.spillBytes).sum / MB,
        "operators.gc_s" -> exec.map(_.gcMs).sum / 1000.0) ++
        Layers.Modules.map(m => s"queries.${m}_s" ->
          ss.filter(s => modules.get(s.query).contains(m)).map(_.totalS).sum)
    }
    // the median pass, metric by metric
    Layers.complete(perPass.head.keys.map(k => k -> p50(perPass.map(_(k)))).toMap +
      ("box.foreign_cores" -> foreign))
  }
}
