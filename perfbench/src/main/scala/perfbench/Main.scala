package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, cores: Int, sfDir: String)

/** One workload in one JVM: `run.py` launches this with its own command-line
  * arguments plus `--work <dir> --cores <n> --sf-dir <dir>`, and reads the
  * result from `<work>/result.json`.
  */
object Main {

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("cores").toInt, need("sf-dir"))
  }

  /** JVM start to a ready local session, in seconds: the part of set-up
    * every workload pays once.
    */
  def boot(o: Opts): (SparkSession, Double) = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1).count() // first job: executor threads, codegen classes
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (s, (System.currentTimeMillis() - jvmStartMs) / 1000.0)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = parse(args)
        Files.createDirectories(Paths.get(o.work))
        Spans.enabled = o.trace
        Proc.LiveHeap.install()
        val result = o.workload match {
          case "ingest_paced" => Ingest.run(Ingest.Paced, o)
          case "ingest_bulk" => Ingest.run(Ingest.Bulk, o)
          case "board_mix" => Board.run(o)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        if (o.trace) Spans.write(Paths.get(o.work, "spans.jsonl"))
        Files.writeString(Paths.get(o.work, "result.json"), result.toJson)
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    // Spark's non-daemon threads would otherwise keep a failed run alive
    System.exit(code)
  }
}
