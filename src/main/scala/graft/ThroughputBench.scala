package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.sources.MeasureSourceProvider
import graft.streaming.{CurrentValuesSink, IngestPipeline, JdbcUpsert}

/** Streaming ingest throughput: events/second through the FULL pipeline
  * (source → gates → watermark dedup → per-device value + liveness
  * reduction → keyed sink). The reference's ceiling is DB-bound at ~2 Postgres
  * transactions per value on one connection (BASELINE.md "write
  * amplification") — this measures the Spark rebuild's equivalent
  * end-to-end number on the same single node. Prints one JSON line.
  *
  * SPARK_GRAFT_TPUT_TARGET selects the sink:
  *  - memory (default): [[CurrentValuesSink.InMemoryTarget]]
  *  - jdbc_stub: the production [[JdbcUpsert.Target]] — real prepared
  *    statements, batching and transaction discipline, executor-side —
  *    against a no-op JDBC endpoint, i.e. everything but the database's
  *    own round-trip latency (no DB server ships in this container; the
  *    prod target is Postgres). The number is the pipeline+sink-code
  *    ceiling: a real database can only lower it, and the reference's
  *    per-value-transaction design is bound at ~2 round-trips/value
  *    regardless of its server's speed.
  */
object ThroughputBench {

  /** No-op JDBC endpoint (reflective proxies, same technique as
    * JdbcUpsertSpec): swallows writes, counts batched rows.
    */
  object NoOpJdbc {
    val rowsWritten = new java.util.concurrent.atomic.AtomicLong(0L)

    private def stub[T](clazz: Class[T])(pf: PartialFunction[String, AnyRef]): T =
      java.lang.reflect.Proxy.newProxyInstance(clazz.getClassLoader, Array(clazz),
        (_, m, _) => {
          if (pf.isDefinedAt(m.getName)) pf(m.getName)
          else m.getReturnType match {
            case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
            case java.lang.Integer.TYPE => Integer.valueOf(0)
            case _ => null
          }
        }).asInstanceOf[T]

    def connection(): java.sql.Connection = {
      val prepared = stub(classOf[java.sql.PreparedStatement]) {
        case "addBatch" => rowsWritten.incrementAndGet(); null
        case "executeBatch" => Array.empty[Int]
        case "executeUpdate" => Integer.valueOf(0)
      }
      stub(classOf[java.sql.Connection]) {
        case "prepareStatement" => prepared
        case "createStatement" => stub(classOf[java.sql.Statement]) {
          case "execute" => java.lang.Boolean.TRUE
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val seconds = sys.env.getOrElse("SPARK_GRAFT_TPUT_SECONDS", "20").toInt
    val targetMode = sys.env.getOrElse("SPARK_GRAFT_TPUT_TARGET", "memory")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val inputRows = new java.util.concurrent.atomic.AtomicLong(0L)
    var queryId: java.util.UUID = null
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == queryId) inputRows.addAndGet(e.progress.numInputRows)
    })

    val target: CurrentValuesSink.UpsertTarget = targetMode match {
      case "jdbc_stub" => new JdbcUpsert.Target(() => NoOpJdbc.connection())
      case _ => new CurrentValuesSink.InMemoryTarget
    }
    // SPARK_GRAFT_TPUT_FEED=socket: the feed lives behind the FeedTransport
    // server (a ticker advances its clock wall-clock-style) and every
    // partition RANGE-pulls over its own TCP connection — measures the
    // full networked-source path over OPC UA Part 6 binary frames.
    // SPARK_GRAFT_TPUT_OFFERED sets the offered load in events/s (each
    // tick = 10k events, ticker fires 10×/s); SPARK_GRAFT_TPUT_CHUNK_ROWS
    // sets the per-round-trip RANGE size for chunk-size sensitivity runs.
    val feedMode = sys.env.getOrElse("SPARK_GRAFT_TPUT_FEED", "local")
    // SPARK_GRAFT_TPUT_SECURITY=sign|signencrypt: the socket feed speaks
    // Basic256Sha256 -- identities generated at startup, the client
    // keystore + server cert written to a temp dir every executor thread
    // reads (local mode shares the FS; a cluster ships via --files).
    // Measures the crypto tax on the same offered load.
    val secMode = sys.env.get("SPARK_GRAFT_TPUT_SECURITY")
    require(secMode.isEmpty || feedMode == "socket",
      "SPARK_GRAFT_TPUT_SECURITY needs SPARK_GRAFT_TPUT_FEED=socket " +
        "(the local in-process feed has no wire to secure)")
    val offered = sys.env.getOrElse("SPARK_GRAFT_TPUT_OFFERED", "200000").toLong
    val chunkRows = sys.env.getOrElse("SPARK_GRAFT_TPUT_CHUNK_ROWS", "65536").toLong
    // tick granularity is 100k ev/s (10 fires/s × 10k events/tick): the
    // ACTUAL offered load is the rounded value and is what the JSON
    // reports — a 150k request must not be attributed to a 100k run
    val ticksPerFire = math.max(1L, offered / 100000L)
    val actualOffered = if (feedMode == "socket") ticksPerFire * 100000L else offered
    val socketServer = if (feedMode != "socket") None else {
      val feed = new graft.sources.SimulatedFeed(1000, 10,
        startMicros = 1704067200000000L, intervalMicros = 1000L, clockTicks = 0L)
      val ticker = new Thread(() => {
        while (true) { Thread.sleep(100); feed.clockTicks += ticksPerFire }
      }, "feed-ticker")
      ticker.setDaemon(true)
      ticker.start()
      val identity = secMode.map(_ => graft.sources.OpcuaCrypto.generateSelfSigned("tput-server"))
      Some((new graft.sources.FeedTransport.FeedServer(feed, identity = identity), identity))
    }
    val secOptions: Map[String, String] = secMode match {
      case None => Map.empty
      case Some(m) =>
        val client = graft.sources.OpcuaCrypto.generateSelfSigned("tput-client")
        val dir = java.nio.file.Files.createTempDirectory("graft-tput-sec")
        val ks = dir.resolve("client.p12").toString
        val cert = dir.resolve("server.der").toString
        graft.sources.OpcuaCrypto.saveIdentity(client, ks, "tputpass", "graft")
        java.nio.file.Files.write(java.nio.file.Paths.get(cert),
          socketServer.get._2.get.certDer)
        Map("secMode" -> m, "secKeystore" -> ks,
          "secKeystorePass" -> "tputpass", "secServerCert" -> cert)
    }
    val rawBase = spark.readStream
      .format(classOf[MeasureSourceProvider].getName)
      .option("nDevices", 1000).option("nMeasures", 10)
      .option("intervalMicros", 1000L)        // 1 ms ticks: heavy offered load
      .option("ticksPerBatch", 20L)           // 200k rows offered per trigger
      .option("queueCapacity", 1000L)
      .option("numPartitions", cpus)
    val raw = socketServer
      .map { case (srv, _) =>
        secOptions.foldLeft(
          rawBase.option("feedHost", "127.0.0.1").option("feedPort", srv.boundPort)
            .option("chunkRows", chunkRows)) { case (b, (k, v)) => b.option(k, v) }
      }
      .getOrElse(rawBase)
      .load()
    // SPARK_GRAFT_TPUT_STAGE peels the pipeline for bottleneck
    // attribution (r10 verdict #6 — name the stage that caps the 800k
    // leg at ~528k eps): each mode keeps the SAME source and the same
    // numInputRows accounting, so the deltas between modes are the
    // stages' own costs.
    //   source — raw stream into a noop sink: the DSv2 socket pull path
    //            alone (admission ceiling)
    //   gated  — + exclusion gates + watermark dedup (the stateful
    //            exchange) into noop
    //   full   — the complete pipeline (default): IngestPipeline's one
    //            query, value + liveness rows into the target
    val stageMode = sys.env.getOrElse("SPARK_GRAFT_TPUT_STAGE", "full")
    val handle = stageMode match {
      case "source" =>
        IngestPipeline.Handle(raw.writeStream.format("noop")
          .trigger(Trigger.ProcessingTime("0 seconds")).start())
      case "gated" =>
        IngestPipeline.Handle(IngestPipeline.gated(raw).writeStream.format("noop")
          .trigger(Trigger.ProcessingTime("0 seconds")).start())
      case "full" =>
        IngestPipeline.start(raw, target, trigger = Trigger.ProcessingTime("0 seconds"))
      case other =>
        sys.error(s"SPARK_GRAFT_TPUT_STAGE=$other (want source | gated | full)")
    }
    queryId = handle.query.id
    val t0 = System.nanoTime()
    try Thread.sleep(seconds * 1000L) finally {
      val elapsed = (System.nanoTime() - t0) / 1e9
      handle.stop()
      val rows = inputRows.get()
      val eps = rows / elapsed
      val secName = secMode.getOrElse("none")
      val sinkRows = target match {
        case m: CurrentValuesSink.InMemoryTarget => m.snapshot.size.toLong
        case _ => NoOpJdbc.rowsWritten.get()
      }
      println(f"""{"metric":"ingest_throughput","value":$eps%.0f,"unit":"events/sec","rows":$rows,"seconds":$elapsed%.1f,"target":"$targetMode","feed":"$feedMode","security":"$secName","offered":$actualOffered,"chunk_rows":$chunkRows,"stage":"$stageMode","sink_rows":$sinkRows}""")
    }
    socketServer.foreach(_._1.close())
    spark.stop()
  }
}
