package cdcbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.cli.Main
import graft.sources.{WalOffset, WalSource}
import graft.streaming._

/** The pipeline half of the CDC benchmark: one JVM that runs the
  * program's CDC path over a spool directory the generator (run.py)
  * fills, and records what it saw from outside the program.
  *
  * The pipeline is composed from the program's public entry points
  * only: `Main.parse`/`Main.cdcConfig` turn the workload's CLI flags
  * into the config, then `CdcPipeline.fromWalSource` → `transform` →
  * `toGzipFiles` or `toTransport` (with [[CountingTransport]]
  * registered under the sink name in `TransportRegistry`).
  *
  * Protocol (line based): stdout carries `EVENT <name> <monoNanos> ...`
  * lines; stdin takes `stop`. Everything else is written under
  * `--out` when the query has stopped:
  *   acks.tsv       monoNanos, acked line (the `WalSource.ackHooks` edge)
  *   batches.jsonl  one StreamingQueryProgress per line plus its end time
  *   delivered.tsv  transport sink only: sendEndNanos, worker, key, json
  *   stats.json     CPU, GC, heap, RSS, shuffle and send counters
  *   layers.json    traced runs only: prefix-plan timings and spans
  */
object CdcBench {

  /** Own flags, then `--` and the workload's `replicate` command line. */
  final case class Args(work: String, out: String, trace: Boolean,
                        backlogFrom: Long, backlogUntil: Long, cores: Int, replicate: Seq[String])

  private def parseArgs(argv: Array[String]): Args = {
    val (own, rest) = argv.span(_ != "--")
    val m = own.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("work"), m("out"), m.getOrElse("trace", "0") == "1",
      m("backlog-from").toLong, m("backlog-until").toLong, m.getOrElse("cores", "4").toInt,
      rest.drop(1).toSeq)
  }

  private val monoOffsetNanos: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def wallMillisToMono(ms: Long): Long = ms * 1000000L - monoOffsetNanos

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def vmHwmKb(): Long = {
    val f = new File("/proc/self/status")
    if (!f.exists()) -1L
    else Files.readAllLines(f.toPath).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }

  private def emit(name: String, fields: Any*): Unit = synchronized {
    println((Seq("EVENT", name, System.nanoTime().toString) ++ fields.map(_.toString)).mkString(" "))
    Console.out.flush()
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parseArgs(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(a: Args): Unit = {
    emit("jvm")
    Trace.enabled = a.trace
    val cli = Main.parse(a.replicate, env = Map.empty) match {
      case Right(c) => c
      case Left(e) => sys.error(s"workload flags rejected: $e")
    }
    val cfg = Main.cdcConfig(cli)
    Files.createDirectories(Paths.get(a.out))

    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("cdcbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    var query: StreamingQuery = null
    emit("context")
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val acks = new ArrayBuffer[(Long, Long)]()
      WalSource.ackHooks.put(cli.spoolDir, lsn => {
        val t = System.nanoTime()
        acks.synchronized(acks += ((t, lsn)))
        Trace.instant("streaming", "ack", t, lsn)
      })

      val shuffleBytes = new AtomicLong(0L)
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      })

      val batches = new ArrayBuffer[String]()
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val cpu = osBean.getProcessCpuTime
          val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
          val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          val endNanos = wallMillisToMono(startMs + phases.getOrElse("triggerExecution", 0L))
          val endLsn = p.sources.headOption.flatMap(s => Option(s.endOffset))
            .map(j => WalOffset.fromJson(j).lsn).getOrElse(0L)
          batches.synchronized(batches += Json.obj(
            "batchId" -> p.batchId, "startNanos" -> wallMillisToMono(startMs),
            "endNanos" -> endNanos, "endLsn" -> endLsn, "cpuNanos" -> cpu,
            "numInputRows" -> p.numInputRows, "durationMs" -> phases))
          Trace.batch(p.batchId, wallMillisToMono(startMs), endNanos, phases)
          emit("progress", endNanos, endLsn)
        }
      })

      emit("session")
      val src = CdcPipeline.fromWalSource(spark, cli.spoolDir,
        maxLinesPerTrigger = Some(cli.clientBufferSize))
      emit("source")
      val out = CdcPipeline.transform(src, cfg).where(col("json").isNotNull)
      val writer = cli.sink match {
        case "s3" => CdcPipeline.toGzipFiles(out, cli.outPath, cli.checkpoint, cfg)
        case "kinesis" =>
          TransportRegistry.register("kinesis")(_ => new CountingTransport)
          val spec = TransportSpec("kinesis", Map("kinesis-stream" -> cli.kinesisStream))
          CdcPipeline.toTransport(out, BatchCaps.kinesis,
            () => TransportRegistry.resolve("kinesis").get(spec), cfg,
            EpochTracker.fileBacked(s"${cli.checkpoint}/epochs", "kinesis"))
            .option("checkpointLocation", cli.checkpoint)
      }
      emit("writer")
      for (p <- ManagementFactory.getMemoryPoolMXBeans.asScala) p.resetPeakUsage()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      query = writer.start()
      emit("started")

      // wait for `stop` (or EOF: the generator died) on stdin
      val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
      var line = in.readLine()
      while (line != null && line.trim != "stop") line = in.readLine()
      val t1 = System.nanoTime()
      query.stop()
      query = null
      val gc1 = gcMillis()
      val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum

      write(s"${a.out}/acks.tsv", acks.synchronized(acks.map { case (t, l) => s"$t\t$l" }.toSeq))
      write(s"${a.out}/batches.jsonl", batches.synchronized(batches.toSeq))
      if (cli.sink == "kinesis") write(s"${a.out}/delivered.tsv", CountingTransport.lines())
      write(s"${a.out}/stats.json", Seq(Json.obj(
        "startedNanos" -> t0, "stoppedNanos" -> t1,
        "gcMillis" -> (gc1 - gc0), "heapPeakBytes" -> heapPeak,
        "vmHwmKb" -> vmHwmKb(), "shuffleBytes" -> shuffleBytes.get,
        "sends" -> CountingTransport.sends.get, "sendBytes" -> CountingTransport.bytes.get)))
      if (a.trace) {
        val layers = LayerProbe.run(spark, a, cli, cfg)
        write(s"${a.out}/layers.json", Seq(Json.obj(
          "probe" -> layers, "spans" -> Trace.spansJson())))
      }
      emit("done")
    } finally {
      if (query != null) try query.stop() catch { case _: Throwable => () }
      WalSource.ackHooks.remove(cli.spoolDir)
      TransportRegistry.unregister("kinesis")
      spark.stop()
    }
  }

  def write(path: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8))
    try lines.foreach(w.println) finally w.close()
  }
}

/** The counting transport: every send "succeeds" at once and records
  * each record with the time the send returned and the worker (task
  * partition) that sent it.
  */
final class CountingTransport extends RecordTransport {
  override def send(records: Seq[SinkRecord]): SendResult = {
    val start = System.nanoTime()
    val worker = Option(TaskContext.get()).map(_.partitionId()).getOrElse(-1)
    val rendered = records.map(r =>
      s"$worker\t${r.partitionKey}\t${new String(r.payload, StandardCharsets.UTF_8)}")
    val end = System.nanoTime()
    CountingTransport.record(end, rendered, records.iterator.map(_.payload.length.toLong).sum)
    Trace.span("streaming", "transport.send", start, end, records.size.toLong)
    SendResult(Nil)
  }
}

object CountingTransport {
  private val buf = new ArrayBuffer[String]()
  val sends = new AtomicLong(0L)
  val bytes = new AtomicLong(0L)
  def record(t: Long, rendered: Seq[String], payloadBytes: Long): Unit = {
    sends.incrementAndGet()
    bytes.addAndGet(payloadBytes)
    buf.synchronized(rendered.foreach(r => buf += s"$t\t$r"))
  }
  def lines(): Seq[String] = buf.synchronized(buf.toSeq)
}

/** Minimal JSON rendering for the benchmark's own records. */
object Json {
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case Raw(j) => j
    case other => str(other.toString)
  }
  /** An already-rendered JSON fragment. */
  final case class Raw(json: String)
}
