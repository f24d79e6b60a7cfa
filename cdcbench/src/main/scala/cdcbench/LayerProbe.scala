package cdcbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.cli.Main
import graft.functions.GraftFunctions
import graft.operators.{Marshaller, Partitioner, Router, TableFilter}
import graft.sources.WalSource
import graft.streaming._

/** Per-layer cost by prefix-plan differentials. Parse, filter, key and
  * marshal fuse into one whole-stage-codegen loop, so a layer's cost is
  * the time of the plan that ends with it minus the time of the plan
  * that ends just before it. Every prefix is built from the program's
  * public functions in the order `CdcPipeline.transform` composes them,
  * over the workload's own backlog lines in one partition (the source
  * plans one partition per micro-batch).
  */
object LayerProbe {

  private val reps = 5
  /** Prefix plans run over one admission range of backlog lines: the
    * work of one drain micro-batch. */
  private val probeLines = 10000

  private def timeIt(body: => Unit): Long = {
    val t = System.nanoTime(); body; System.nanoTime() - t
  }

  private def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)

  def run(spark: SparkSession, a: CdcBench.Args, cli: Main.Cli, cfg: CdcConfig): Map[String, Any] = {
    import spark.implicits._

    // --- sources: readLines over each admission range, countLines ---
    val adm = cli.clientBufferSize.toLong
    val readNanos = ArrayBuffer[Long]()
    val lines = ArrayBuffer[String]()
    var from = a.backlogFrom
    while (from < a.backlogUntil) {
      val until = math.min(from + adm, a.backlogUntil)
      var got: Seq[String] = Nil
      val t = Trace.timed("sources", "WalSource.readLines", until - from)(
        timeIt { got = WalSource.readLines(cli.spoolDir, from, until) })
      if (until - from == adm) readNanos += t * 10000L / adm
      lines ++= got
      from = until
    }
    val countNanos = (1 to 5).map(_ =>
      Trace.timed("sources", "WalSource.countLines", 1L)(timeIt(WalSource.countLines(cli.spoolDir))))

    // stamp txn the way the source does (the BEGIN line's id rides on
    // every following line), so the partitioner sees the same keys
    var txn = ""
    val stamped = lines.zipWithIndex.map { case (l, i) =>
      if (l.startsWith("BEGIN ")) txn = l.substring(6).trim
      val lsn = a.backlogFrom + i + 1
      (l, lsn, lsn, 0L, txn, s"$txn-0")
    }
    val base = stamped.take(probeLines).toSeq.toDF("line", "walStart", "serverWalEnd", "serverTimeMs", "txn", "timeBasedKey")
      .coalesce(1).cache()
    val nLines = base.count()

    val tf = TableFilter(cfg.filterTables, cfg.whitelist, cfg.regexFilter)
    val prelude = base
      .withColumn("preludeRelation", GraftFunctions.prelude_relation(col("line")))
      .withColumn("preludeOperation", GraftFunctions.prelude_operation(col("line")))
    val filtered = base.where(tf.predicate(
      GraftFunctions.prelude_relation(col("line")),
      GraftFunctions.prelude_operation(col("line"))))
    val parsedFields = Seq("relation", "operation", "noTupleData", "columns", "oldColumns")
    val parsed = filtered
      .withColumn("p", GraftFunctions.parse_test_decoding(col("line")))
      .where(col("p").isNotNull)
      .select(base.columns.filter(_ != "line").map(col) ++ parsedFields.map(f => col(s"p.$f").as(f)): _*)
    val keyed = Partitioner(cfg.partitionMethod)(parsed)
    val marshalled = Marshaller(cfg.noMarshalOldValue)(keyed)
      .select("operation", "relation", "json", "timeBasedKey", "walStart", "txn", "partitionKey")
      .withColumnRenamed("relation", "table")
      .where(col("json").isNotNull)
    // one worker: no exchange, the route layer is absent (costs 0)
    val routed =
      if (cfg.workers > 1) Router.route(marshalled, cfg.workers, cfg.routing) else marshalled

    val nData = prelude.where(!col("preludeOperation").isin("BEGIN", "COMMIT")).count()
    val nPass = filtered.where(!GraftFunctions.prelude_operation(col("line")).isin("BEGIN", "COMMIT")).count()
    val nRecords = marshalled.count()

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val sinkDir = s"${a.work}/probe-sink"
    def sink(df: DataFrame): Unit = cli.sink match {
      case "s3" =>
        CdcPipeline.withDateColumns(df).select("json", "year", "month", "day", "hour")
          .write.mode("overwrite").option("compression", "gzip")
          .partitionBy("year", "month", "day", "hour").text(sinkDir)
      case _ =>
        df.select("partitionKey", "timeBasedKey", "walStart", "json").foreachPartition {
          (rows: Iterator[Row]) =>
            ChunkedSink.writePartition(rows.map(r => SinkRecord(
              Option(r.getString(0)).getOrElse(""), r.getString(1), r.getLong(2),
              r.getString(3).getBytes(StandardCharsets.UTF_8))),
              BatchCaps.kinesis, new NullTransport, () => new Backoff())
            ()
        }
    }

    val plans: Seq[(String, () => Unit)] = Seq(
      "scan" -> (() => noop(base)),
      "prelude" -> (() => noop(prelude)),
      "filter" -> (() => noop(filtered)),
      "parse" -> (() => noop(parsed)),
      "partition" -> (() => noop(keyed)),
      "marshal" -> (() => noop(marshalled))) ++
      (if (cfg.workers > 1) Seq("route" -> (() => noop(routed))) else Nil) ++ Seq(
      "sink" -> (() => sink(routed)),
      "transform" -> (() => noop(CdcPipeline.transform(base, cfg).where(col("json").isNotNull))))
    plans.foreach(_._2()) // warm-up: codegen, JIT
    // the fastest of `reps` runs: the least disturbed by GC and neighbours
    val timed: Map[String, Double] = plans.map { case (name, body) =>
      name -> (1 to reps).map(_ =>
        Trace.timed("prefix", s"plan.$name", nLines)(timeIt(body()))).min / 1e6
    }.toMap
    val ms = if (timed.contains("route")) timed else timed + ("route" -> timed("marshal"))
    base.unpersist()

    Map(
      "lines" -> nLines, "dataRows" -> nData, "passRows" -> nPass, "records" -> nRecords,
      "admissionLines" -> adm,
      "readMsPer10kLines" -> (if (readNanos.isEmpty) Double.NaN else median(readNanos.toSeq) / 1e6),
      "countLinesMs" -> median(countNanos) / 1e6,
      "prefixMs" -> ms)
  }
}

/** A transport that accepts every send and keeps nothing. */
final class NullTransport extends RecordTransport {
  override def send(records: Seq[SinkRecord]): SendResult = SendResult(Nil)
}

/** In-memory spans, written once at the end of a traced run. Off (every
  * call a no-op) in untraced runs.
  */
object Trace {
  @volatile var enabled = false
  private final case class Span(id: Int, parent: Int, layer: String, name: String,
                                start: Long, end: Long, count: Long)
  private val spans = ArrayBuffer[Span]()

  private def add(parent: Int, layer: String, name: String, s: Long, e: Long, n: Long): Int =
    spans.synchronized { spans += Span(spans.size, parent, layer, name, s, e, n); spans.size - 1 }

  def span(layer: String, name: String, start: Long, end: Long, count: Long): Unit =
    if (enabled) add(-1, layer, name, start, end, count)

  def instant(layer: String, name: String, at: Long, value: Long): Unit =
    if (enabled) add(-1, layer, name, at, at, value)

  def timed(layer: String, name: String, count: Long)(nanos: => Long): Long = {
    val s = System.nanoTime()
    val d = nanos
    span(layer, name, s, s + d, count)
    d
  }

  /** A micro-batch span with its `durationMs` phases as children, laid
    * out in the order the engine runs them.
    */
  def batch(id: Long, start: Long, end: Long, phases: Map[String, Long]): Unit = if (enabled) {
    val parent = add(-1, "streaming", s"batch.$id", start, end, id)
    var t = start
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { p =>
        phases.get(p).foreach { ms =>
          add(parent, "streaming", p, t, t + ms * 1000000L, id)
          t += ms * 1000000L
        }
      }
  }

  def spansJson(): Json.Raw = spans.synchronized(Json.Raw(spans.map(s => Json.obj(
    "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
    "start" -> s.start, "end" -> s.end, "count" -> s.count)).mkString("[", ",", "]")))
}
