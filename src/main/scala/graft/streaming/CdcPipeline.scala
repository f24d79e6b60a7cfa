package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import graft.functions.GraftFunctions
import graft.operators.{Marshaller, Partitioner, Router, TableFilter}

/** Pipeline configuration mirroring the reference's CLI surface
  * (main/main.go replicate flags).
  */
final case class CdcConfig(
    filterTables: Seq[String] = Nil,
    whitelist: Boolean = false, // reference default: empty blacklist = passthrough
    regexFilter: Boolean = false,
    partitionMethod: Partitioner.Method = Partitioner.NoKey,
    noMarshalOldValue: Boolean = false,
    workers: Int = 1,
    routing: Router.Mode = Router.RoundRobin,
    /** The reference batcher's flush age (`--batch-flush-max-age`):
      * the longest a partial range waits for admission. It reaches the
      * source through [[CdcPipeline.fromWalSource]]; the sinks run
      * Spark's default trigger, which polls the source between batches.
      */
    triggerMillis: Long = 1000L)

/** The Structured-Streaming CDC pipeline: raw `test_decoding` lines →
  * parse → filter → partition-key → marshal → sink, with the source's
  * read limit standing in for the reference's flush rule (a full buffer
  * or the flush age admits a range) and Spark checkpointing standing in
  * for the ledger: the source's `latestOffset`, polled between batches
  * under the default trigger, acks the committed frontier (SURVEY §3.1,
  * §7).
  *
  * The whole stateless middle is ONE Catalyst pipeline — parse, filter,
  * key and JSON-render fuse into a single whole-stage-codegen loop per
  * task; the only exchange is the optional worker routing.
  *
  * Ordering contract. The source plans each micro-batch as k contiguous
  * WAL slices, one per task slot, in order. Spark promises no order in
  * which a reducer fetches several map outputs, and a streaming frame
  * cannot be sorted, so each sink keeps the reference's order by plan:
  *  - the gzip file sink writes one part file per slice, each one
  *    contiguous WAL slice in order; all parts commit atomically with
  *    their batch (the file sink's metadata log);
  *  - sinks whose writer count is `--workers` (transports, Kafka): with
  *    one worker the slices are coalesced into one task that reads them
  *    in WAL order; with more, [[transform]] coalesces them before the
  *    worker exchange, so it reads one ordered map output and each
  *    worker receives its keys in WAL order;
  *  - the console sink prints each batch in partition order, which with
  *    one worker is WAL order.
  */
object CdcPipeline {

  /** Stateless transform: a DataFrame with (`line`, and optionally
    * `walStart`/`serverTimeMs`/`txn`/`timeBasedKey`
    * metadata) → marshalled change records. Works identically on batch
    * and streaming frames.
    */
  def transform(lines: DataFrame, cfg: CdcConfig): DataFrame = {
    val withMeta = Seq("walStart", "serverTimeMs")
      .foldLeft(lines)((df, c) =>
        if (df.columns.contains(c)) df else df.withColumn(c, lit(0L)))

    // Table filtering runs on the PRELUDE parse (relation + operation
    // only, the reference's two-phase design, parselogical.go:89-95),
    // BEFORE the full parse: the prelude is cheap enough for predicate
    // pushdown to duplicate, and rows that don't pass never pay column
    // parsing at all (the reference's own intent).
    //
    // The full parse `p` and the marshalled `json` are FENCED
    // (GraftFunctions.fenced). Unfenced, a filter on either (`p IS NOT
    // NULL` here, a caller's `json IS NOT NULL`) is pushed below its
    // projection with the expression substituted in, and FilterExec
    // does no subexpression elimination: the plan a sink consumes would
    // run the parser 6 times and the marshaller twice per row. Fenced,
    // each runs once per row whatever a caller filters on, with or
    // without GraftExtensions. In a session WITHOUT GraftExtensions
    // (Main's replicate, cdcbench) the fence covers the whole
    // projection: a caller's filter on any output column (table,
    // operation, partitionKey, txn) also runs after the marshal, so
    // table selection belongs in CdcConfig.filterTables, not in a
    // filter on `table`.
    val tf = TableFilter(cfg.filterTables, cfg.whitelist, cfg.regexFilter)
    val preFiltered = withMeta.where(tf.predicate(
      GraftFunctions.prelude_relation(col("line")),
      GraftFunctions.prelude_operation(col("line"))))

    // Source-provided metadata wins over parsed fields (a CDC source
    // stamps txn/timeBasedKey itself; the parsed txn is only set on
    // BEGIN/COMMIT lines anyway).
    val parsedFields = Seq("txn", "relation", "operation", "noTupleData", "columns", "oldColumns")
    val inputCols = withMeta.columns.filter(_ != "line")
    val parsed = preFiltered
      .withColumn("p", GraftFunctions.fenced(GraftFunctions.parse_test_decoding(col("line"))))
      .where(col("p").isNotNull)
      .select(inputCols.map(col) ++
        parsedFields.filterNot(inputCols.contains).map(f => col(s"p.$f").as(f)): _*)

    val stamped =
      if (parsed.columns.contains("timeBasedKey")) parsed
      else parsed.withColumn("timeBasedKey", concat(col("txn"), lit("-0")))

    val keyed = Partitioner(cfg.partitionMethod)(stamped)
    val marshalled = Marshaller(cfg.noMarshalOldValue)(keyed)
      .withColumn("json", GraftFunctions.fenced(col("json")))
      .select("operation", "relation", "json", "timeBasedKey", "walStart", "txn", "partitionKey")
      .withColumnRenamed("relation", "table")
    // one ordered map task feeds the worker exchange (the ordering
    // contract above); round-robin routing promises no order, and Spark
    // drops a coalesce directly under its repartition
    if (cfg.workers > 1) Router.route(marshalled.coalesce(1), cfg.workers, cfg.routing)
    else marshalled
  }

  /** The DSv2 CDC source ([[graft.sources.WalSourceProvider]]): line
    * ordinal offsets, source-side txn stamping, admission control,
    * commit→ack. With `maxLinesPerTrigger` = n, a range is admitted
    * once n lines are pending or `flushAgeMillis` after the last
    * admission (0: at every poll). Rows feed [[transform]] directly.
    */
  def fromWalSource(spark: SparkSession, path: String,
                    maxLinesPerTrigger: Option[Int] = None,
                    epochNanos: Long = 0L,
                    flushAgeMillis: Long = CdcConfig().triggerMillis): DataFrame = {
    val r = spark.readStream.format("graft-wal")
      .option("path", path)
      .option("epochNanos", epochNanos.toString)
      .option("flushAgeMillis", flushAgeMillis.toString)
    maxLinesPerTrigger.foreach(n => r.option("maxLinesPerTrigger", n.toString))
    r.load()
  }

  /** Console sink (reference stdout transporter O10). */
  def toConsole(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream
      .format("console")
      .option("truncate", value = false)

  /** Date-partitioned gzip NDJSON file sink — the S3 transporter's
    * `keyspace/YYYY/MM/DD/HH/...gz` layout (O12,
    * reference transport/transporters/s3). On a cluster, pointing the
    * path at `s3a://bucket/keyspace` is the complete story: one object
    * per partition file, gzip-compressed, date-bucketed. Each source
    * slice is its own task, so a batch writes one part file per slice,
    * compressed in parallel. `cfg` is unused: the flush age is the
    * source's ([[fromWalSource]]).
    */
  def toGzipFiles(df: DataFrame, path: String, checkpoint: String,
                  cfg: CdcConfig): DataStreamWriter[Row] =
    withDateColumns(df)
      .select("json", "year", "month", "day", "hour")
      .writeStream
      .format("text")
      .option("compression", "gzip")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("year", "month", "day", "hour")

  /** Attach the S3 layout's date-partition columns (the reference keys
    * objects by wall-clock at write time — s3/transporter key_join).
    */
  def withDateColumns(df: DataFrame): DataFrame =
    df.withColumn("__t", current_timestamp())
      .withColumn("year", date_format(col("__t"), "yyyy"))
      .withColumn("month", date_format(col("__t"), "MM"))
      .withColumn("day", date_format(col("__t"), "dd"))
      .withColumn("hour", date_format(col("__t"), "HH"))
      .drop("__t")

  /** Transport-backed sink (Kinesis O11 / RabbitMQ O13): every record
    * flows through [[ChunkedSink.foreachWriter]] — greedy chunking
    * under the per-sink caps, partial-failure retry under exponential
    * backoff, and the epoch-replay guard for exactly-once across
    * micro-batch replays. The RPC edge is a [[RecordTransport]]
    * factory, resolved per-partition at `open` time. With one worker
    * (`cfg.workers`) the batch's slices are written by one task in WAL
    * order; with more, `df` is [[transform]]'s routed frame, one task
    * per worker. The flush age is the source's ([[fromWalSource]]).
    */
  def toTransport(df: DataFrame, caps: BatchCaps,
                  transportFactory: () => RecordTransport,
                  cfg: CdcConfig,
                  tracker: EpochTracker = EpochTracker.none): DataStreamWriter[Row] =
    ordered(df, cfg.workers).writeStream
      .foreach(ChunkedSink.foreachWriter(caps, transportFactory, tracker))

  /** One writer task for a single worker, reading the slices in WAL
    * order; more workers are routed by [[transform]] already.
    */
  private def ordered(df: DataFrame, workers: Int): DataFrame =
    if (workers > 1) df else df.coalesce(1)

  /** The kafka writer's full contract — key/value projection for the
    * chosen [[KafkaKeyMode]] plus every option handed to the
    * `DataStreamWriter` — separated from the (connector-jar-dependent)
    * `writeStream` call so specs can assert it without the jar:
    * topic, bootstrap servers, checkpoint, and the reference's 1 MB
    * record cap (kafka/config.go:43-64) as the producer's
    * `max.request.size`.
    */
  final case class KafkaSinkPlan(projected: DataFrame, options: Map[String, String])

  def kafkaSinkPlan(df: DataFrame, bootstrap: String, topic: String,
                    keyMode: KafkaKeyMode, checkpoint: String, workers: Int): KafkaSinkPlan =
    KafkaSinkPlan(
      ordered(df, workers).select(
        KafkaKeyMode.keyExpr(keyMode).cast("string").as("key"),
        col("json").cast("string").as("value")),
      Map(
        "kafka.bootstrap.servers" -> bootstrap,
        "topic" -> topic,
        "checkpointLocation" -> checkpoint,
        "kafka.max.request.size" -> BatchCaps.kafka.maxRecordBytes.toString))

  /** Kafka sink wiring (O14): built-in connector with the reference's
    * partition-key modes (kafka/batch/batch.go:83-104). Not runnable in
    * this build environment (no spark-sql-kafka connector jar), but the
    * full writer contract is [[kafkaSinkPlan]], which is spec-asserted.
    * With one worker the batch is produced by one task in WAL order.
    */
  def toKafka(df: DataFrame, bootstrap: String, topic: String,
              keyMode: KafkaKeyMode, checkpoint: String, workers: Int): DataStreamWriter[Row] = {
    val plan = kafkaSinkPlan(df, bootstrap, topic, keyMode, checkpoint, workers)
    plan.projected.writeStream
      .format("kafka")
      .options(plan.options)
  }
}

/** Kafka partition-key modes (reference kafka/batch/batch.go:83-104). */
sealed trait KafkaKeyMode
object KafkaKeyMode {
  case object TxnTimeBased extends KafkaKeyMode // timeBasedKey per message
  case object Transaction extends KafkaKeyMode // txn id
  case object TableName extends KafkaKeyMode
  case object Random extends KafkaKeyMode

  def keyExpr(mode: KafkaKeyMode): org.apache.spark.sql.Column = mode match {
    case TxnTimeBased => col("timeBasedKey")
    case Transaction => col("txn")
    case TableName => col("table")
    case Random => expr("uuid()")
  }
}
