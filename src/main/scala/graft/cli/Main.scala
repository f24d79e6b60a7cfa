package graft.cli

import org.apache.spark.sql.SparkSession

import graft.operators.{Partitioner, Router}
import graft.sources.WalOffset
import graft.sources.pg.{PgReplicationClient, PgWalReceiver}
import graft.streaming.{CdcConfig, CdcPipeline, KafkaKeyMode}

/** Runnable entry point mirroring the reference binary's command
  * surface (main/main.go:557-763):
  *
  *   graft create    --slot s …            create a replication slot
  *   graft drop      --slot s …            drop a replication slot
  *   graft replicate <sink> [flags]        start logical replication
  *
  * Sinks: `stdout` (console), `s3` (date-partitioned gzip NDJSON files;
  * point `--out-path` at an s3a:// URI on a real cluster), `kafka`
  * (needs the spark-sql-kafka connector jar on the classpath).
  *
  * Flag names follow the reference where the concept maps
  * (app/config/headers.go): `--slot --user --password --host --port
  * --dbname --create-slot --workers --whitelist --blacklist
  * --whitelist-regex --blacklist-regex --partition-method
  * --partition-count --no-marshal-old-value --batcher-routing-method
  * --batch-flush-max-age --client-buffer-size`. Spark-side additions:
  * `--spool-dir --checkpoint --out-path --master --sslmode --once`.
  * Value sources: flag > environment > `--config` YAML file > default —
  * the reference's altsrc precedence (main/main.go:567, yaml keys are
  * the flag names; the default `config.yaml` is read only if present,
  * an explicitly-passed `--config` path must exist).
  */
object Main {

  final case class Cli(
      command: String = "",
      sink: String = "",
      host: String = "127.0.0.1",
      port: Int = 5432,
      user: String = "postgres",
      // default None — PGPASSWORD is sourced ONLY in the env layer of
      // parse(), from ITS env map, so an injected env stays hermetic
      password: Option[String] = None,
      dbname: String = "postgres",
      slot: String = "graft",
      sslmode: String = "disable",
      createSlot: Boolean = false,
      workers: Int = 1,
      whitelist: Seq[String] = Nil,
      blacklist: Seq[String] = Nil,
      whitelistRegex: Seq[String] = Nil,
      blacklistRegex: Seq[String] = Nil,
      partitionMethod: String = "none",
      partitionCount: Int = 1,
      noMarshalOldValue: Boolean = false,
      routingMethod: String = "round-robin",
      batchFlushMaxAgeMillis: Long = 1000L,
      clientBufferSize: Int = 10000,
      spoolDir: String = "",
      // compact fully-acked spool segments once this many have
      // accumulated; 0 keeps the full replay history on disk
      spoolCompactSegments: Int = 0,
      spoolSegmentLines: Int = 10000,
      checkpoint: String = "",
      outPath: String = "",
      kafkaBootstrap: String = "",
      kafkaTopic: String = "",
      kafkaKeyMode: String = "txn-time-based",
      kinesisStream: String = "",
      awsRegion: String = "",
      endpoint: String = "",
      rabbitmqUrl: String = "",
      exchangeName: String = "",
      rabbitBatchSize: Int = 5000, // rabbitmq/config.go:47-50 default
      master: String = "local[*]",
      once: Boolean = false,
      input: String = "",
      evalInput: String = "",
      spanDedup: Boolean = false)

  def usage: String =
    """usage: graft <create|drop|replicate|curate> [sink] [--flag value ...]
      |  graft create    --slot s --host h --port p --user u --dbname db
      |  graft drop      --slot s ...
      |  graft replicate <stdout|s3|kafka|kinesis|rabbitmq> --slot s --spool-dir d [--create-slot]
      |      [--config file.yaml] (yaml keys = flag names; flag > env > yaml > default)
      |      [--whitelist t ...] [--blacklist t ...] [--whitelist-regex r ...]
      |      [--blacklist-regex r ...] [--partition-method none|tablename|transaction|transaction-bucket]
      |      [--partition-count n] [--workers n] [--batcher-routing-method round-robin|partition]
      |      [--no-marshal-old-value] [--batch-flush-max-age ms] [--client-buffer-size n]
      |      [--sslmode disable|prefer|require] [--once]
      |      [--spool-compact-segments n] [--spool-segment-lines n]
      |      s3:       --out-path p --checkpoint c
      |      kafka:    --kafka-bootstrap b --kafka-topic t [--kafka-key-mode m]
      |      kinesis:  --kinesis-stream s [--aws-region r] [--endpoint e]
      |      rabbitmq: --rabbitmq-url u --exchange-name x [--rabbitmq-batch-size n]
      |  graft curate    --input docs.parquet --out-path dir [--eval-input eval.parquet]
      |      [--span-dedup true]
      |      runs the curation pipeline (gate -> cluster dedup -> [repeated-span
      |      surgery] -> decontaminate -> typicality filter -> leakage-safe split
      |      -> pack); span surgery matches case/whitespace-insensitively but
      |      cuts the ORIGINAL text (uncut docs pass through byte-identical);
      |      without --eval-input the doc_id % 50 == 0 holdout is the
      |      decontamination reference""".stripMargin

  private val listFlags = Set("whitelist", "blacklist", "whitelist-regex", "blacklist-regex")

  /** The environment layer: each variable sets the flag it names here,
    * with the flag's own parsing (so booleans take the flag spellings).
    * Names are the reference's EnvVar tags (main.go:76-106,639-741;
    * sink-specific ones kinesis/config.go:39-65,
    * rabbitmq/config.go:37-50). List variables are comma-separated. An
    * empty value counts as unset. PGPASSWORD is read only from the env
    * map passed to [[parse]], so an injected env stays hermetic.
    */
  private val envFlags: Seq[(String, String)] = Seq(
    "REPLICATION_SLOT" -> "slot",
    "PGUSER" -> "user",
    "PGPASSWORD" -> "password",
    "PGHOST" -> "host",
    "PGPORT" -> "port",
    "PGDATABASE" -> "dbname",
    "CREATE_SLOT" -> "create-slot",
    "WORKERS" -> "workers",
    "CLIENT_BUFFER_SIZE" -> "client-buffer-size",
    "BATCH_FLUSH_MAX_AGE" -> "batch-flush-max-age",
    "BATCHER_ROUTING_METHOD" -> "batcher-routing-method",
    "PARTITION_METHOD" -> "partition-method",
    "PARTITION_COUNT" -> "partition-count",
    "WHITELIST" -> "whitelist",
    "BLACKLIST" -> "blacklist",
    "WHITELIST_REGEX" -> "whitelist-regex",
    "BLACKLIST_REGEX" -> "blacklist-regex",
    "NO_MARSHAL_OLD_VALUE" -> "no-marshal-old-value",
    "BIFROST_KINESIS_STREAM" -> "kinesis-stream",
    "AWS_REGION" -> "aws-region",
    "ENDPOINT" -> "endpoint",
    "BIFROST_RABBITMQ_URL" -> "rabbitmq-url",
    "BIFROST_RABBITMQ_EXCHANGE_NAME" -> "exchange-name",
    "BIFROST_RABBITMQ_BATCH_SIZE" -> "rabbitmq-batch-size")

  private def getList(c: Cli, flag: String): Seq[String] = flag match {
    case "whitelist" => c.whitelist
    case "blacklist" => c.blacklist
    case "whitelist-regex" => c.whitelistRegex
    case "blacklist-regex" => c.blacklistRegex
  }

  private def setList(c: Cli, flag: String, items: Seq[String]): Cli = flag match {
    case "whitelist" => c.copy(whitelist = items)
    case "blacklist" => c.copy(blacklist = items)
    case "whitelist-regex" => c.copy(whitelistRegex = items)
    case "blacklist-regex" => c.copy(blacklistRegex = items)
  }

  /** One scalar setting, shared by the flag, env and YAML layers (yaml
    * keys ARE the flag names, as with the reference's altsrc). Booleans
    * accept an empty value (bare-flag presence) as true.
    */
  private def applySetting(c: Cli, flag: String, value: String): Either[String, Cli] = {
    def int(v: String): Either[String, Int] =
      try Right(v.toInt) catch { case _: NumberFormatException =>
        Left(s"--$flag needs an integer, got '$v'") }
    def bool(v: String): Either[String, Boolean] = v.trim.toLowerCase match {
      case "" | "1" | "true" | "yes" => Right(true)
      case "0" | "false" | "no" => Right(false)
      case other => Left(s"--$flag needs a boolean, got '$other'")
    }
    flag match {
      case "host" => Right(c.copy(host = value))
      case "port" => int(value).map(v => c.copy(port = v))
      case "user" => Right(c.copy(user = value))
      case "password" => Right(c.copy(password = Some(value)))
      case "dbname" => Right(c.copy(dbname = value))
      case "slot" => Right(c.copy(slot = value))
      case "sslmode" => Right(c.copy(sslmode = value))
      case "create-slot" => bool(value).map(v => c.copy(createSlot = v))
      case "workers" => int(value).map(v => c.copy(workers = v))
      case "partition-method" => Right(c.copy(partitionMethod = value))
      case "partition-count" => int(value).map(v => c.copy(partitionCount = v))
      case "no-marshal-old-value" => bool(value).map(v => c.copy(noMarshalOldValue = v))
      case "batcher-routing-method" => Right(c.copy(routingMethod = value))
      case "batch-flush-max-age" => int(value).map(v => c.copy(batchFlushMaxAgeMillis = v.toLong))
      case "client-buffer-size" => int(value).map(v => c.copy(clientBufferSize = v))
      case "spool-dir" => Right(c.copy(spoolDir = value))
      case "spool-compact-segments" => int(value).map(v => c.copy(spoolCompactSegments = v))
      case "spool-segment-lines" => int(value).map(v => c.copy(spoolSegmentLines = v))
      case "checkpoint" => Right(c.copy(checkpoint = value))
      case "out-path" => Right(c.copy(outPath = value))
      case "kafka-bootstrap" => Right(c.copy(kafkaBootstrap = value))
      case "kafka-topic" => Right(c.copy(kafkaTopic = value))
      case "kafka-key-mode" => Right(c.copy(kafkaKeyMode = value))
      case "kinesis-stream" => Right(c.copy(kinesisStream = value))
      case "aws-region" => Right(c.copy(awsRegion = value))
      case "endpoint" => Right(c.copy(endpoint = value))
      case "rabbitmq-url" => Right(c.copy(rabbitmqUrl = value))
      case "exchange-name" => Right(c.copy(exchangeName = value))
      case "rabbitmq-batch-size" => int(value).map(v => c.copy(rabbitBatchSize = v))
      case "master" => Right(c.copy(master = value))
      case "once" => bool(value).map(v => c.copy(once = v))
      case "input" => Right(c.copy(input = value))
      case "eval-input" => Right(c.copy(evalInput = value))
      case "span-dedup" => bool(value).map(v => c.copy(spanDedup = v))
      case other => Left(s"unknown flag: --$other")
    }
  }

  /** A setting from the env or YAML layer: a list flag's values are
    * split on commas and replace the list; a scalar takes one value.
    */
  private def applyValues(c: Cli, flag: String, vs: Seq[String]): Either[String, Cli] =
    if (listFlags(flag))
      Right(setList(c, flag, vs.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)))
    else if (vs.size != 1) Left(s"'$flag' does not take a list")
    else applySetting(c, flag, vs.head)

  def parse(args: Seq[String], env: Map[String, String] = sys.env): Either[String, Cli] = {
    if (args.isEmpty) return Left("missing command")
    var c = Cli(command = args.head)
    if (!Set("create", "drop", "replicate", "curate")(c.command))
      return Left(s"unknown command: ${c.command}")

    var rest = args.tail.toList
    if (c.command == "replicate") rest match {
      case sink :: more if !sink.startsWith("-") => c = c.copy(sink = sink); rest = more
      case _ => return Left("replicate needs a sink: stdout | s3 | kafka")
    }

    // --- config-file layer (lowest-precedence value source). The
    // --config flag itself is extracted before anything else; the
    // reference's default `config.yaml` is loaded only when present,
    // while an explicitly-named file must exist.
    var explicitCfg: Option[String] = None
    locally {
      var kept = List.empty[String]
      var t = rest
      while (t.nonEmpty) t = t match {
        case "--config" :: v :: tl => explicitCfg = Some(v); tl
        case "--config" :: Nil => return Left("missing value for --config")
        case f :: tl if f.startsWith("--config=") =>
          explicitCfg = Some(f.drop("--config=".length)); tl
        case f :: tl => kept = f :: kept; tl
        case Nil => Nil
      }
      rest = kept.reverse
    }
    val cfgFile = new java.io.File(explicitCfg.getOrElse("config.yaml"))
    if (explicitCfg.isDefined && !cfgFile.isFile)
      return Left(s"config file not found: ${cfgFile.getPath}")
    if (cfgFile.isFile) {
      val text =
        try {
          val src = scala.io.Source.fromFile(cfgFile, "UTF-8")
          try src.mkString finally src.close()
        } catch { case e: java.io.IOException =>
          return Left(s"cannot read ${cfgFile.getPath}: ${e.getMessage}") }
      YamlConfig.parse(text) match {
        case Left(e) => return Left(s"${cfgFile.getPath}: $e")
        case Right(pairs) =>
          for ((k, vs) <- pairs) {
            if (k == "config")
              return Left(s"${cfgFile.getPath}: 'config' cannot be set from the config file")
            applyValues(c, k, vs) match {
              case Right(n) => c = n
              case Left(e) => return Left(s"${cfgFile.getPath}: $e")
            }
          }
      }
    }

    // --- environment layer (overrides the file, overridden by flags) ---
    for ((name, flag) <- envFlags; v <- env.get(name) if v.nonEmpty)
      applyValues(c, flag, Seq(v)) match {
        case Right(n) => c = n
        case Left(e) => return Left(s"$name: $e")
      }

    // --- flag layer (highest precedence). The first occurrence of a
    // list flag REPLACES any yaml/env-sourced list (reference altsrc
    // precedence); further occurrences of the same flag append.
    var preseededLists = listFlags
    val boolFlags = Set("create-slot", "no-marshal-old-value", "once")
    while (rest.nonEmpty) {
      val (flag, value, tail) = rest match {
        case f :: t if f.startsWith("--") && f.contains("=") =>
          val i = f.indexOf('='); (f.substring(2, i), f.substring(i + 1), t)
        case f :: v :: t if f.startsWith("--") && !boolFlags(f.drop(2)) =>
          (f.drop(2), v, t)
        case f :: t if f.startsWith("--") && boolFlags(f.drop(2)) =>
          (f.drop(2), "", t)
        case f :: Nil if f.startsWith("--") =>
          return Left(s"missing value for $f")
        case "-s" :: t => ("create-slot", "", t)
        case f :: _ => return Left(s"unexpected argument: $f")
      }
      if (listFlags(flag)) {
        c = setList(c, flag,
          (if (preseededLists(flag)) Nil else getList(c, flag)) :+ value)
        preseededLists -= flag
      } else applySetting(c, flag, value) match {
        case Right(n) => c = n
        case Left(e) => return Left(e)
      }
      rest = tail
    }
    validate(c)
  }

  private def validate(c: Cli): Either[String, Cli] = {
    val filters = Seq(c.whitelist, c.blacklist, c.whitelistRegex, c.blacklistRegex)
      .count(_.nonEmpty)
    if (filters > 1)
      Left("whitelist, blacklist, whitelist-regex and blacklist-regex are mutually exclusive")
    else if (!Set("none", "tablename", "transaction", "transaction-bucket")(c.partitionMethod))
      Left(s"unknown partition-method: ${c.partitionMethod}")
    else if (!Set("round-robin", "partition")(c.routingMethod))
      Left(s"unknown batcher-routing-method: ${c.routingMethod}")
    else if (c.command == "replicate" &&
      !Set("stdout", "s3", "kafka", "kinesis", "rabbitmq")(c.sink))
      Left(s"unknown sink: ${c.sink}")
    else if (c.command == "replicate" && c.spoolDir.isEmpty)
      Left("replicate requires --spool-dir")
    else if (c.command == "replicate" && c.sink == "s3" &&
      (c.outPath.isEmpty || c.checkpoint.isEmpty))
      Left("s3 sink requires --out-path and --checkpoint")
    else if (c.command == "replicate" && c.sink == "kafka" &&
      (c.kafkaBootstrap.isEmpty || c.kafkaTopic.isEmpty))
      Left("kafka sink requires --kafka-bootstrap and --kafka-topic")
    else if (c.command == "replicate" && c.sink == "kinesis" && c.kinesisStream.isEmpty)
      Left("kinesis sink requires --kinesis-stream")
    else if (c.command == "replicate" && c.sink == "rabbitmq" &&
      (c.rabbitmqUrl.isEmpty || c.exchangeName.isEmpty))
      Left("rabbitmq sink requires --rabbitmq-url and --exchange-name")
    else if (!Set("txn-time-based", "transaction", "tablename", "random")(c.kafkaKeyMode))
      Left(s"unknown kafka-key-mode: ${c.kafkaKeyMode}")
    else Right(c)
  }

  def cdcConfig(c: Cli): CdcConfig = {
    val (tables, wl, regex) =
      if (c.whitelist.nonEmpty) (c.whitelist, true, false)
      else if (c.blacklist.nonEmpty) (c.blacklist, false, false)
      else if (c.whitelistRegex.nonEmpty) (c.whitelistRegex, true, true)
      else (c.blacklistRegex, false, true)
    CdcConfig(
      filterTables = tables, whitelist = wl, regexFilter = regex,
      partitionMethod = c.partitionMethod match {
        case "none" => Partitioner.NoKey
        case "tablename" => Partitioner.TableName
        case "transaction" => Partitioner.Transaction
        case "transaction-bucket" => Partitioner.TransactionBucket(c.partitionCount)
      },
      noMarshalOldValue = c.noMarshalOldValue,
      workers = c.workers,
      routing = if (c.routingMethod == "partition") Router.Partition else Router.RoundRobin,
      triggerMillis = c.batchFlushMaxAgeMillis)
  }

  private def newClient(c: Cli): PgReplicationClient =
    new PgReplicationClient(c.host, c.port, c.user, c.dbname, c.password,
      sslMode = c.sslmode)

  /** Run a parsed command. `sparkProvider` lets tests inject a shared
    * session; production lazily builds one from `--master`.
    */
  def run(c: Cli, sparkProvider: Option[() => SparkSession] = None): Int = c.command match {
    case "curate" =>
      if (c.input.isEmpty || c.outPath.isEmpty) {
        Console.err.println("error: curate needs --input and --out-path")
        1
      } else {
        val spark = sparkProvider.map(_())
          .getOrElse(SparkSession.builder()
            .master(c.master)
            .withExtensions(new graft.GraftExtensions)
            .config("spark.sql.shuffle.partitions",
              math.max(2, Runtime.getRuntime.availableProcessors() / 2))
            .config("spark.ui.enabled", "false")
            // user parquet may carry TIMESTAMP(NANOS) (the testdata
            // events table does); read it as long instead of refusing
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .getOrCreate())
        import org.apache.spark.sql.functions.{col, lit, pmod}
        val docs = spark.read.parquet(c.input)
        val (corpus, evalSet) =
          if (c.evalInput.nonEmpty) (docs, spark.read.parquet(c.evalInput))
          else (docs.where(pmod(col("doc_id"), lit(50)) =!= 0),
                docs.where(pmod(col("doc_id"), lit(50)) === 0))
        val res = graft.ops.Pipeline.curate(corpus, evalSet,
          graft.ops.Pipeline.CurateConfig(spanDedup = c.spanDedup))
        res.split.write.mode("overwrite").parquet(s"${c.outPath}/split")
        res.packedTrain.write.mode("overwrite").parquet(s"${c.outPath}/packed")
        res.report.write.mode("overwrite").parquet(s"${c.outPath}/report")
        val reportStages = res.report.orderBy("stage_idx").collect()
        reportStages.foreach { r =>
          val secs = res.stageSecs.get(r.getString(0))
            .map(s => f" secs=$s%.2f").getOrElse("")
          Console.out.println(
            s"[curate] stage=${r.getString(0)} rows=${r.getLong(2)}$secs")
        }
        // phases timed outside the stage counts (eager construction
        // work, e.g. pair detection + component resolution)
        val named = reportStages.map(_.getString(0)).toSet
        res.stageSecs.filterNot { case (k, _) => named(k) }.foreach {
          case (k, s) => Console.out.println(f"[curate] phase=$k secs=$s%.2f")
        }
        0
      }

    case "create" =>
      val client = newClient(c)
      client.connect()
      try {
        val fresh = client.createSlot(c.slot)
        Console.out.println(
          if (fresh) s"created slot ${c.slot}" else s"slot ${c.slot} already exists")
        0
      } finally client.close()

    case "drop" =>
      val client = newClient(c)
      client.connect()
      try { client.dropSlot(c.slot); Console.out.println(s"dropped slot ${c.slot}"); 0 }
      finally client.close()

    case "replicate" if Set("kinesis", "rabbitmq")(c.sink) &&
        graft.streaming.TransportRegistry.resolve(c.sink).isEmpty =>
      // the AWS / AMQP client SDKs are not bundled: fail fast with the
      // wiring instruction instead of spooling WAL we can't deliver
      Console.err.println(s"error: no ${c.sink} transport registered; " +
        "register a RecordTransport factory via TransportRegistry (driver and executors) " +
        s"backed by your ${if (c.sink == "kinesis") "AWS Kinesis" else "AMQP"} client")
      1

    case "replicate" =>
      if (c.createSlot) {
        val admin = newClient(c)
        admin.connect()
        try admin.createSlot(c.slot) finally admin.close()
      }
      val receiver = new PgWalReceiver(() => newClient(c), c.spoolDir,
        linesPerSegment = c.spoolSegmentLines,
        maxRecoveries = Int.MaxValue,
        compactAfterSegments = c.spoolCompactSegments)
      receiver.start(c.slot)
      // `kill -IO <pid>` dumps the replication backlog, the reference's
      // SIGIO diagnostics (progress_tracker.go:291-305). The streaming
      // ack path needs no driver-side ledger (checkpoints provide the
      // contiguity guarantee), so the dump is the receiver's queue depth.
      graft.streaming.StatsReporters.registerSignalDump() { () =>
        graft.streaming.StatsReporters.stdoutEmit(
          s"progress_tracker.spool_depth type=gauge unit=lines value=${receiver.spoolDepth} " +
            s"spooled=${receiver.linesSpooled} compacted=${receiver.compactedLines}")
      }
      val spark = sparkProvider.map(_())
        .getOrElse(SparkSession.builder()
          .master(c.master)
          .appName("graft-replicate")
          .config("spark.sql.session.timeZone", "UTC")
          .getOrCreate())
      val cfg = cdcConfig(c)
      try {
        val src = CdcPipeline.fromWalSource(spark, c.spoolDir,
          maxLinesPerTrigger = Some(c.clientBufferSize), flushAgeMillis = cfg.triggerMillis)
        // BEGIN/COMMIT rows carry NULL json — transaction boundaries
        // feed the ack ledger, not the sink (reference transporters
        // only ship marshalled records). `transform` fences `json` (and
        // the parse under it), so this filter cannot be inlined into a
        // second parse and marshal: each runs once per row.
        val out = CdcPipeline.transform(src, cfg)
          .where(org.apache.spark.sql.functions.col("json").isNotNull)
        val writer = c.sink match {
          case "stdout" =>
            val w = CdcPipeline.toConsole(out)
            if (c.checkpoint.nonEmpty) w.option("checkpointLocation", c.checkpoint) else w
          case "s3" => CdcPipeline.toGzipFiles(out, c.outPath, c.checkpoint, cfg)
          case "kafka" => CdcPipeline.toKafka(out, c.kafkaBootstrap, c.kafkaTopic,
            c.kafkaKeyMode match {
              case "txn-time-based" => KafkaKeyMode.TxnTimeBased
              case "transaction" => KafkaKeyMode.Transaction
              case "tablename" => KafkaKeyMode.TableName
              case "random" => KafkaKeyMode.Random // validate() rejects others
            }, c.checkpoint, c.workers)
          case "kinesis" | "rabbitmq" =>
            import graft.streaming.{BatchCaps, EpochTracker, TransportRegistry, TransportSpec}
            val sinkName = c.sink
            val spec = TransportSpec(sinkName, Map(
              "kinesis-stream" -> c.kinesisStream,
              "aws-region" -> c.awsRegion,
              "endpoint" -> c.endpoint,
              "rabbitmq-url" -> c.rabbitmqUrl,
              "exchange-name" -> c.exchangeName).filter(_._2.nonEmpty))
            val caps =
              if (sinkName == "kinesis") BatchCaps.kinesis
              else BatchCaps.rabbitmq.copy(maxRecords = c.rabbitBatchSize)
            // RabbitMQ routes by `<table>.<operation>`
            // (rabbitmq/transporter/transporter.go:310-316); Kinesis
            // keeps the partitioner's key (batch key-affinity,
            // kinesis/batch/batch.go:75-89)
            val routed =
              if (sinkName == "rabbitmq")
                out.withColumn("partitionKey",
                  org.apache.spark.sql.functions.concat(
                    org.apache.spark.sql.functions.col("table"),
                    org.apache.spark.sql.functions.lit("."),
                    org.apache.spark.sql.functions.col("operation")))
              else out
            // replay guard lives with the checkpoint: same durability
            // domain, reset together
            val tracker =
              if (c.checkpoint.nonEmpty)
                EpochTracker.fileBacked(s"${c.checkpoint}/epochs", sinkName)
              else EpochTracker.none
            // the closure ships only (sinkName, spec): the client is
            // resolved from the registry at partition-open time
            val w = CdcPipeline.toTransport(routed, caps,
              () => TransportRegistry.resolve(sinkName)
                .getOrElse(throw new IllegalStateException(
                  s"no $sinkName transport registered on this executor"))(spec),
              cfg, tracker)
            if (c.checkpoint.nonEmpty) w.option("checkpointLocation", c.checkpoint) else w
        }
        val query = writer.start()
        if (c.once) {
          // drain-until-quiet: process everything spooled, and only
          // exit once the receiver has gone idle for a few polls (the
          // fake/live server may still be mid-stream on the first pass)
          var last = -1L
          var stablePolls = 0
          while (stablePolls < 3) {
            query.processAllAvailable()
            val n = receiver.linesSpooled
            if (n == last) stablePolls += 1 else { stablePolls = 0; last = n }
            Thread.sleep(100)
          }
          // processAllAvailable returns at the first poll that admits
          // nothing, and the source holds a partial range back for up
          // to the flush age, so `last` may not be written yet. Drain
          // until the committed frontier (the last progress event's end
          // offset: a progress event follows its batch's commit) covers
          // it. processAllAvailable rethrows a failed query's cause, also
          // once it is inactive; a query that ends any other way fails
          // the run too, so nothing unwritten is ever acked below.
          def committed: Long = Option(query.lastProgress)
            .flatMap(_.sources.headOption).flatMap(p => Option(p.endOffset))
            .fold(0L)(WalOffset.fromJson(_).lsn)
          while (committed < last) {
            query.processAllAvailable()
            if (!query.isActive)
              throw query.exception.getOrElse(new IllegalStateException(
                s"query stopped before committing spool line $last"))
            Thread.sleep(10)
          }
          // The source acks a committed offset from the following poll;
          // a once-run stops without waiting for one, so the final
          // offset might never reach the ack hook and the slot would
          // replay the entire run on restart. Ack the DRAIN-STABLE line
          // count `last` — NOT a fresh receiver.linesSpooled read: a
          // live server can spool more lines after the loop above, and
          // confirming those unwritten lines upstream would lose them
          // permanently. Everything up to `last` is committed; the
          // receiver's stop sends the final forced status.
          receiver.ackLines(last)
        } else query.awaitTermination()
        query.stop()
        0
      } finally receiver.stop()
  }

  def main(args: Array[String]): Unit =
    parse(args.toSeq) match {
      case Left(err) =>
        Console.err.println(s"error: $err")
        Console.err.println(usage)
        sys.exit(2)
      case Right(c) =>
        try sys.exit(run(c))
        catch {
          case e: Throwable =>
            Console.err.println(s"error: ${e.getMessage}")
            sys.exit(1)
        }
    }
}
