package graft.cli

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.pg.{FakeConn, FakePgServer}

/** The runnable entry point, driven end-to-end against the fake PG
  * server — the reference's `pg-bifrost create|drop|replicate <sink>`
  * loop (main/main.go:557-763) over the Spark pipeline.
  */
class CliSpec extends AnyFunSuite {

  // 90 s: load-flake headroom under full-suite core saturation (green
  // runs exit the poll immediately — see PgReplicationSpec.awaitTrue)
  private def awaitTrue(timeoutMillis: Long = 90000L)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMillis * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    cond
  }

  test("flag parsing: defaults, lists, precedence, validation errors") {
    val c = Main.parse(Seq("replicate", "s3",
      "--slot", "s1", "--host", "h", "--port", "5433", "--password", "pw",
      "--whitelist", "public.a", "--whitelist", "public.b",
      "--partition-method", "transaction-bucket", "--partition-count", "8",
      "--batcher-routing-method", "partition", "--workers", "4",
      "--no-marshal-old-value", "--batch-flush-max-age", "250",
      "--spool-dir", "/tmp/sp", "--out-path", "/tmp/o", "--checkpoint", "/tmp/c",
      "--once")).toOption.get
    assert(c.slot == "s1" && c.port == 5433 && c.whitelist == Seq("public.a", "public.b"))
    assert(c.partitionMethod == "transaction-bucket" && c.partitionCount == 8)
    assert(c.noMarshalOldValue && c.once && c.workers == 4)
    val cfg = Main.cdcConfig(c)
    assert(cfg.whitelist && cfg.filterTables == Seq("public.a", "public.b"))
    assert(cfg.partitionMethod == graft.operators.Partitioner.TransactionBucket(8))
    assert(cfg.routing == graft.operators.Router.Partition())
    assert(cfg.triggerMillis == 250L)

    // --key=value form and the -s shorthand
    val c2 = Main.parse(Seq("replicate", "stdout", "--slot=x", "-s",
      "--spool-dir=/tmp/sp")).toOption.get
    assert(c2.slot == "x" && c2.createSlot && c2.sink == "stdout")

    assert(Main.parse(Nil).isLeft)
    assert(Main.parse(Seq("nonsense")).isLeft)
    assert(Main.parse(Seq("replicate")).isLeft) // sink required
    assert(Main.parse(Seq("replicate", "s3", "--spool-dir", "d")).isLeft) // out-path/checkpoint
    assert(Main.parse(Seq("replicate", "stdout")).isLeft) // spool-dir
    assert(Main.parse(Seq("create", "--bogus", "x")).isLeft)
    // mutually exclusive filters (the reference errors too, main.go:430-445)
    assert(Main.parse(Seq("replicate", "stdout", "--spool-dir", "d",
      "--whitelist", "a", "--blacklist", "b")).isLeft)
    assert(Main.parse(Seq("replicate", "stdout", "--spool-dir", "d",
      "--partition-method", "wat")).isLeft)
    // a trailing value-taking flag must error, not swallow ""
    assert(Main.parse(Seq("create", "--slot")) ==
      Left("missing value for --slot"))
    // numeric flags produce usage errors, not raw NumberFormatException
    assert(Main.parse(Seq("create", "--port", "abc")).isLeft)
    assert(Main.parse(Seq("create", "--port=")).isLeft)
    // kafka key mode is validated like every other enum flag
    assert(Main.parse(Seq("replicate", "kafka", "--spool-dir", "d",
      "--kafka-bootstrap", "b", "--kafka-topic", "t",
      "--kafka-key-mode", "table-name")).isLeft)
  }

  test("env layer: flag > environment > default, reference EnvVar names") {
    val env = Map(
      "REPLICATION_SLOT" -> "env_slot", "PGUSER" -> "env_u", "PGHOST" -> "env_h",
      "PGPORT" -> "5444", "PGDATABASE" -> "env_db", "PGPASSWORD" -> "env_pw",
      "WORKERS" -> "8", "PARTITION_METHOD" -> "transaction",
      "WHITELIST" -> "public.a,public.b", "CREATE_SLOT" -> "true")
    // env alone fills everything
    val c = Main.parse(Seq("replicate", "stdout", "--spool-dir", "d"), env).toOption.get
    assert(c.slot == "env_slot" && c.user == "env_u" && c.host == "env_h" &&
      c.port == 5444 && c.dbname == "env_db" && c.password.contains("env_pw"))
    assert(c.workers == 8 && c.partitionMethod == "transaction" && c.createSlot)
    assert(c.whitelist == Seq("public.a", "public.b"))
    // a flag overrides its env value; a list flag REPLACES the env list
    val c2 = Main.parse(Seq("replicate", "stdout", "--spool-dir", "d",
      "--slot", "flag_slot", "--whitelist", "public.z"), env).toOption.get
    assert(c2.slot == "flag_slot" && c2.whitelist == Seq("public.z"))
    // malformed numeric env is a usage error, not an exception
    assert(Main.parse(Seq("create"), Map("PGPORT" -> "abc")).isLeft)
    // booleans take the flag spellings; a malformed one is a usage
    // error naming the variable; an empty value leaves the default
    assert(Main.parse(Seq("create"), Map("CREATE_SLOT" -> "yes")).toOption.get.createSlot)
    assert(Main.parse(Seq("create"), Map("CREATE_SLOT" -> "maybe"))
      .left.toOption.get.contains("CREATE_SLOT"))
    assert(!Main.parse(Seq("create"), Map("CREATE_SLOT" -> "")).toOption.get.createSlot)
    // an injected env WITHOUT PGPASSWORD must not leak the host's value:
    // the password default is None and only parse()'s env map fills it
    assert(Main.Cli().password.isEmpty)
    assert(Main.parse(Seq("create"), Map.empty).toOption.get.password.isEmpty)
  }

  test("config-file layer: flag > env > yaml > default, altsrc-style") {
    val dir = Files.createTempDirectory("graftcli").toFile
    dir.deleteOnExit()
    def write(name: String, body: String): String = {
      val f = new java.io.File(dir, name)
      Files.write(f.toPath, body.getBytes("UTF-8"))
      f.getPath
    }
    val cfg = write("config.yaml",
      """# pg connection
        |slot: yaml_slot
        |port: 6000
        |workers: 7
        |create-slot: true
        |whitelist:
        |  - public.a
        |  - public.b   # trailing comment
        |partition-method: tablename
        |spool-dir: '/tmp/spool'
        |""".stripMargin)

    // yaml alone fills values and satisfies validation (spool-dir)
    val c1 = Main.parse(Seq("replicate", "stdout", "--config", cfg), Map.empty).toOption.get
    assert(c1.slot == "yaml_slot" && c1.port == 6000 && c1.workers == 7 && c1.createSlot)
    assert(c1.whitelist == Seq("public.a", "public.b"))
    assert(c1.partitionMethod == "tablename" && c1.spoolDir == "/tmp/spool")

    // env overrides yaml
    val c2 = Main.parse(Seq("replicate", "stdout", s"--config=$cfg"),
      Map("REPLICATION_SLOT" -> "env_slot", "WHITELIST" -> "public.c")).toOption.get
    assert(c2.slot == "env_slot" && c2.whitelist == Seq("public.c"))
    assert(c2.port == 6000) // yaml value survives where env is silent

    // a flag overrides both; the first list flag REPLACES the yaml list
    val c3 = Main.parse(Seq("replicate", "stdout", "--config", cfg,
      "--slot", "flag_slot", "--whitelist", "public.z"),
      Map("REPLICATION_SLOT" -> "env_slot")).toOption.get
    assert(c3.slot == "flag_slot" && c3.whitelist == Seq("public.z"))

    // an env boolean false overrides a yaml true
    val cfgOld = write("old.yaml", "no-marshal-old-value: true\n")
    assert(Main.parse(Seq("create", "--config", cfgOld), Map.empty).toOption.get.noMarshalOldValue)
    assert(!Main.parse(Seq("create", "--config", cfgOld),
      Map("NO_MARSHAL_OLD_VALUE" -> "false")).toOption.get.noMarshalOldValue)

    // inline lists and boolean false
    val cfg2 = write("inline.yaml",
      """blacklist-regex: [^public\.tmp_.*$, ^public\.scratch$]
        |once: false
        |""".stripMargin)
    val c4 = Main.parse(Seq("create", "--config", cfg2), Map.empty).toOption.get
    assert(c4.blacklistRegex == Seq("^public\\.tmp_.*$", "^public\\.scratch$"))
    assert(!c4.once)

    // errors are loud: missing explicit file, unknown key, bad int,
    // mutually-exclusive lists assembled across layers
    assert(Main.parse(Seq("create", "--config", s"$dir/nope.yaml"), Map.empty)
      .left.toOption.get.contains("not found"))
    assert(Main.parse(Seq("create", "--config", write("bad1.yaml", "bogus-key: 1\n")),
      Map.empty).left.toOption.get.contains("unknown flag"))
    assert(Main.parse(Seq("create", "--config", write("bad2.yaml", "port: abc\n")),
      Map.empty).left.toOption.get.contains("integer"))
    assert(Main.parse(Seq("replicate", "stdout", "--config", cfg,
      "--blacklist", "public.x"), Map.empty)
      .left.toOption.get.contains("mutually exclusive"))
    // 'config' key inside the file is rejected (no recursive includes)
    assert(Main.parse(Seq("create", "--config",
      write("bad3.yaml", "config: other.yaml\n")), Map.empty).isLeft)
  }

  test("create and drop drive slot DDL over the live protocol") {
    val srv = new FakePgServer(Nil, authMode = "md5", expectedPassword = "pw")
    try {
      val base = Seq("--host", "127.0.0.1", "--port", srv.port.toString,
        "--user", "u", "--dbname", "db", "--password", "pw", "--slot", "cli_slot")
      assert(Main.run(Main.parse("create" +: base).toOption.get) == 0)
      assert(srv.slots.contains("cli_slot"))
      // idempotent: 42710 handled
      assert(Main.run(Main.parse("create" +: base).toOption.get) == 0)
      assert(Main.run(Main.parse("drop" +: base).toOption.get) == 0)
      assert(srv.slots.isEmpty)
      // idempotent drop: 42704 swallowed
      assert(Main.run(Main.parse("drop" +: base).toOption.get) == 0)
    } finally srv.stop()
  }

  test("replicate s3 --once: socket -> spool -> transform -> gzip files, acks reach the server") {
    val lines = Seq(
      0x100L -> "BEGIN 700",
      0x110L -> "table public.users: INSERT: id[integer]:1 name[text]:'a'",
      0x120L -> "table secret.keys: INSERT: id[integer]:9", // filtered out
      0x130L -> "table public.users: UPDATE: id[integer]:1 name[text]:'b'",
      0x140L -> "COMMIT 700")
    val srv = new FakePgServer(lines, authMode = "scram", expectedPassword = "pw")
    val spool = Files.createTempDirectory("graft_cli_spool").toString
    val outDir = Files.createTempDirectory("graft_cli_out").toString
    val ckpt = Files.createTempDirectory("graft_cli_ckpt").toString
    try {
      val c = Main.parse(Seq("replicate", "s3",
        "--host", "127.0.0.1", "--port", srv.port.toString,
        "--user", "u", "--dbname", "db", "--password", "pw",
        "--slot", "cli_e2e", "--create-slot",
        "--blacklist", "secret.keys",
        "--partition-method", "tablename",
        "--spool-dir", spool, "--out-path", outDir, "--checkpoint", ckpt,
        "--batch-flush-max-age", "100", "--once")).toOption.get
      assert(Main.run(c, Some(() => TestSpark.spark)) == 0)

      assert(srv.slots.contains("cli_e2e"), "create-slot ran before replication")
      val spark = TestSpark.spark
      val jsons = spark.read.text(outDir + "/*/*/*/*/*.gz")
        .collect().map(_.getString(0)).sorted
      // INSERT + UPDATE only: the blacklist drops secret.keys, and
      // BEGIN/COMMIT are boundaries, not sink records
      assert(jsons.length == 2, s"expected 2 records:\n${jsons.mkString("\n")}")
      assert(jsons.forall(_.contains("\"table\":\"public.users\"")))
      assert(jsons.exists(_.contains("\"operation\":\"INSERT\"")) &&
        jsons.exists(_.contains("\"operation\":\"UPDATE\"")))
      // acks flowed back as real server LSNs
      assert(awaitTrue()(!srv.acks.isEmpty))
      assert(srv.acks.asScala.forall(a => a == 0L || lines.map(_._1).contains(a)))
    } finally srv.stop()
  }

  test("replicate s3 --once: a tail held back by the flush age is written before it is acked") {
    val head = Seq(
      0x100L -> "BEGIN 720",
      0x110L -> "table public.users: INSERT: id[integer]:1 name[text]:'a'",
      0x120L -> "COMMIT 720")
    // streamed once the first batch is acked: fewer lines than the
    // client buffer, so the source admits them only at the flush age,
    // after processAllAvailable has already seen a poll with no data
    val tail = Seq(
      0x200L -> "BEGIN 721",
      0x210L -> "table public.users: INSERT: id[integer]:2 name[text]:'b'",
      0x220L -> "COMMIT 721")
    val srv = new FakePgServer(Nil, connScripts = Seq(FakeConn(head, tailAfterFirstAck = tail)))
    val spool = Files.createTempDirectory("graft_cli_tail_spool").toString
    val outDir = Files.createTempDirectory("graft_cli_tail_out").toString
    val ckpt = Files.createTempDirectory("graft_cli_tail_ckpt").toString
    try {
      val c = Main.parse(Seq("replicate", "s3",
        "--host", "127.0.0.1", "--port", srv.port.toString,
        "--user", "u", "--dbname", "db", "--slot", "cli_tail",
        "--spool-dir", spool, "--out-path", outDir, "--checkpoint", ckpt,
        "--batch-flush-max-age", "3000", "--once")).toOption.get
      assert(Main.run(c, Some(() => TestSpark.spark)) == 0)

      val ids = TestSpark.spark.read.text(outDir + "/*/*/*/*/*.gz").collect()
        .flatMap(r => """"id":\{"new":\{"v":"(\d+)"""".r.findFirstMatchIn(r.getString(0)))
        .map(_.group(1).toInt).toSet
      // the run acks its final COMMIT, and every line at or below the
      // highest acked LSN reached the sink
      assert(awaitTrue()(srv.acks.contains(0x220L)), s"acks ${srv.acks}")
      val acked = srv.acks.asScala.foldLeft(0L)(math.max)
      val ackedIds = (head ++ tail).collect {
        case (w, l) if w <= acked && l.contains("INSERT") => """id\[integer\]:(\d+)""".r
          .findFirstMatchIn(l).get.group(1).toInt
      }.toSet
      assert(ackedIds == Set(1, 2) && ackedIds.subsetOf(ids), s"acked ids $ackedIds, delivered $ids")
    } finally srv.stop()
  }

  test("replicate kinesis --once: a tail whose sink write fails fails the run and is never acked") {
    import graft.streaming.{RecordTransport, SendResult, SinkRecord, TransportRegistry}
    val head = Seq(
      0x100L -> "BEGIN 730",
      0x110L -> "table public.users: INSERT: id[integer]:1 name[text]:'a'",
      0x120L -> "COMMIT 730")
    val tail = Seq(
      0x200L -> "BEGIN 731",
      0x210L -> "table public.users: INSERT: id[integer]:2 name[text]:'b'",
      0x220L -> "COMMIT 731")
    val srv = new FakePgServer(Nil, connScripts = Seq(FakeConn(head, tailAfterFirstAck = tail)))
    val spool = Files.createTempDirectory("graft_cli_fail_spool").toString
    val ckpt = Files.createTempDirectory("graft_cli_fail_ckpt").toString
    // the tail's record fails its write outright (no retryable result),
    // killing the query while the drain waits for the tail's commit
    TransportRegistry.register("kinesis") { _ =>
      new RecordTransport {
        override def send(records: Seq[SinkRecord]): SendResult =
          if (records.exists(r => new String(r.payload, "UTF-8").contains(""""v":"2"""")))
            throw new java.io.IOException("tail write refused")
          else SendResult(Nil)
      }
    }
    try {
      val c = Main.parse(Seq("replicate", "kinesis",
        "--host", "127.0.0.1", "--port", srv.port.toString,
        "--user", "u", "--dbname", "db", "--slot", "cli_fail",
        "--kinesis-stream", "wal-stream", "--aws-region", "us-east-1",
        "--spool-dir", spool, "--checkpoint", ckpt,
        "--batch-flush-max-age", "1000", "--once")).toOption.get
      // `main` maps a throwing run to exit code 1
      intercept[Exception](Main.run(c, Some(() => TestSpark.spark)))
      // the head was acked (that is what released the tail), the tail never
      assert(awaitTrue()(srv.acks.contains(0x120L)), s"acks ${srv.acks}")
      Thread.sleep(200)
      assert(srv.acks.asScala.forall(_ < 0x200L), s"acks ${srv.acks}")
    } finally {
      TransportRegistry.unregister("kinesis")
      srv.stop()
    }
  }

  test("replicate stdout --once with --spool-compact-segments bounds spool disk") {
    val lines = Seq(
      0x200L -> "BEGIN 710",
      0x210L -> "table public.users: INSERT: id[integer]:1 name[text]:'a'",
      0x220L -> "table public.users: INSERT: id[integer]:2 name[text]:'b'",
      0x230L -> "COMMIT 710")
    val srv = new FakePgServer(lines)
    val spool = Files.createTempDirectory("graft_cli_compact").toString
    try {
      val c = Main.parse(Seq("replicate", "stdout",
        "--host", "127.0.0.1", "--port", srv.port.toString,
        "--user", "u", "--dbname", "db", "--slot", "cli_compact",
        "--spool-dir", spool,
        "--spool-segment-lines", "2", "--spool-compact-segments", "1",
        // cap lines/trigger so the run spans several micro-batches:
        // Spark commits batch N's offsets (the ack edge that drives
        // compaction) only when batch N+1 starts
        "--client-buffer-size", "2",
        "--batch-flush-max-age", "100", "--once")).toOption.get
      assert(Main.run(c, Some(() => TestSpark.spark)) == 0)

      // 4 lines / 2-line segments: commits acked everything, so the
      // fully-acked leading segment and its sidecar were compacted away
      // (the newest is always kept); the survivors keep their sidecars
      val segs = graft.sources.WalSource.segments(spool)
      assert(segs.nonEmpty && segs.head.start > 0, s"segments left: ${segs.map(_.file.getName)}")
      assert(!new java.io.File(spool, ".000000000000.wal.lsn").exists())
      assert(segs.forall(_.sidecar.exists()))
      // acks still translated to real server LSNs after compaction
      assert(awaitTrue()(!srv.acks.isEmpty))
      assert(srv.acks.asScala.forall(a => a == 0L || lines.map(_._1).contains(a)))
    } finally srv.stop()
  }

  private val transportLines = Seq(
    0x100L -> "BEGIN 700",
    0x110L -> "table public.users: INSERT: id[integer]:1 name[text]:'a'",
    0x120L -> "table secret.keys: INSERT: id[integer]:9", // filtered out
    0x130L -> "table public.users: UPDATE: id[integer]:1 name[text]:'b'",
    0x140L -> "COMMIT 700")

  test("replicate kinesis --once: registered transport delivers through a failed first send") {
    import graft.streaming.{InMemoryTransport, TransportRegistry}
    val srv = new FakePgServer(transportLines, authMode = "md5", expectedPassword = "pw")
    val spool = Files.createTempDirectory("graft_cli_kin_spool").toString
    val ckpt = Files.createTempDirectory("graft_cli_kin_ckpt").toString
    // fault injection: the first PutRecords attempt fails wholesale and
    // must be retried under backoff — the kinesis itest analog
    val transport = new InMemoryTransport(failFirst = 1)
    @volatile var seenSpec: Option[graft.streaming.TransportSpec] = None
    TransportRegistry.register("kinesis") { spec => seenSpec = Some(spec); transport }
    try {
      val c = Main.parse(Seq("replicate", "kinesis",
        "--host", "127.0.0.1", "--port", srv.port.toString,
        "--user", "u", "--dbname", "db", "--password", "pw",
        "--slot", "cli_kin", "--create-slot",
        "--blacklist", "secret.keys",
        "--kinesis-stream", "wal-stream", "--aws-region", "us-east-1",
        "--spool-dir", spool, "--checkpoint", ckpt,
        "--batch-flush-max-age", "100", "--once")).toOption.get
      assert(Main.run(c, Some(() => TestSpark.spark)) == 0)

      val recs = transport.sent.flatten // delivered AFTER the failed attempt
      val payloads = recs.map(r => new String(r.payload, "UTF-8"))
      assert(payloads.count(_.contains("\"table\":\"public.users\"")) == 2)
      assert(!payloads.exists(_.contains("secret.keys")), "blacklist reached the sink")
      assert(seenSpec.exists(s => s.sink == "kinesis" &&
        s.options("kinesis-stream") == "wal-stream" &&
        s.options("aws-region") == "us-east-1"))
      assert(awaitTrue()(!srv.acks.isEmpty), "acks flow with a transport sink")
    } finally {
      TransportRegistry.unregister("kinesis")
      srv.stop()
    }
  }

  test("replicate rabbitmq --once: routing key is <table>.<operation>") {
    import graft.streaming.{InMemoryTransport, TransportRegistry}
    val srv = new FakePgServer(transportLines, authMode = "md5", expectedPassword = "pw")
    val spool = Files.createTempDirectory("graft_cli_rmq_spool").toString
    val ckpt = Files.createTempDirectory("graft_cli_rmq_ckpt").toString
    val transport = new InMemoryTransport()
    TransportRegistry.register("rabbitmq") { spec =>
      assert(spec.options("rabbitmq-url") == "amqp://guest@localhost" &&
        spec.options("exchange-name") == "wal_exchange")
      transport
    }
    try {
      val c = Main.parse(Seq("replicate", "rabbitmq",
        "--host", "127.0.0.1", "--port", srv.port.toString,
        "--user", "u", "--dbname", "db", "--password", "pw",
        "--slot", "cli_rmq", "--create-slot",
        "--blacklist", "secret.keys",
        "--rabbitmq-url", "amqp://guest@localhost",
        "--exchange-name", "wal_exchange", "--rabbitmq-batch-size", "100",
        "--spool-dir", spool, "--checkpoint", ckpt,
        "--batch-flush-max-age", "100", "--once")).toOption.get
      assert(Main.run(c, Some(() => TestSpark.spark)) == 0)

      val recs = transport.sent.flatten
      // reference routing key: <table>.<operation>
      // (rabbitmq/transporter/transporter.go:310-316)
      assert(recs.map(_.partitionKey).sorted ==
        Seq("public.users.INSERT", "public.users.UPDATE"))
    } finally {
      TransportRegistry.unregister("rabbitmq")
      srv.stop()
    }
  }

  test("replicate kinesis --once: PARTIAL send failure retried to ledger-complete delivery") {
    import graft.streaming.{InMemoryTransport, TransportRegistry}
    val srv = new FakePgServer(transportLines, authMode = "md5", expectedPassword = "pw")
    val spool = Files.createTempDirectory("graft_cli_kinp_spool").toString
    val ckpt = Files.createTempDirectory("graft_cli_kinp_ckpt").toString
    // fault injection: ONE PutRecords attempt reports record index 1 as
    // failed (the Kinesis partial-failure shape, itests/tests/kinesis
    // analog); only the failed subset may be retried
    val transport = new InMemoryTransport(partialFailOnce = Seq(1))
    TransportRegistry.register("kinesis") { _ => transport }
    try {
      val c = Main.parse(Seq("replicate", "kinesis",
        "--host", "127.0.0.1", "--port", srv.port.toString,
        "--user", "u", "--dbname", "db", "--password", "pw",
        "--slot", "cli_kinp", "--create-slot",
        "--blacklist", "secret.keys",
        "--kinesis-stream", "wal-stream", "--aws-region", "us-east-1",
        "--spool-dir", spool, "--checkpoint", ckpt,
        "--batch-flush-max-age", "100", "--once")).toOption.get
      assert(Main.run(c, Some(() => TestSpark.spark)) == 0)

      // ledger-complete: every surviving record delivered EXACTLY once
      // across the partial failure + retry, nothing dropped or doubled
      val payloads = transport.sent.flatten.map(r => new String(r.payload, "UTF-8"))
      assert(payloads.count(_.contains("\"operation\":\"INSERT\"")) == 1)
      assert(payloads.count(_.contains("\"operation\":\"UPDATE\"")) == 1)
      assert(payloads.size == 2, s"expected exactly 2 deliveries, got $payloads")
      assert(transport.sent.size >= 2, "the failed subset must arrive via a retry send")
      // ...and the ack frontier reaches the COMMIT's LSN: the whole
      // transaction is acknowledged upstream only after the retry lands
      assert(awaitTrue()(srv.acks.asScala.contains(0x140L)),
        s"acks never reached the COMMIT LSN: ${srv.acks.asScala.toSeq.sorted}")
    } finally {
      TransportRegistry.unregister("kinesis")
      srv.stop()
    }
  }

  test("replicate rabbitmq --once: PARTIAL confirm failure retried to ledger-complete delivery") {
    import graft.streaming.{InMemoryTransport, TransportRegistry}
    val srv = new FakePgServer(transportLines, authMode = "md5", expectedPassword = "pw")
    val spool = Files.createTempDirectory("graft_cli_rmqp_spool").toString
    val ckpt = Files.createTempDirectory("graft_cli_rmqp_ckpt").toString
    // one basic.publish batch nacks record index 0 (confirm model:
    // rabbitmq/transporter/transporter.go:310-349) — republish only it
    val transport = new InMemoryTransport(partialFailOnce = Seq(0))
    TransportRegistry.register("rabbitmq") { _ => transport }
    try {
      val c = Main.parse(Seq("replicate", "rabbitmq",
        "--host", "127.0.0.1", "--port", srv.port.toString,
        "--user", "u", "--dbname", "db", "--password", "pw",
        "--slot", "cli_rmqp", "--create-slot",
        "--blacklist", "secret.keys",
        "--rabbitmq-url", "amqp://guest@localhost",
        "--exchange-name", "wal_exchange",
        "--spool-dir", spool, "--checkpoint", ckpt,
        "--batch-flush-max-age", "100", "--once")).toOption.get
      assert(Main.run(c, Some(() => TestSpark.spark)) == 0)

      val recs = transport.sent.flatten
      assert(recs.size == 2, s"expected exactly 2 deliveries, got ${recs.size}")
      // routing keys survive the retry path unchanged
      assert(recs.map(_.partitionKey).sorted ==
        Seq("public.users.INSERT", "public.users.UPDATE"))
      assert(transport.sent.size >= 2, "the nacked record must arrive via a republish")
      assert(awaitTrue()(srv.acks.asScala.contains(0x140L)),
        s"acks never reached the COMMIT LSN: ${srv.acks.asScala.toSeq.sorted}")
    } finally {
      TransportRegistry.unregister("rabbitmq")
      srv.stop()
    }
  }

  test("curate subcommand: end-to-end pipeline run writes split/packed/report with conserved counts") {
    val out = java.nio.file.Files.createTempDirectory("graft_curate_cli").toString
    val c = Main.parse(Seq("curate",
      "--input", "/root/testdata/sf0.001/documents.parquet",
      "--out-path", out)).toOption.get
    assert(c.command == "curate" && c.input.nonEmpty)
    assert(!c.spanDedup, "surgery stage is opt-in")
    assert(Main.parse(Seq("curate", "--input", "x", "--out-path", "y",
      "--span-dedup", "true")).toOption.get.spanDedup,
      "--span-dedup true must enable the surgery stage")
    assert(Main.run(c, Some(() => TestSpark.spark)) == 0)

    val spark = TestSpark.spark
    val report = spark.read.parquet(s"$out/report")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    assert(report.map(_._1).toSeq == Seq("corpus", "quality_gate",
      "cluster_dedup", "decontaminate", "typicality_filter",
      "train_split", "pack_bins"))
    // monotone filtering through the doc stages, nothing invented
    val docCounts = report.take(6).map(_._3)
    assert(docCounts.zip(docCounts.tail).forall { case (a, b) => a >= b },
      s"stage counts must be monotone: ${docCounts.toSeq}")
    assert(docCounts.last > 0, "pipeline must not annihilate the corpus")

    val split = spark.read.parquet(s"$out/split")
    val packed = spark.read.parquet(s"$out/packed")
    // every typicality survivor is split exactly once; packed covers
    // exactly the train split, one row per doc
    assert(split.count() == report(4)._3)
    assert(packed.count() == report(5)._3)
    assert(packed.select("id").distinct().count() == report(5)._3)
    // report bin count matches the packed output
    import org.apache.spark.sql.functions.col
    assert(packed.select(col("shard"), col("bin")).distinct().count() == report(6)._3)
    // missing flags fail fast
    assert(Main.run(Main.parse(Seq("curate", "--input", "x")).toOption.get,
      Some(() => TestSpark.spark)) == 1)
  }

  test("replicate kinesis|rabbitmq without a registered transport fails fast") {
    // no SDKs are bundled: the CLI must explain the registry seam, not
    // spool WAL it can never deliver
    val c = Main.parse(Seq("replicate", "kinesis",
      "--kinesis-stream", "s", "--spool-dir", "/tmp/nope")).toOption.get
    assert(Main.run(c, Some(() => TestSpark.spark)) == 1)
    val c2 = Main.parse(Seq("replicate", "rabbitmq",
      "--rabbitmq-url", "u", "--exchange-name", "x",
      "--spool-dir", "/tmp/nope")).toOption.get
    assert(Main.run(c2, Some(() => TestSpark.spark)) == 1)
    // missing required sink flags are parse-time errors
    assert(Main.parse(Seq("replicate", "kinesis", "--spool-dir", "d")).isLeft)
    assert(Main.parse(Seq("replicate", "rabbitmq", "--spool-dir", "d",
      "--rabbitmq-url", "u")).isLeft)
  }
}
