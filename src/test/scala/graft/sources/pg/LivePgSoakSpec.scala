package graft.sources.pg

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cli.Main
import graft.parser.TestDecodingParser
import graft.sources.WalSource

/** Boots a REAL PostgreSQL server (initdb + pg_ctl from the host
  * install) for live soak testing. Every other PG spec runs against
  * the in-process [[FakePgServer]]; this harness exists for the one
  * thing a fake cannot prove — that the wire client, SCRAM exchange,
  * slot DDL, test_decoding grammar, ack feedback and restart/resume
  * semantics interoperate with an actual server, the way the
  * reference's itests drive a real `postgres:11` container
  * (reference itests/docker-compose.yml, itests/common.bash).
  *
  * Environment contract: server binaries discovered on PATH,
  * `/usr/local/bin`, or `/usr/lib/postgresql/<v>/bin`. PostgreSQL
  * refuses to run as root, so under a root test runner the cluster is
  * owned and started by the `postgres` system user via `runuser`;
  * when either piece is missing, [[LivePg.available]] is false and
  * the suite's tests cancel (assume) rather than fail.
  */
object LivePg {
  val user = "graft"
  val password = "graft_soak_pw"

  private def exec(bin: String): Boolean = new File(bin).canExecute

  lazy val binDir: Option[String] = {
    val fromPath = sys.env.getOrElse("PATH", "").split(':')
      .find(d => exec(s"$d/initdb") && exec(s"$d/pg_ctl"))
    def versioned: Seq[String] = {
      val root = new File("/usr/lib/postgresql")
      if (!root.isDirectory) Nil
      else root.listFiles().toSeq.map(v => s"${v.getPath}/bin")
    }
    (fromPath.toSeq ++ Seq("/usr/local/bin") ++ versioned)
      .find(d => exec(s"$d/initdb") && exec(s"$d/pg_ctl"))
  }

  lazy val isRoot: Boolean = runQuiet(Seq("id", "-u"))._2.trim == "0"

  /** Absolute runuser path: the test runner's JVM often lacks
    * /usr/sbin on PATH, so the discovered path is reused verbatim by
    * [[LivePgServer.asPg]] rather than trusting ProcessBuilder's
    * PATH lookup.
    */
  lazy val runuserPath: Option[String] =
    Seq("/usr/sbin/runuser", "/usr/bin/runuser").find(exec)

  /** Root cannot start postgres directly; require runuser + a postgres
    * system account to drop privileges.
    */
  lazy val canRun: Boolean =
    if (!isRoot) true
    else runuserPath.isDefined &&
      runQuiet(Seq("id", "-u", "postgres"))._1 == 0

  lazy val available: Boolean = binDir.isDefined && canRun

  private[pg] def runQuiet(cmd: Seq[String], cwd: Option[File] = None): (Int, String) = {
    val pb = new ProcessBuilder(cmd: _*)
    cwd.foreach(pb.directory)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }
}

/** One throwaway cluster: initdb with SCRAM-only TCP auth, started
  * with `wal_level=logical` on a random loopback port, removed on
  * [[stop]].
  */
final class LivePgServer {
  import LivePg._

  private val bin = binDir.getOrElse(sys.error("no PostgreSQL binaries"))
  private val base = Files.createTempDirectory("graft_livepg").toFile
  private val data = new File(base, "data")
  val port: Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** Wrap for the unprivileged postgres user when running as root. */
  private def asPg(cmd: Seq[String]): Seq[String] =
    if (isRoot)
      Seq(runuserPath.getOrElse(sys.error("no runuser")), "-u", "postgres", "--") ++ cmd
    else cmd

  private def must(cmd: Seq[String]): String = {
    // cwd = cluster base: the postgres user cannot chdir into the
    // runner's (root-owned) working directory
    val (rc, out) = runQuiet(asPg(cmd), Some(base))
    require(rc == 0, s"${cmd.head} failed (rc=$rc):\n$out")
    out
  }

  locally {
    val pwfile = new File(base, "pwfile")
    Files.write(pwfile.toPath, s"$password\n".getBytes("UTF-8"))
    if (isRoot) {
      val (rc, out) = runQuiet(Seq("chown", "-R", "postgres:postgres", base.getPath))
      require(rc == 0, s"chown failed: $out")
    }
    must(Seq(s"$bin/initdb", "-D", data.getPath, "-U", user,
      s"--pwfile=${pwfile.getPath}", "--auth-host=scram-sha-256",
      "--auth-local=trust", "-E", "UTF8"))
    // logical wal + loopback TCP on the random port; unix socket kept
    // inside the cluster dir (no /var/run access needed)
    must(Seq(s"$bin/pg_ctl", "-D", data.getPath, "-w",
      "-l", s"${base.getPath}/pg.log",
      "-o", s"-c wal_level=logical -c max_replication_slots=8 " +
        s"-c max_wal_senders=8 -c listen_addresses=127.0.0.1 " +
        s"-c port=$port -c unix_socket_directories=${base.getPath}",
      "start"))
  }

  /** New replication-mode connection (SCRAM over TCP — the auth mode
    * initdb pinned for host connections).
    */
  def connect(db: String = "postgres"): PgReplicationClient = {
    val c = new PgReplicationClient("127.0.0.1", port, user, db,
      Some(password), statusIntervalMillis = 200L, readPollMillis = 20)
    c.connect()
    c
  }

  def confirmedFlush(admin: PgReplicationClient, slot: String): Long = {
    val rows = admin.simpleQuery(
      s"SELECT confirmed_flush_lsn::text FROM pg_replication_slots WHERE slot_name = '$slot'")
    if (rows.isEmpty || rows.head.head == null) 0L
    else PgWire.parseLsn(rows.head.head)
  }

  def stop(): Unit = {
    try must(Seq(s"$bin/pg_ctl", "-D", data.getPath, "-m", "immediate", "stop"))
    catch { case _: Throwable => () }
    def rm(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(base)
  }
}

/** Live soak against a real PostgreSQL: the three layers the fake
  * server could only approximate, each asserted end to end.
  */
class LivePgSoakSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var srvOpt: Option[LivePgServer] = None
  private def srv: LivePgServer = srvOpt match {
    case Some(s) => s
    case None => val s = new LivePgServer(); srvOpt = Some(s); s
  }

  override def afterAll(): Unit = srvOpt.foreach(_.stop())

  private def awaitTrue(timeoutMillis: Long = 90000L)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMillis * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    cond
  }

  private def spoolLines(dir: String): Seq[String] =
    WalSource.segments(dir).flatMap { s =>
      val src = scala.io.Source.fromFile(s.file, "UTF-8")
      try src.getLines().toVector finally src.close()
    }

  test("live: SCRAM-SHA-256 over TCP, IDENTIFY_SYSTEM, slot DDL with real 42710/42704") {
    assume(LivePg.available, "no runnable PostgreSQL server in this environment")
    val c = srv.connect()
    try {
      val (sysid, timeline, xlogpos) = c.identifySystem()
      assert(sysid.nonEmpty && timeline >= 1 && xlogpos > 0L)
      // a server that accepted the startup under --auth-host=scram
      // proves the RFC 5802 exchange + server-signature check for real
      assert(c.createSlot("soak_ddl"), "first create returns created=true")
      assert(!c.createSlot("soak_ddl"), "duplicate maps real 42710 to false")
      c.dropSlot("soak_ddl")
      c.dropSlot("soak_ddl") // real 42704 swallowed
      val rows = c.simpleQuery(
        "SELECT count(*) FROM pg_replication_slots WHERE slot_name = 'soak_ddl'")
      assert(rows.head.head == "0")
    } finally c.close()
  }

  test("live: DML streams through test_decoding, parses, acks trim the slot, resume replays only new txns") {
    assume(LivePg.available, "no runnable PostgreSQL server in this environment")
    val admin = srv.connect()
    val spool = Files.createTempDirectory("graft_soak_spool").toString
    var receiver: PgWalReceiver = null
    try {
      admin.simpleQuery("CREATE TABLE soak_users (id int PRIMARY KEY, name text)")
      // full old-tuple images on UPDATE/DELETE — the reference expects
      // old-key sections when available (parselogical.go old-key tests)
      admin.simpleQuery("ALTER TABLE soak_users REPLICA IDENTITY FULL")
      assert(admin.createSlot("soak_stream"))
      admin.simpleQuery("INSERT INTO soak_users VALUES (1, 'a'), (2, 'b')")
      admin.simpleQuery("UPDATE soak_users SET name = 'z' WHERE id = 1")
      admin.simpleQuery("DELETE FROM soak_users WHERE id = 2")

      val streamClient = srv.connect()
      receiver = new PgWalReceiver(streamClient, spool)
      // skip-empty-xacts: concurrent autovacuum/autoanalyze txns on a
      // live cluster would otherwise interleave empty BEGIN/COMMIT
      // frames into the positional assertions below
      receiver.start("soak_stream",
        pluginOptions = Seq("skip-empty-xacts" -> "1"))
      // 3 autocommit txns: (B,I,I,C) (B,U,C) (B,D,C) = 10 frames
      assert(receiver.awaitLines(10), "expected 10 test_decoding frames")

      val parsed = spoolLines(spool).take(10).map { l =>
        TestDecodingParser.parse(l).fold(e => fail(s"parse failed: $e [$l]"), identity)
      }
      assert(parsed.map(_.operation) == Seq(
        "BEGIN", "INSERT", "INSERT", "COMMIT",
        "BEGIN", "UPDATE", "COMMIT",
        "BEGIN", "DELETE", "COMMIT"))
      val ins = parsed(1)
      assert(ins.relation == "public.soak_users")
      assert(ins.columns("id").v == "1" && ins.columns("name").v == "a")
      val upd = parsed(5)
      // REPLICA IDENTITY FULL → real old-key section carries the
      // pre-image; new-tuple the post-image
      assert(upd.oldColumns("name").v == "a" && upd.columns("name").v == "z")
      val del = parsed(8)
      assert(del.columns("id").v == "2" && del.columns("name").v == "b")

      // ack everything spooled; the translated LSN must reach the
      // server's slot state (confirmed_flush_lsn) via StandbyStatusUpdate
      receiver.ackLines(10)
      val ackTarget = streamClient.currentAckLsn
      assert(ackTarget > 0L, "ackLines must translate line 10 to a WAL LSN")
      assert(awaitTrue() {
        srv.confirmedFlush(admin, "soak_stream") >= ackTarget
      }, "confirmed_flush_lsn never caught up to the acked LSN")
      receiver.stop(); receiver = null

      // resume: only post-ack txns replay (confirmed_flush is the
      // restart point — the durability contract the reference's
      // progress ledger exists to uphold)
      admin.simpleQuery("INSERT INTO soak_users VALUES (3, 'c')")
      val spool2 = Files.createTempDirectory("graft_soak_spool2").toString
      receiver = new PgWalReceiver(srv.connect(), spool2)
      // startLsn 0/0 → continue from confirmed_flush
      receiver.start("soak_stream",
        pluginOptions = Seq("skip-empty-xacts" -> "1"))
      assert(receiver.awaitLines(3), "resume should deliver exactly the new txn")
      val parsed2 = spoolLines(spool2).take(3).map(l => TestDecodingParser.parse(l)
        .fold(e => fail(s"parse failed: $e [$l]"), identity))
      assert(parsed2.map(_.operation) == Seq("BEGIN", "INSERT", "COMMIT"))
      assert(parsed2(1).columns("id").v == "3")
      assert(!spoolLines(spool2).exists(l => l.contains("id[integer]:1") || l.contains("id[integer]:2")),
        "acked transactions must not replay")
    } finally {
      if (receiver != null) try receiver.stop() catch { case _: Throwable => () }
      try admin.dropSlot("soak_stream") finally admin.close()
    }
  }

  test("live: CLI replicate s3 --once end-to-end, then a second run delivers only new DML exactly once") {
    assume(LivePg.available, "no runnable PostgreSQL server in this environment")
    val admin = srv.connect()
    val spool = Files.createTempDirectory("graft_soak_cli_spool").toString
    val outDir = Files.createTempDirectory("graft_soak_cli_out").toString
    val ckpt = Files.createTempDirectory("graft_soak_cli_ckpt").toString
    try {
      admin.simpleQuery("CREATE TABLE soak_orders (id int PRIMARY KEY, note text)")
      admin.simpleQuery("CREATE TABLE soak_skip (id int PRIMARY KEY)")
      assert(admin.createSlot("soak_cli"))
      admin.simpleQuery("INSERT INTO soak_orders VALUES (1, 'one'), (2, 'two')")
      admin.simpleQuery("INSERT INTO soak_skip VALUES (99)")
      admin.simpleQuery("UPDATE soak_orders SET note = 'uno' WHERE id = 1")
      // one bulk transaction: 2000 changes through a single commit —
      // volume the fake server never produced
      admin.simpleQuery(
        "INSERT INTO soak_orders SELECT g, 'bulk' FROM generate_series(1000, 2999) g")
      val flushBefore = srv.confirmedFlush(admin, "soak_cli")

      def runOnce(): Unit = {
        val c = Main.parse(Seq("replicate", "s3",
          "--host", "127.0.0.1", "--port", srv.port.toString,
          "--user", LivePg.user, "--dbname", "postgres",
          "--password", LivePg.password,
          "--slot", "soak_cli", "--create-slot", // idempotent against the real slot
          "--blacklist", "public.soak_skip",
          "--partition-method", "tablename",
          "--spool-dir", spool, "--out-path", outDir, "--checkpoint", ckpt,
          "--batch-flush-max-age", "100", "--once")).toOption.get
        assert(Main.run(c, Some(() => TestSpark.spark)) == 0)
      }
      runOnce()

      val spark = TestSpark.spark
      // read the sink ROOT so Spark consults the streaming file sink's
      // _spark_metadata commit log — a retried micro-batch may leave
      // orphan part files a raw glob would double-count, which is
      // exactly the exactly-once property this test asserts
      def records(): Seq[String] =
        spark.read.text(outDir).select("value")
          .collect().map(_.getString(0)).toSeq
      val first = records()
      // 2 inserts + 1 update + 2000 bulk inserts; soak_skip blacklisted
      assert(first.length == 2003, s"expected 2003 records, got ${first.length}")
      assert(first.forall(_.contains("\"table\":\"public.soak_orders\"")))
      assert(first.count(_.contains("\"operation\":\"UPDATE\"")) == 1)
      assert(!first.exists(_.contains("soak_skip")))
      // ack feedback reached the REAL slot: confirmed_flush advanced
      assert(awaitTrue()(srv.confirmedFlush(admin, "soak_cli") > flushBefore),
        "slot confirmed_flush_lsn did not advance after the drained run")

      // second run: resume from checkpoint + slot; only new DML, once
      admin.simpleQuery("INSERT INTO soak_orders VALUES (5000, 'second-run')")
      runOnce()
      val second = records()
      assert(second.length == 2004,
        s"resume must add exactly the new record, got ${second.length}")
      assert(second.count(_.contains("\"v\":\"second-run\"")) == 1,
        "the new row is delivered exactly once")
    } finally {
      try admin.dropSlot("soak_cli") finally admin.close()
    }
  }
}
