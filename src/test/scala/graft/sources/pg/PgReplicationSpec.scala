package graft.sources.pg

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Partitioner
import graft.streaming.{CdcConfig, CdcPipeline}

class PgReplicationSpec extends AnyFunSuite {

  private val txnLines: Seq[(Long, String)] = Seq(
    0x100L -> "BEGIN 800",
    0x110L -> "table public.users: INSERT: id[integer]:1 name[text]:'a'",
    0x120L -> "table public.users: INSERT: id[integer]:2 name[text]:'b'",
    0x130L -> "COMMIT 800",
    0x140L -> "BEGIN 801",
    0x150L -> "table public.users: UPDATE: id[integer]:1 name[text]:'z'",
    0x160L -> "COMMIT 801")

  private def newClient(port: Int, password: Option[String] = None) =
    new PgReplicationClient("127.0.0.1", port, "u", "db", password,
      statusIntervalMillis = 100L, readPollMillis = 20)

  // generous default: these run concurrently with Spark-heavy suites.
  // 90 s, not 30 s — with all 32 cores saturated by sibling Spark
  // suites, a reconnect + forced-ack round trip has been observed to
  // miss a 30 s deadline (r7 full-suite flake; 11/11 green isolated).
  // The poll returns the instant the condition holds, so a green run
  // never pays the headroom.
  private def awaitTrue(timeoutMillis: Long = 90000L)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMillis * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    cond
  }

  test("LSN text form roundtrips as %X/%X") {
    assert(PgWire.formatLsn(0x1A2B3C4D5E6FL) == "1A2B/3C4D5E6F")
    assert(PgWire.parseLsn("1A2B/3C4D5E6F") == 0x1A2B3C4D5E6FL)
    assert(PgWire.parseLsn(PgWire.formatLsn(0L)) == 0L)
    assert(PgWire.parseLsn(PgWire.formatLsn(Long.MaxValue)) == Long.MaxValue)
  }

  test("identify, idempotent slot DDL, md5 + cleartext auth") {
    val srv = new FakePgServer(Nil, authMode = "md5", expectedPassword = "s3cret")
    try {
      val c = newClient(srv.port, Some("s3cret"))
      c.connect()
      val (sysid, timeline, xlogpos) = c.identifySystem()
      assert(sysid == "7000000000000000001" && timeline == 1 && xlogpos == 0x100L)
      assert(srv.lastAuthResponse.startsWith("md5") && srv.lastAuthResponse.length == 35)
      // idempotent create: true first, false on 42710 duplicate
      assert(c.createSlot("graft_slot"))
      assert(!c.createSlot("graft_slot"))
      // drop: removes, then 42704 is swallowed
      c.dropSlot("graft_slot")
      c.dropSlot("graft_slot")
      assert(srv.slots.isEmpty)
      c.close()
    } finally srv.stop()

    val srv2 = new FakePgServer(Nil, authMode = "cleartext", expectedPassword = "pw2")
    try {
      val c = newClient(srv2.port, Some("pw2"))
      c.connect()
      assert(srv2.lastAuthResponse == "pw2")
      c.close()
    } finally srv2.stop()
  }

  test("silent server: connect() fails within the timeout instead of hanging") {
    // a listener that accepts TCP and then says NOTHING — both the
    // auth exchange and the SSLRequest byte must be read under a
    // deadline, or connect() blocks forever on a half-dead server
    val silent = new java.net.ServerSocket(0)
    try {
      for (mode <- Seq("disable", "require")) {
        val c = new PgReplicationClient("127.0.0.1", silent.getLocalPort,
          "u", "db", None, connectTimeoutMillis = 300, sslMode = mode)
        val t0 = System.nanoTime()
        intercept[java.net.SocketTimeoutException](c.connect())
        val elapsedMs = (System.nanoTime() - t0) / 1000000L
        assert(elapsedMs < 10000L, s"sslMode=$mode took ${elapsedMs}ms")
        c.close()
      }
    } finally silent.close()
  }

  test("copy-both loop: XLogData decode, keepalive reply, standby-status acks") {
    val srv = new FakePgServer(txnLines)
    val received = new ArrayBuffer[XLogData]()
    try {
      val c = newClient(srv.port)
      c.connect()
      val t = new Thread(() => c.startReplication("s", 0L) { x =>
        received.synchronized { received += x }
      })
      t.setDaemon(true); t.start()

      assert(awaitTrue()(received.synchronized(received.size) == txnLines.size))
      val got = received.synchronized(received.toVector)
      assert(got.map(_.line) == txnLines.map(_._2))
      assert(got.map(_.walStart) == txnLines.map(_._1))
      assert(got.forall(x => x.serverWalEnd > x.walStart && x.serverTimeMs > 0))

      // the reply-requested keepalive forces at least one status update
      assert(awaitTrue()(srv.acks.size() > 0))

      // committing an LSN surfaces it in the next StandbyStatusUpdate
      c.updateAckLsn(0x130L)
      assert(awaitTrue()(srv.acks.asScala.contains(0x130L)))

      c.requestStop()
      t.join(5000)
      // acks never regress
      val acks = srv.acks.asScala.toVector
      assert(acks == acks.sorted)
      assert(acks.last == 0x130L)
      c.close()
    } finally srv.stop()
  }

  test("end-to-end: socket -> spool -> graft-wal source -> sink, acks reach the server in server LSNs") {
    import TestSpark.spark
    val srv = new FakePgServer(txnLines)
    val dir = Files.createTempDirectory("graft_pg_spool").toString
    val client = newClient(srv.port)
    var receiver: PgWalReceiver = null
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      client.connect()
      receiver = new PgWalReceiver(client, dir, linesPerSegment = 3)
      receiver.start("s", 0L)
      assert(receiver.awaitLines(txnLines.size.toLong))

      val src = CdcPipeline.fromWalSource(spark, dir, maxLinesPerTrigger = Some(3), flushAgeMillis = 0)
      val out = CdcPipeline.transform(src,
        CdcConfig(partitionMethod = Partitioner.Transaction))
      q = out.writeStream.format("memory").queryName("pg_e2e")
        .outputMode("append").start()
      q.processAllAvailable()

      val rows = spark.table("pg_e2e").select("operation", "txn").collect()
      assert(rows.length == txnLines.size)
      assert(rows.count(_.getString(0) == "INSERT") == 2)
      assert(rows.filter(_.getString(0) == "UPDATE").map(_.getString(1)).toSeq == Seq("801"))

      // line-offset commits must surface as SERVER LSN acks: every ack
      // the server saw is a real frame walStart (or 0 before first commit)
      assert(awaitTrue()(srv.acks.asScala.exists(_ >= 0x100L)))
      val walSet = txnLines.map(_._1).toSet + 0L
      assert(srv.acks.asScala.forall(walSet.contains))
      val acks = srv.acks.asScala.toVector
      assert(acks == acks.sorted)
    } finally {
      if (q != null) q.stop()
      if (receiver != null) receiver.stop()
      client.close()
      srv.stop()
    }
  }

  test("mid-stream server error: synthetic COMMIT, reconnect, fast-forward (test_repl_error semantics)") {
    val conn1 = FakeConn(Seq(
      0x200L -> "BEGIN 900",
      0x210L -> "table public.users: INSERT: id[integer]:1 name[text]:'a'"),
      errorAfterFrames = 2)
    val conn2 = FakeConn(Seq(
      0x400L -> "BEGIN 901",
      0x410L -> "table public.users: INSERT: id[integer]:9 name[text]:'recovered'",
      0x420L -> "COMMIT 901"), xlogpos = "0/400")
    val srv = new FakePgServer(Nil, connScripts = Seq(conn1, conn2))
    val dir = Files.createTempDirectory("graft_pg_recover").toString
    val r = new PgWalReceiver(() => newClient(srv.port), dir, 10000, maxRecoveries = 3)
    try {
      r.start("s", 0L)
      // 2 frames + synthetic COMMIT closing txn 900 + 3 recovered frames
      assert(r.awaitLines(6))
      assert(r.recoveries == 1)
      val spooled = graft.sources.WalSource.readLines(dir, 0, 6)
      assert(spooled(2) == "COMMIT 900", "synthetic COMMIT closes the open transaction")
      assert(spooled.drop(3) == conn2.xlog.map(_._2))
      // the synthetic COMMIT carries the highest pre-error walStart, so
      // acks for it trim the slot to the last real frame
      r.ackLines(3)
      assert(srv.slots != null) // fake alive; ack value checked via client
    } finally {
      r.stop()
      srv.stop()
    }
  }

  test("hard TCP drop (no error frame) also recovers; committed ack LSN survives the reconnect") {
    val conn1 = FakeConn(Seq(
      0x200L -> "BEGIN 950",
      0x210L -> "table public.users: INSERT: id[integer]:1",
      0x220L -> "COMMIT 950"),
      dropAfterFrames = 3) // full txn delivered, then the socket dies
    val conn2 = FakeConn(Seq(
      0x500L -> "BEGIN 951",
      0x510L -> "COMMIT 951"), xlogpos = "0/500")
    val srv = new FakePgServer(Nil, connScripts = Seq(conn1, conn2))
    val dir = Files.createTempDirectory("graft_pg_drop").toString
    val r = new PgWalReceiver(() => newClient(srv.port), dir, 10000, maxRecoveries = 3)
    try {
      r.start("s", 0L)
      assert(awaitTrue()(r.linesSpooled >= 3))
      r.ackLines(3) // commit the whole first txn -> ack 0x220
      // the drop arrives with no ErrorResponse: EOF must recover too
      assert(awaitTrue()(r.recoveries == 1))
      assert(awaitTrue()(r.linesSpooled >= 5))
      // no open txn at drop time -> no synthetic COMMIT spooled
      val spooled = graft.sources.WalSource.readLines(dir, 0, 5)
      assert(spooled(3) == "BEGIN 951")
      // the pre-drop committed LSN was carried onto the new connection
      assert(awaitTrue()(srv.acks.asScala.contains(0x220L)))
    } finally {
      r.stop()
      srv.stop()
    }
  }

  test("receiver session + checkpointed query both restart: exactly-once, acks resume in server LSNs") {
    import TestSpark.spark
    val conn1 = FakeConn(Seq(
      0x100L -> "BEGIN 960",
      0x110L -> "table public.users: INSERT: id[integer]:1",
      0x120L -> "COMMIT 960",
      0x130L -> "BEGIN 961",
      0x140L -> "table public.users: INSERT: id[integer]:2",
      0x150L -> "COMMIT 961"))
    val conn2 = FakeConn(Seq(
      0x200L -> "BEGIN 962",
      0x210L -> "table public.users: INSERT: id[integer]:3",
      0x220L -> "COMMIT 962"), xlogpos = "0/200")
    val srv = new FakePgServer(Nil, connScripts = Seq(conn1, conn2))
    val dir = Files.createTempDirectory("graft_pg_restart_spool").toString
    val outDir = Files.createTempDirectory("graft_pg_restart_out").toString
    val ckpt = Files.createTempDirectory("graft_pg_restart_ckpt").toString

    def startQuery() = {
      val src = CdcPipeline.fromWalSource(spark, dir, maxLinesPerTrigger = Some(2), flushAgeMillis = 0)
      CdcPipeline.transform(src, CdcConfig(partitionMethod = Partitioner.Transaction))
        .where(org.apache.spark.sql.functions.col("json").isNotNull)
        .select("json")
        .writeStream.format("text")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .start()
    }

    try {
      // session 1: stream two txns, run the query, stop both
      val c1 = newClient(srv.port)
      val r1 = new PgWalReceiver(() => c1, dir, 10000, 0)
      r1.start("s", 0L)
      assert(r1.awaitLines(6))
      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      r1.stop(); c1.close()

      // session 2: fresh receiver (sidecars read back from disk), the
      // server streams a third txn from a later LSN
      val c2 = newClient(srv.port)
      val r2 = new PgWalReceiver(() => c2, dir, 10000, 0)
      r2.start("s", 0L)
      assert(r2.awaitLines(9))
      val q2 = startQuery()
      q2.processAllAvailable()

      // exactly-once across both sessions
      val ids = spark.read.text(outDir.toString).collect().map { r =>
        """"id":\{"new":\{"v":"(\d+)"""".r.findFirstMatchIn(r.getString(0)).get.group(1).toInt
      }.sorted.toSeq
      assert(ids == Seq(1, 2, 3))

      // acks translate through the previous session's sidecars: the committed line
      // offsets map to real frame walStarts of both sessions
      assert(awaitTrue()(srv.acks.asScala.exists(_ >= 0x150L)))
      val walSet = (conn1.xlog ++ conn2.xlog).map(_._1).toSet + 0L
      assert(srv.acks.asScala.forall(walSet.contains))

      q2.stop()
      r2.stop(); c2.close()
    } finally srv.stop()
  }

  test("rapid reply-requested keepalives = server shutdown request: clean stop, no recovery") {
    // 16 back-to-back reply-requested keepalives: even if the first
    // batch of 6 straddles a slow frame (delta >= window, counter
    // resets), the next 6 arrive within the window and trigger.
    val conn = FakeConn(Seq(
      0x100L -> "BEGIN 970",
      0x110L -> "COMMIT 970"), rapidKeepalives = 16)
    val srv = new FakePgServer(Nil, connScripts = Seq(conn),
      keepaliveAfterFrames = false)
    try {
      val c = newClient(srv.port)
      c.connect()
      val done = new java.util.concurrent.CountDownLatch(1)
      val t = new Thread(() => {
        c.startReplication("s", 0L)(_ => ())
        done.countDown()
      })
      t.setDaemon(true); t.start()
      // the loop must END ON ITS OWN (no requestStop) and flag why
      assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "copy-both loop should self-terminate on rapid heartbeats")
      assert(c.serverRequestedShutdown)
      c.close()

      // a single reply-requested keepalive (the normal case) must NOT
      // trigger: the plain copy-both test already streams through one —
      // re-assert the flag stays false there
      val srv2 = new FakePgServer(txnLines)
      try {
        val c2 = newClient(srv2.port)
        c2.connect()
        val t2 = new Thread(() => c2.startReplication("s", 0L)(_ => ()))
        t2.setDaemon(true); t2.start()
        assert(awaitTrue()(srv2.acks.size() > 0))
        assert(!c2.serverRequestedShutdown)
        c2.requestStop(); t2.join(5000); c2.close()
      } finally srv2.stop()
    } finally srv.stop()
  }

  test("idle stream: standby status keeps flowing at the forced cadence (test_large_sleep analog)") {
    // no frames, no server keepalives — the client's own 10s cadence
    // (100ms here) must still emit status updates so wal_sender_timeout
    // never kills an idle session (reference client.go:44,286-298)
    val srv = new FakePgServer(Nil, keepaliveAfterFrames = false)
    try {
      val c = newClient(srv.port)
      c.connect()
      val t = new Thread(() => c.startReplication("s", 0L)(_ => ()))
      t.setDaemon(true); t.start()
      assert(awaitTrue()(srv.acks.size() >= 3), "expected repeated idle-cadence acks")
      c.requestStop(); t.join(5000)
      // all idle acks carry the same (zero) LSN, monotone trivially
      assert(srv.acks.asScala.forall(_ == 0L))
      c.close()
    } finally srv.stop()
  }

  test("receiver recovers the line->LSN index across restarts") {
    val srv = new FakePgServer(txnLines.take(4), keepaliveAfterFrames = false)
    val dir = Files.createTempDirectory("graft_pg_idx").toString
    try {
      val c1 = newClient(srv.port)
      c1.connect()
      val r1 = new PgWalReceiver(c1, dir, linesPerSegment = 2)
      r1.start("s", 0L)
      assert(r1.awaitLines(4))
      r1.stop(); c1.close()

      // fresh receiver on the same spool: index reloaded, acks translate
      val c2 = newClient(srv.port)
      val r2 = new PgWalReceiver(c2, dir)
      assert(r2.linesSpooled == 4)
      r2.ackLines(4) // line offset 4 = COMMIT 800 @ 0x130
      assert(c2.currentAckLsn == 0x130L)
      r2.ackLines(2)
      assert(c2.currentAckLsn == 0x130L, "acks are monotone")
    } finally srv.stop()
  }

  test("receiver stop() closes the replication connection and releases the slot") {
    val srv = new FakePgServer(txnLines, keepaliveAfterFrames = false)
    val dir = Files.createTempDirectory("graft_pg_stopclose").toString
    try {
      val admin = newClient(srv.port)
      admin.connect()
      assert(admin.createSlot("s_close"))
      val c = newClient(srv.port)
      val r = new PgWalReceiver(c, dir)
      r.start("s_close", 0L)
      assert(r.awaitLines(txnLines.size.toLong))
      assert(srv.activeSlots.contains("s_close"), "walsender holds the slot while streaming")
      r.stop()
      // the production slot-leak guard: a stopped receiver must not
      // leave its walsender attached (the next run would get 55006)
      assert(!c.isOpen, "stop() must close the replication connection")
      assert(awaitTrue()(!srv.activeSlots.contains("s_close")),
        "server releases the slot once the connection is gone")
      admin.dropSlot("s_close")
      assert(!srv.slots.contains("s_close"))
      admin.close()
    } finally srv.stop()
  }

  test("dropSlot: bounded 55006 retry while a walsender is attached, succeeds once it detaches") {
    val srv = new FakePgServer(txnLines, keepaliveAfterFrames = false)
    try {
      val admin = newClient(srv.port)
      admin.connect()
      assert(admin.createSlot("s_active"))
      val streamer = newClient(srv.port)
      streamer.connect()
      val t = new Thread(() => {
        try streamer.startReplication("s_active", 0L) { _ => () }
        catch { case _: Throwable => () }
      })
      t.setDaemon(true); t.start()
      assert(awaitTrue()(srv.activeSlots.contains("s_active")))

      // within the bounded wait the drop keeps retrying; past it, the
      // real error surfaces instead of spinning forever
      val e = intercept[PgError](admin.dropSlot("s_active", activeWaitMillis = 300L))
      assert(e.sqlState == "55006")
      assert(srv.slots.contains("s_active"), "failed drop leaves the slot")

      // release the walsender mid-retry: drop completes on its own
      new Thread(() => { Thread.sleep(500); streamer.close() }).start()
      admin.dropSlot("s_active") // default wait rides out the detach
      assert(!srv.slots.contains("s_active"))
      admin.close()
    } finally srv.stop()
  }
  test("plugin options quote walsender-style; embedded quotes are doubled, not injected") {
    import PgReplicationClient.formatPluginOptions
    assert(formatPluginOptions(Nil) == "")
    assert(formatPluginOptions(Seq("skip-empty-xacts" -> "1")) ==
      """ ("skip-empty-xacts" '1')""")
    assert(formatPluginOptions(Seq("a" -> "x", "b" -> "y")) ==
      """ ("a" 'x', "b" 'y')""")
    // a value with an embedded ' must not close the literal early
    assert(formatPluginOptions(Seq("opt" -> "it's")) ==
      """ ("opt" 'it''s')""")
    // a key with an embedded " must not close the identifier early
    assert(formatPluginOptions(Seq("""we"ird""" -> "v")) ==
      " (\"we\"\"ird\" 'v')")
  }
}
