package graft.sources.pg

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket, SocketException}

import scala.collection.mutable

import PgWire._

/** In-process stand-in for a PostgreSQL server speaking the protocol-v3
  * subset the replication client uses: startup/auth, IDENTIFY_SYSTEM,
  * slot DDL with the real SQLSTATEs (42710 duplicate, 42704 undefined),
  * START_REPLICATION → copy-both with scripted XLogData frames and a
  * reply-requested keepalive, and StandbyStatusUpdate capture.
  */
/** Per-connection behavior script: frames to stream, an optional
  * injected ErrorResponse after N frames (connection then closed, like
  * a real server failing mid-stream), the IDENTIFY_SYSTEM xlogpos, and
  * frames held back until the client first acks a nonzero LSN.
  */
final case class FakeConn(
    xlog: Seq[(Long, String)],
    errorAfterFrames: Int = -1, // send ErrorResponse then close
    dropAfterFrames: Int = -1, // close the socket with no error frame
    xlogpos: String = "0/100",
    rapidKeepalives: Int = 0, // back-to-back reply-requested keepalives after frames
    tailAfterFirstAck: Seq[(Long, String)] = Nil)

final class FakePgServer(
    xlog: Seq[(Long, String)], // (walStart, test_decoding line)
    authMode: String = "trust", // trust | cleartext | md5 | scram
    expectedPassword: String = "pw",
    keepaliveAfterFrames: Boolean = true,
    connScripts: Seq[FakeConn] = Nil, // per-connection override; last repeats
    tls: Boolean = false, // answer SSLRequest with 'S' and wrap the socket
    tamperServerSignature: Boolean = false) { // corrupt SCRAM v= (MITM test)

  import scala.jdk.CollectionConverters._

  private val connCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private def scriptFor(i: Int): FakeConn =
    if (connScripts.isEmpty) FakeConn(xlog)
    else connScripts(math.min(i, connScripts.size - 1))

  private val server = new ServerSocket(0)
  val port: Int = server.getLocalPort
  val acks = new java.util.concurrent.CopyOnWriteArrayList[Long]()
  val slots: mutable.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]().asScala
  /** Slots with a live walsender attached: DROP on one fails with the
    * real server's SQLSTATE 55006 until the streaming connection goes
    * away (release is tied to connection teardown, like Postgres).
    */
  val activeSlots: mutable.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]().asScala
  @volatile private var running = true
  @volatile var lastAuthResponse: String = _

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        val t = new Thread(() => handle(s), "fake-pg-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: SocketException => () }
    }
  }, "fake-pg-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = { running = false; server.close() }

  private def sendError(out: DataOutputStream, code: String, msg: String): Unit = {
    val b = new Builder()
      .byte('S').cstring("ERROR")
      .byte('C').cstring(code)
      .byte('M').cstring(msg)
      .byte(0)
    writeMsg(out, Tpe.ErrorResponse, b.result())
  }

  private def sendReady(out: DataOutputStream): Unit =
    writeMsg(out, Tpe.ReadyForQuery, new Builder().byte('I').result())

  private def sendCommandComplete(out: DataOutputStream, tag: String): Unit =
    writeMsg(out, Tpe.CommandComplete, new Builder().cstring(tag).result())

  private def sendTextRow(out: DataOutputStream, names: Seq[String], vals: Seq[String]): Unit = {
    val b = new Builder()
    b.byte((names.size >> 8) & 0xff).byte(names.size & 0xff)
    names.foreach { n =>
      b.cstring(n).int32(0)
      b.byte(0).byte(0) // attnum int16
      b.int32(25) // text oid
      b.byte(0xff).byte(0xff) // typlen -1
      b.int32(-1) // typmod
      b.byte(0).byte(0) // format text
    }
    writeMsg(out, Tpe.RowDescription, b.result())
    val d = new Builder()
    d.byte((vals.size >> 8) & 0xff).byte(vals.size & 0xff)
    vals.foreach { v =>
      val bytes = v.getBytes("UTF-8")
      d.int32(bytes.length).bytes(bytes)
    }
    writeMsg(out, Tpe.DataRow, d.result())
  }

  /** Server side of the SCRAM-SHA-256 exchange (RFC 5802 verifier):
    * advertise the mechanism, salt-and-iterate the expected password,
    * check H(proof ⊕ ClientSignature) == StoredKey, and emit the server
    * signature (optionally corrupted, to test the client's MITM check).
    * Returns false when auth failed and the connection should end.
    */
  private def runScramVerifier(in: DataInputStream, out: DataOutputStream): Boolean = {
    import Scram._
    writeMsg(out, Tpe.Authentication,
      new Builder().int32(10).cstring(Mechanism).byte(0).result())
    val init = new Reader(readMsg(in).payload)
    if (init.cstring() != Mechanism) {
      sendError(out, "28000", "unknown SASL mechanism"); return false
    }
    val clientFirst = new String(init.bytes(init.int32()), "UTF-8")
    if (!clientFirst.startsWith("n,,")) {
      sendError(out, "28000", "unsupported gs2 header"); return false
    }
    val bare = clientFirst.substring(3)
    val cnonce = attrs(bare)('r')
    val snonce = cnonce + "srvnonce123"
    val salt = Array.tabulate[Byte](16)(i => (i * 7 + 3).toByte)
    val iters = 4096
    val serverFirst = s"r=$snonce,s=${b64(salt)},i=$iters"
    writeMsg(out, Tpe.Authentication,
      new Builder().int32(11).bytes(serverFirst.getBytes("UTF-8")).result())

    val clientFinal = new String(readMsg(in).payload, "UTF-8")
    lastAuthResponse = clientFinal
    val fa = attrs(clientFinal)
    val withoutProof = clientFinal.substring(0, clientFinal.lastIndexOf(",p="))
    val authMessage = s"$bare,$serverFirst,$withoutProof".getBytes("UTF-8")
    val salted = hi(expectedPassword.getBytes("UTF-8"), salt, iters)
    val storedKey = h(hmac(salted, "Client Key".getBytes("UTF-8")))
    val recoveredKey = xor(unb64(fa('p')), hmac(storedKey, authMessage))
    if (fa('r') != snonce ||
        !java.security.MessageDigest.isEqual(h(recoveredKey), storedKey)) {
      sendError(out, "28P01", "password authentication failed (SCRAM)")
      return false
    }
    val sig = hmac(hmac(salted, "Server Key".getBytes("UTF-8")), authMessage)
    if (tamperServerSignature) sig(0) = (sig(0) ^ 0x01).toByte
    writeMsg(out, Tpe.Authentication,
      new Builder().int32(12).bytes(s"v=${b64(sig)}".getBytes("UTF-8")).result())
    writeMsg(out, Tpe.Authentication, new Builder().int32(0).result())
    true
  }

  private def handle(sock0: Socket): Unit = {
    val script = scriptFor(connCount.getAndIncrement())
    var sock = sock0
    var streamedSlot: String = null // slot this connection holds active
    var in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
    var out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
    try {
      // First untyped frame: SSLRequest or startup.
      var len = in.readInt()
      var body = new Array[Byte](len - 4)
      in.readFully(body)
      if (len == 8 && new Reader(body).int32() == SslRequestCode) {
        if (tls) {
          out.writeByte('S'); out.flush()
          val ssl = TestTls.serverContext.getSocketFactory
            .createSocket(sock, null, sock.getPort, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          ssl.setUseClientMode(false)
          sock = ssl
          in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream))
          out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))
        } else {
          out.writeByte('N'); out.flush()
        }
        // the real startup frame follows on the (possibly wrapped) stream
        len = in.readInt()
        body = new Array[Byte](len - 4)
        in.readFully(body)
      }
      // auth handshake
      authMode match {
        case "trust" =>
          writeMsg(out, Tpe.Authentication, new Builder().int32(0).result())
        case "cleartext" =>
          writeMsg(out, Tpe.Authentication, new Builder().int32(3).result())
          val pm = readMsg(in)
          lastAuthResponse = new Reader(pm.payload).cstring()
          if (lastAuthResponse != expectedPassword) {
            sendError(out, "28P01", "password authentication failed"); return
          }
          writeMsg(out, Tpe.Authentication, new Builder().int32(0).result())
        case "md5" =>
          writeMsg(out, Tpe.Authentication,
            new Builder().int32(5).bytes(Array[Byte](1, 2, 3, 4)).result())
          val pm = readMsg(in)
          lastAuthResponse = new Reader(pm.payload).cstring()
          if (!lastAuthResponse.startsWith("md5")) {
            sendError(out, "28P01", "md5 response expected"); return
          }
          writeMsg(out, Tpe.Authentication, new Builder().int32(0).result())
        case "scram" =>
          if (!runScramVerifier(in, out)) return
      }
      writeMsg(out, Tpe.ParameterStatus,
        new Builder().cstring("server_version").cstring("16.0").result())
      sendReady(out)

      var open = true
      while (open) {
        val m =
          try readMsg(in)
          catch { case _: EOFException | _: SocketException => return }
        m.tpe match {
          case Tpe.Terminate => open = false
          case Tpe.Query =>
            val sql = new Reader(m.payload).cstring().trim
            if (sql == "IDENTIFY_SYSTEM") {
              sendTextRow(out, Seq("systemid", "timeline", "xlogpos", "dbname"),
                Seq("7000000000000000001", "1", script.xlogpos, "db"))
              sendCommandComplete(out, "IDENTIFY_SYSTEM")
              sendReady(out)
            } else if (sql.startsWith("CREATE_REPLICATION_SLOT")) {
              val name = sql.split("\\s+")(1)
              if (!slots.add(name)) sendError(out, "42710", s"""replication slot "$name" already exists""")
              else sendCommandComplete(out, "CREATE_REPLICATION_SLOT")
              sendReady(out)
            } else if (sql.startsWith("DROP_REPLICATION_SLOT")) {
              val name = sql.split("\\s+")(1)
              if (activeSlots.contains(name))
                sendError(out, "55006", s"""replication slot "$name" is active for PID 12345""")
              else if (!slots.remove(name)) sendError(out, "42704", s"""replication slot "$name" does not exist""")
              else sendCommandComplete(out, "DROP_REPLICATION_SLOT")
              sendReady(out)
            } else if (sql.startsWith("START_REPLICATION")) {
              streamedSlot = sql.split("\\s+")(2)
              activeSlots.add(streamedSlot)
              // CopyBothResponse: overall format 0, zero columns
              writeMsg(out, Tpe.CopyBothResponse,
                new Builder().byte(0).byte(0).byte(0).result())
              def sendXLog(walStart: Long, line: String): Unit = {
                val bytes = line.getBytes("UTF-8")
                val b = new Builder()
                  .byte(CopyTag.XLogData)
                  .int64(walStart).int64(walStart + bytes.length)
                  .int64(nowPgMicros())
                  .bytes(bytes)
                writeMsg(out, Tpe.CopyData, b.result())
              }
              var sent = 0
              val frameCap =
                Seq(script.errorAfterFrames, script.dropAfterFrames).filter(_ >= 0)
                  .reduceOption(math.min).getOrElse(Int.MaxValue)
              script.xlog.foreach { case (walStart, line) =>
                if (sent < frameCap) {
                  sendXLog(walStart, line)
                  sent += 1
                }
              }
              if (script.errorAfterFrames >= 0) {
                // fail the stream like a server hitting corrupt WAL,
                // then drop the connection
                sendError(out, "XX000", "simulated replication failure")
                return
              }
              if (script.dropAfterFrames >= 0) {
                return // hard TCP drop: no error frame at all
              }
              var rapid = 0
              while (rapid < script.rapidKeepalives) {
                val k = new Builder()
                  .byte(CopyTag.PrimaryKeepalive)
                  .int64(script.xlog.lastOption.map(_._1).getOrElse(0L))
                  .int64(nowPgMicros())
                  .byte(1) // reply requested, at shutdown cadence
                writeMsg(out, Tpe.CopyData, k.result())
                rapid += 1
              }
              if (keepaliveAfterFrames) {
                val k = new Builder()
                  .byte(CopyTag.PrimaryKeepalive)
                  .int64(xlog.lastOption.map(_._1).getOrElse(0L))
                  .int64(nowPgMicros())
                  .byte(1) // reply requested
                writeMsg(out, Tpe.CopyData, k.result())
              }
              // Drain standby status updates until the client goes away.
              var tail = script.tailAfterFirstAck
              var draining = true
              while (draining) {
                val cm =
                  try readMsg(in)
                  catch { case _: EOFException | _: SocketException => draining = false; null }
                if (cm != null) cm.tpe match {
                  case Tpe.CopyData =>
                    val r = new Reader(cm.payload)
                    if (r.byte() == CopyTag.StandbyStatusUpdate) {
                      val walWritten = r.int64()
                      acks.add(walWritten)
                      if (walWritten > 0 && tail.nonEmpty) {
                        tail.foreach { case (w, l) => sendXLog(w, l) }
                        tail = Nil
                      }
                    }
                  case Tpe.Terminate => draining = false; open = false
                  case _ => ()
                }
              }
            } else {
              sendError(out, "42601", s"unknown command: $sql")
              sendReady(out)
            }
          case _ => () // ignore
        }
      }
    } catch {
      case _: EOFException | _: SocketException => ()
    } finally {
      if (streamedSlot != null) activeSlots.remove(streamedSlot)
      try sock.close() catch { case _: Throwable => () }
    }
  }
}
