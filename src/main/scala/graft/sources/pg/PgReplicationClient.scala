package graft.sources.pg

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.security.MessageDigest
import java.security.cert.X509Certificate
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import javax.net.ssl.{SSLContext, SSLSocket, X509TrustManager}

import scala.collection.mutable.ArrayBuffer

import PgWire._

/** One decoded XLogData frame: a `test_decoding` text line plus its WAL
  * position (reference replication/message.go:25-32). `serverTimeMs` is
  * converted from Postgres-epoch micros to Unix millis exactly like
  * replication/message.go:52-60.
  */
final case class XLogData(walStart: Long, serverWalEnd: Long,
                          serverTimeMs: Long, line: String)

final case class PgError(sqlState: String, message: String)
  extends RuntimeException(s"$sqlState: $message")

/** Live PostgreSQL logical-replication client — the socket loop behind
  * the reference's replication client (replication/client/client.go:
  * 224-380, conn mgmt conn/conn.go:35-75), implemented directly on the
  * v3 wire protocol so it carries no driver dependency.
  *
  * Scope matches the reference:
  *  - startup with `replication=database` (logical replication mode)
  *  - trust / cleartext / md5 / SCRAM-SHA-256 auth (RFC 5802/7677 with
  *    server-signature verification — PG ≥ 14 defaults to scram) and
  *    `sslMode` disable|prefer|require TLS via SSLRequest + SSLSocket
  *    wrap ("require" matches libpq: encrypt, don't verify the chain;
  *    pass `sslContext` for verify-ca/verify-full-style validation)
  *  - `IDENTIFY_SYSTEM`, `CREATE_REPLICATION_SLOT … LOGICAL
  *    test_decoding` idempotent on SQLSTATE 42710 (utils/utils.go:38-77,
  *    main/main.go:174-190), `DROP_REPLICATION_SLOT`
  *  - `START_REPLICATION SLOT … LOGICAL X/X` copy-both loop: XLogData
  *    frames to a handler, keepalive replies, and StandbyStatusUpdate
  *    acks — sent when the ack LSN advances, when the server requests a
  *    reply, and at least every `statusIntervalMillis` (the reference's
  *    10 s forced cadence, client.go:44,286-298)
  *
  * Threading: `startReplication` blocks the calling thread in the read
  * loop (the reference dedicates a goroutine; [[PgWalReceiver]] wraps
  * this in a thread). `updateAckLsn` is thread-safe — the commit hook
  * calls it from Spark's streaming thread.
  */
final class PgReplicationClient(
    host: String,
    port: Int,
    user: String,
    database: String,
    password: Option[String] = None,
    statusIntervalMillis: Long = 10000L,
    connectTimeoutMillis: Int = 10000,
    readPollMillis: Int = 200,
    frameReadTimeoutMillis: Int = 30000,
    sslMode: String = "disable", // disable | prefer | require
    sslContext: Option[SSLContext] = None,
    rapidHeartbeatThreshold: Int = 5,
    rapidHeartbeatWindowMillis: Long = 100L) {

  require(Set("disable", "prefer", "require")(sslMode), s"bad sslMode: $sslMode")

  private var socket: Socket = _
  private var in: DataInputStream = _
  private var out: DataOutputStream = _
  private val ackLsn = new AtomicLong(0L)
  private val lastSentAck = new AtomicLong(-1L)
  private val stopRequested = new AtomicBoolean(false)

  @volatile private var connected = false
  @volatile private var tlsActive = false
  @volatile private var shutdownHeartbeats = false

  /** True when the copy-both loop ended because the server requested
    * reply keepalives at shutdown cadence (see [[startReplication]]).
    */
  def serverRequestedShutdown: Boolean = shutdownHeartbeats

  /** Whether the current connection negotiated TLS (observability/tests). */
  def isTls: Boolean = tlsActive

  /** Whether the underlying socket is still open — false after
    * [[close]]. A receiver that reports stopped while this is true has
    * leaked its walsender (the server keeps the slot acquired).
    */
  def isOpen: Boolean = connected && socket != null && !socket.isClosed

  /** Idempotent: a second call on a live connection is a no-op. */
  def connect(): Unit = {
    if (connected) return
    connected = true
    socket = new Socket()
    socket.connect(new InetSocketAddress(host, port), connectTimeoutMillis)
    socket.setTcpNoDelay(true)
    // bound EVERY pre-streaming read (SSLRequest byte, TLS handshake,
    // auth exchange) — a server that accepts TCP but never answers must
    // fail connect() within the timeout, not hang it forever. The
    // streaming loop re-arms its own poll timeouts in startReplication.
    socket.setSoTimeout(connectTimeoutMillis)
    if (sslMode != "disable") negotiateTls()
    socket.setSoTimeout(connectTimeoutMillis) // re-arm on the TLS-wrapped socket
    in = new DataInputStream(new java.io.BufferedInputStream(socket.getInputStream))
    out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream))
    writeStartup(out, Seq(
      "user" -> user,
      "database" -> database,
      "replication" -> "database",
      "application_name" -> "graft"))
    authLoop()
    socket.setSoTimeout(0) // streaming sets its own; admin commands block
  }

  /** SSLRequest dance: one magic frame, one byte back. 'S' → TLS
    * handshake over the same TCP connection (protocol resumes inside the
    * tunnel); 'N' → plaintext, fatal under `require`.
    */
  private def negotiateTls(): Unit = {
    val rawOut = new DataOutputStream(socket.getOutputStream)
    writeSslRequest(rawOut)
    val answer = socket.getInputStream.read()
    answer match {
      case 'S' =>
        val ctx = sslContext.getOrElse(trustAllContext())
        val ssl = ctx.getSocketFactory
          .createSocket(socket, host, port, true).asInstanceOf[SSLSocket]
        ssl.setUseClientMode(true)
        ssl.startHandshake()
        socket = ssl
        tlsActive = true
      case 'N' =>
        if (sslMode == "require")
          throw PgError("08P01", "server refused SSL but sslMode=require")
      case -1 => throw new java.io.EOFException("connection closed during SSLRequest")
      case b => throw PgError("08P01", s"unexpected SSLRequest response byte $b")
    }
  }

  /** libpq `sslmode=require` semantics: encrypt without chain
    * validation. Supply `sslContext` for real verification.
    */
  private def trustAllContext(): SSLContext = {
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, Array(new X509TrustManager {
      def checkClientTrusted(c: Array[X509Certificate], a: String): Unit = ()
      def checkServerTrusted(c: Array[X509Certificate], a: String): Unit = ()
      def getAcceptedIssuers: Array[X509Certificate] = Array.empty
    }), new java.security.SecureRandom())
    ctx
  }

  private def authLoop(): Unit = {
    var ready = false
    var scram: ScramClient = null
    while (!ready) {
      val m = readMsg(in)
      m.tpe match {
        case Tpe.Authentication =>
          val r = new Reader(m.payload)
          r.int32() match {
            case 0 => // AuthenticationOk
            case 3 => // cleartext password
              val b = new Builder().cstring(password.getOrElse(
                throw PgError("28P01", "password required (cleartext)")))
              writeMsg(out, Tpe.PasswordMessage, b.result())
            case 5 => // md5: md5(md5(password + user) + salt), "md5"-prefixed
              val salt = r.bytes(4)
              val pw = password.getOrElse(throw PgError("28P01", "password required (md5)"))
              val md = MessageDigest.getInstance("MD5")
              def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
              val inner = hex(md.digest((pw + user).getBytes("UTF-8")))
              md.reset()
              md.update(inner.getBytes("UTF-8")); md.update(salt)
              val b = new Builder().cstring("md5" + hex(md.digest()))
              writeMsg(out, Tpe.PasswordMessage, b.result())
            case 10 => // AuthenticationSASL: mechanism list, pick SCRAM-SHA-256
              var mechs = List.empty[String]
              var mech = r.cstring()
              while (mech.nonEmpty) { mechs ::= mech; mech = r.cstring() }
              if (!mechs.contains(Scram.Mechanism))
                throw PgError("0A000",
                  s"server offers only [${mechs.mkString(", ")}]; ${Scram.Mechanism} required")
              scram = new ScramClient(password.getOrElse(
                throw PgError("28P01", "password required (SCRAM-SHA-256)")))
              val first = scram.clientFirstMessage
              writeMsg(out, Tpe.PasswordMessage,
                new Builder().cstring(Scram.Mechanism)
                  .int32(first.length).bytes(first).result())
            case 11 => // AuthenticationSASLContinue: server-first
              if (scram == null)
                throw PgError("08P01", "SASLContinue without SASL start")
              val serverFirst = new String(r.remaining(), "UTF-8")
              writeMsg(out, Tpe.PasswordMessage, scram.handleServerFirst(serverFirst))
            case 12 => // AuthenticationSASLFinal: verify the server's proof
              if (scram == null)
                throw PgError("08P01", "SASLFinal without SASL start")
              scram.verifyServerFinal(new String(r.remaining(), "UTF-8"))
            case code =>
              throw PgError("0A000", s"unsupported auth method $code")
          }
        case Tpe.ParameterStatus | Tpe.BackendKeyData | Tpe.NoticeResponse => // informational
        case Tpe.ReadyForQuery => ready = true
        case Tpe.ErrorResponse =>
          val f = parseErrorFields(m.payload)
          throw PgError(f.getOrElse('C', "?????"), f.getOrElse('M', "auth failed"))
        case other =>
          throw PgError("08P01", s"unexpected message '${other.toChar}' during startup")
      }
    }
  }

  /** Simple-protocol query; text-format rows. */
  def simpleQuery(sql: String): Seq[Seq[String]] = {
    writeMsg(out, Tpe.Query, new Builder().cstring(sql).result())
    val rows = ArrayBuffer[Seq[String]]()
    var err: PgError = null
    var done = false
    while (!done) {
      val m = readMsg(in)
      m.tpe match {
        case Tpe.RowDescription | Tpe.CommandComplete |
             Tpe.EmptyQueryResponse | Tpe.ParameterStatus | Tpe.NoticeResponse => ()
        case Tpe.DataRow =>
          val r = new Reader(m.payload)
          val n = r.int16()
          rows += (0 until n).map { _ =>
            val len = r.int32()
            if (len < 0) null else new String(r.bytes(len), "UTF-8")
          }
        case Tpe.ErrorResponse =>
          val f = parseErrorFields(m.payload)
          err = PgError(f.getOrElse('C', "?????"), f.getOrElse('M', "query failed"))
        case Tpe.ReadyForQuery => done = true
        case other =>
          throw PgError("08P01", s"unexpected message '${other.toChar}' in query response")
      }
    }
    if (err != null) throw err
    rows.toSeq
  }

  /** `IDENTIFY_SYSTEM` → (systemid, timeline, current xlogpos). */
  def identifySystem(): (String, Int, Long) = {
    val row = simpleQuery("IDENTIFY_SYSTEM").head
    (row(0), row(1).toInt, parseLsn(row(2)))
  }

  /** Idempotent slot create (false = already existed, SQLSTATE 42710 —
    * the reference's runCreate behavior, main/main.go:174-190).
    */
  def createSlot(name: String, plugin: String = "test_decoding"): Boolean =
    try { simpleQuery(s"CREATE_REPLICATION_SLOT $name LOGICAL $plugin"); true }
    catch { case e: PgError if e.sqlState == "42710" => false }

  /** Idempotent slot drop (42704 = undefined object). SQLSTATE 55006
    * ("replication slot is active for PID …") is retried for up to
    * `activeWaitMillis`: slot release on the server is asynchronous to
    * the walsender's socket close, so an admin drop issued right after
    * a streaming client shuts down can briefly race the reaper — the
    * reference avoids the race only by timing (itests tear down the
    * whole container); a bounded wait is the deterministic version.
    */
  def dropSlot(name: String, activeWaitMillis: Long = 15000L): Unit = {
    val deadline = System.nanoTime() + activeWaitMillis * 1000000L
    var done = false
    while (!done) {
      try { simpleQuery(s"DROP_REPLICATION_SLOT $name"); done = true }
      catch {
        case e: PgError if e.sqlState == "42704" => done = true
        case e: PgError if e.sqlState == "55006" && System.nanoTime() < deadline =>
          Thread.sleep(200)
      }
    }
  }

  /** Advance the LSN the next StandbyStatusUpdate will carry. Called by
    * the ack edge (committed stream offsets → slot trim), monotone.
    */
  def updateAckLsn(lsn: Long): Unit =
    ackLsn.getAndUpdate(cur => math.max(cur, lsn))

  /** The LSN the next status update will carry (observability/tests). */
  def currentAckLsn: Long = ackLsn.get()

  def requestStop(): Unit = stopRequested.set(true)

  /** Enter the copy-both loop; blocks until `requestStop()` or the
    * server ends the stream. Each XLogData frame is decoded and passed
    * to `handler` in WAL order. `pluginOptions` are output-plugin
    * arguments appended walsender-grammar style —
    * `("name" 'value', …)` — default none, matching the reference's
    * empty `PluginArgs` (replication/client/conn/manager.go:76);
    * tests pass e.g. `skip-empty-xacts` to keep concurrent
    * autovacuum txns from injecting empty BEGIN/COMMIT frames.
    */
  def startReplication(slot: String, startLsn: Long,
                       pluginOptions: Seq[(String, String)] = Nil)(
                       handler: XLogData => Unit): Unit = {
    val opts = PgReplicationClient.formatPluginOptions(pluginOptions)
    writeMsg(out, Tpe.Query,
      new Builder().cstring(
        s"START_REPLICATION SLOT $slot LOGICAL ${formatLsn(startLsn)}$opts").result())
    // Expect CopyBothResponse (or an error, e.g. slot in use / missing).
    var entered = false
    while (!entered) {
      val m = readMsg(in)
      m.tpe match {
        case Tpe.CopyBothResponse => entered = true
        case Tpe.ParameterStatus | Tpe.NoticeResponse => ()
        case Tpe.ErrorResponse =>
          val f = parseErrorFields(m.payload)
          throw PgError(f.getOrElse('C', "?????"), f.getOrElse('M', "START_REPLICATION failed"))
        case other =>
          throw PgError("08P01", s"unexpected message '${other.toChar}' before copy-both")
      }
    }
    var lastStatusAt = System.nanoTime()
    var hbRequestCount = 0
    var hbDeltaNanos = 0L
    var lastHbRequestAt = System.nanoTime()

    /** Poll for a frame: only the FIRST byte read carries the short
      * poll timeout — once a type byte is consumed, the rest of the
      * frame is read under a generous timeout, so a slow large frame
      * (TOASTed row) can never time out mid-frame and leave the stream
      * desynchronized on a half-consumed message.
      */
    def pollMsg(): Option[Msg] = {
      socket.setSoTimeout(readPollMillis)
      val tpe =
        try in.read()
        catch { case _: SocketTimeoutException => return None }
      if (tpe < 0) throw new java.io.EOFException("connection closed")
      socket.setSoTimeout(frameReadTimeoutMillis)
      val len = in.readInt()
      if (len < 4 || len > (1 << 30)) throw new java.io.IOException(s"bad frame length $len")
      val payload = new Array[Byte](len - 4)
      in.readFully(payload)
      Some(Msg(tpe.toByte, payload))
    }
    def maybeSendStatus(force: Boolean): Unit = {
      val lsn = ackLsn.get()
      val due = (System.nanoTime() - lastStatusAt) / 1000000L >= statusIntervalMillis
      if (force || due || lsn != lastSentAck.get()) {
        sendStandbyStatus(lsn, replyRequested = false)
        lastSentAck.set(lsn)
        lastStatusAt = System.nanoTime()
      }
    }
    var streaming = true
    while (streaming && !stopRequested.get()) {
      val m = pollMsg()
      m.foreach { msg =>
        msg.tpe match {
          case Tpe.CopyData =>
            val r = new Reader(msg.payload)
            r.byte() match {
              case CopyTag.XLogData =>
                val walStart = r.int64()
                val walEnd = r.int64()
                val tMicros = r.int64()
                val serverTimeMs =
                  if (tMicros == 0) 0L
                  else (tMicros + PgEpochDeltaMicros) / 1000L
                handler(XLogData(walStart, walEnd, serverTimeMs,
                  new String(r.remaining(), "UTF-8")))
                // keep the ack cadence under sustained traffic too —
                // without this, a busy stream only acks on keepalives
                maybeSendStatus(force = false)
              case CopyTag.PrimaryKeepalive =>
                val walEnd = r.int64(); r.int64() // sendTime unused
                val replyRequested = r.byte() != 0
                if (replyRequested) {
                  maybeSendStatus(force = true)
                  // Shutdown heuristic (reference client.go:448-465): a
                  // server about to go away hammers reply-requested
                  // keepalives; more than `threshold` of them with less
                  // than `window` total spacing ⇒ treat as a shutdown
                  // request and end the stream cleanly. The delta is
                  // CUMULATIVE and resets only after a full batch,
                  // exactly like the reference — so a burst right after
                  // a long idle gap needs a second batch to trigger
                  // (both systems; the fallback is plain EOF recovery).
                  val now = System.nanoTime()
                  hbDeltaNanos += now - lastHbRequestAt
                  hbRequestCount += 1
                  if (hbRequestCount > rapidHeartbeatThreshold &&
                      hbDeltaNanos < rapidHeartbeatWindowMillis * 1000000L) {
                    shutdownHeartbeats = true
                    streaming = false
                  } else if (hbRequestCount > rapidHeartbeatThreshold) {
                    hbRequestCount = 0
                    hbDeltaNanos = 0L
                  }
                  lastHbRequestAt = now
                } else maybeSendStatus(force = false)
              case _ => () // unknown copy sub-message: skip (forward compat)
            }
          case Tpe.CopyDone =>
            writeMsg(out, Tpe.CopyDone, Array.emptyByteArray)
            streaming = false
          case Tpe.ErrorResponse =>
            val f = parseErrorFields(msg.payload)
            throw PgError(f.getOrElse('C', "?????"), f.getOrElse('M', "stream error"))
          case Tpe.NoticeResponse | Tpe.ParameterStatus => ()
          case Tpe.ReadyForQuery => streaming = false
          case other =>
            throw PgError("08P01", s"unexpected message '${other.toChar}' during copy-both")
        }
      }
      if (m.isEmpty) maybeSendStatus(force = false)
    }
    // Final ack so a stop after commit doesn't lose the last trim.
    maybeSendStatus(force = true)
  }

  /** StandbyStatusUpdate: written/flushed/applied all = ack LSN, like
    * the reference's SendStandbyStatus (client.go:130-160).
    */
  def sendStandbyStatus(lsn: Long, replyRequested: Boolean): Unit = {
    val b = new Builder()
      .byte(CopyTag.StandbyStatusUpdate)
      .int64(lsn).int64(lsn).int64(lsn)
      .int64(nowPgMicros())
      .byte(if (replyRequested) 1 else 0)
    writeMsg(out, Tpe.CopyData, b.result())
  }

  def close(): Unit = {
    stopRequested.set(true)
    // Clear the liveness flag BEFORE the best-effort Terminate/socket
    // teardown: if socket.close() throws, isOpen must still report
    // closed — the slot-leak guard it feeds would otherwise see a
    // connection as open forever.
    connected = false
    try if (out != null) writeMsg(out, Tpe.Terminate, Array.emptyByteArray)
    catch { case _: Throwable => () }
    try if (socket != null) socket.close()
    catch { case _: Throwable => () }
  }
}

object PgReplicationClient {
  /** Render output-plugin options in walsender grammar —
    * `("name" 'value', …)` — with proper quoting: keys are
    * double-quoted identifiers (embedded `"` doubles to `""`), values
    * single-quoted literals (embedded `'` doubles to `''`). Without
    * the doubling, a value containing a quote would break out of the
    * literal and inject into the START_REPLICATION command.
    */
  def formatPluginOptions(pluginOptions: Seq[(String, String)]): String =
    if (pluginOptions.isEmpty) ""
    else pluginOptions
      .map { case (k, v) =>
        "\"" + k.replace("\"", "\"\"") + "\" '" + v.replace("'", "''") + "'"
      }
      .mkString(" (", ", ", ")")
}
