package graft.sources.pg

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}

/** PostgreSQL wire-protocol (v3) codec — the byte-level subset the
  * replication client needs. Public protocol, implemented from the
  * PostgreSQL Frontend/Backend Protocol documentation; the reference
  * consumes the same protocol through pgx/pglogrepl
  * (replication/client/conn/conn.go:35-75).
  *
  * Framing: every backend message after startup is
  * `type:byte length:int32 payload` where length includes itself but
  * not the type byte. The startup message has no type byte.
  */
object PgWire {

  /** Protocol version 3.0. */
  val ProtocolV3: Int = 196608

  /** Backend/frontend message type bytes used here. */
  object Tpe {
    val Authentication: Byte = 'R'
    val ParameterStatus: Byte = 'S'
    val BackendKeyData: Byte = 'K'
    val ReadyForQuery: Byte = 'Z'
    val Query: Byte = 'Q'
    val RowDescription: Byte = 'T'
    val DataRow: Byte = 'D'
    val CommandComplete: Byte = 'C'
    val EmptyQueryResponse: Byte = 'I'
    val ErrorResponse: Byte = 'E'
    val NoticeResponse: Byte = 'N'
    val CopyBothResponse: Byte = 'W'
    val CopyData: Byte = 'd'
    val CopyDone: Byte = 'c'
    val PasswordMessage: Byte = 'p'
    val Terminate: Byte = 'X'
  }

  /** First payload byte of replication CopyData frames. */
  object CopyTag {
    val XLogData: Byte = 'w'
    val PrimaryKeepalive: Byte = 'k'
    val StandbyStatusUpdate: Byte = 'r'
  }

  /** Micros between the Unix epoch and Postgres' 2000-01-01 epoch —
    * XLogData/keepalive/standby-status timestamps use the latter.
    */
  val PgEpochDeltaMicros: Long = 946684800000000L

  final case class Msg(tpe: Byte, payload: Array[Byte])

  /** One backend message; throws EOFException on clean stream end. */
  def readMsg(in: DataInputStream): Msg = {
    val tpe = in.read()
    if (tpe < 0) throw new EOFException("connection closed")
    val len = in.readInt()
    if (len < 4 || len > (1 << 30)) throw new java.io.IOException(s"bad frame length $len")
    val payload = new Array[Byte](len - 4)
    in.readFully(payload)
    Msg(tpe.toByte, payload)
  }

  def writeMsg(out: DataOutputStream, tpe: Byte, payload: Array[Byte]): Unit = {
    out.writeByte(tpe)
    out.writeInt(payload.length + 4)
    out.write(payload)
    out.flush()
  }

  /** SSLRequest magic (1234.5679 in the protocol's major.minor encoding).
    * Sent as an untyped `length=8, code` frame before startup; the server
    * answers a single byte 'S' (proceed with TLS) or 'N'.
    */
  val SslRequestCode: Int = 80877103

  def writeSslRequest(out: DataOutputStream): Unit = {
    out.writeInt(8)
    out.writeInt(SslRequestCode)
    out.flush()
  }

  /** Untyped startup frame: `length int32, version int32, k\0v\0..., \0`. */
  def writeStartup(out: DataOutputStream, params: Seq[(String, String)]): Unit = {
    val b = new Builder
    b.int32(ProtocolV3)
    params.foreach { case (k, v) => b.cstring(k); b.cstring(v) }
    b.byte(0)
    val body = b.result()
    out.writeInt(body.length + 4)
    out.write(body)
    out.flush()
  }

  /** Payload builder with Postgres' network byte order. */
  final class Builder {
    private val buf = new ByteArrayOutputStream()
    private val out = new DataOutputStream(buf)
    def byte(v: Int): Builder = { out.writeByte(v); this }
    def int32(v: Int): Builder = { out.writeInt(v); this }
    def int64(v: Long): Builder = { out.writeLong(v); this }
    def cstring(s: String): Builder = {
      out.write(s.getBytes("UTF-8")); out.writeByte(0); this
    }
    def bytes(b: Array[Byte]): Builder = { out.write(b); this }
    def result(): Array[Byte] = { out.flush(); buf.toByteArray }
  }

  /** Cursor over a received payload. */
  final class Reader(payload: Array[Byte]) {
    private var pos = 0
    def byte(): Byte = { val v = payload(pos); pos += 1; v }
    def int16(): Int = {
      val v = ((payload(pos) & 0xff) << 8) | (payload(pos + 1) & 0xff)
      pos += 2; v
    }
    def int32(): Int = {
      var v = 0
      var i = 0
      while (i < 4) { v = (v << 8) | (payload(pos + i) & 0xff); i += 1 }
      pos += 4; v
    }
    def int64(): Long = {
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (payload(pos + i) & 0xff); i += 1 }
      pos += 8; v
    }
    def cstring(): String = {
      val start = pos
      while (payload(pos) != 0) pos += 1
      val s = new String(payload, start, pos - start, "UTF-8")
      pos += 1
      s
    }
    def bytes(n: Int): Array[Byte] = {
      val b = java.util.Arrays.copyOfRange(payload, pos, pos + n)
      pos += n; b
    }
    def remaining(): Array[Byte] =
      java.util.Arrays.copyOfRange(payload, pos, payload.length)
  }

  /** ErrorResponse/NoticeResponse: tagged cstring fields until \0;
    * 'C' = SQLSTATE, 'M' = message.
    */
  def parseErrorFields(payload: Array[Byte]): Map[Char, String] = {
    val r = new Reader(payload)
    val fields = Map.newBuilder[Char, String]
    var tag = r.byte()
    while (tag != 0) {
      fields += tag.toChar -> r.cstring()
      tag = r.byte()
    }
    fields.result()
  }

  /** `X/X` LSN text form (upper-half/lower-half hex), as in
    * marshaller/marshaller.go:312-317 and the START_REPLICATION command.
    */
  def formatLsn(lsn: Long): String =
    f"${lsn >>> 32}%X/${lsn & 0xffffffffL}%X"

  def parseLsn(s: String): Long = {
    val i = s.indexOf('/')
    require(i > 0, s"bad LSN: $s")
    (java.lang.Long.parseLong(s.substring(0, i), 16) << 32) |
      java.lang.Long.parseLong(s.substring(i + 1), 16)
  }

  /** Current wall-clock in Postgres-epoch micros. */
  def nowPgMicros(): Long =
    System.currentTimeMillis() * 1000L - PgEpochDeltaMicros
}
