package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 streaming CDC source (`format("graft-wal")`) — the Spark-native
  * shape of the reference's replication client (SURVEY §2 O1/O4/O16).
  *
  * Architecture: offsets are global spool line ordinals (line N is the
  * Nth line ever spooled, surviving compaction). Each micro-batch covers
  * a line range, and admission follows the reference batcher's flush
  * rule (O8, U2): with `maxLinesPerTrigger` = n (the bounded client
  * buffer) a range is admitted once n lines are pending (a full buffer,
  * capped at n) or once `flushAgeMillis` has passed since the last
  * admission (the flush age); otherwise the poll admits nothing. A
  * range is committed only after its sink write, and the engine's next
  * poll of `latestOffset` (every `spark.sql.streaming.pollingDelay`
  * under the default trigger) acks the committed frontier through the
  * ack hook — where [[graft.sources.pg.PgWalReceiver]] maps the line
  * count back to an LSN and sends StandbyStatusUpdate, closing the
  * exactly-once loop without any driver-side ledger (checkpointing
  * provides the contiguity guarantee).
  *
  * Transaction stamping (O4) happens in the source, ordered per
  * connection exactly like the reference's single replication reader:
  * the current BEGIN's txn id + a time-based re-delivery discriminator
  * ride in the offset, so stamping survives micro-batch boundaries and
  * restarts.
  *
  * Each admitted range is planned as k = min(default parallelism,
  * lines) contiguous slices, one per task slot, so parse, marshal and
  * the sink's write run on every core. The driver's stamping scan cuts
  * them: each slice carries the stamp in force at its first line and
  * the byte offset that line starts at, so its task seeks there and
  * reads only its own lines. The slices keep WAL order among them; how
  * each sink keeps the reference's order is stated in
  * [[graft.streaming.CdcPipeline]].
  *
  * The WAL byte stream itself comes from a spool directory whose format
  * the [[WalSource]] object owns: segments named by their global start
  * line, each with an optional LSN sidecar. The ~100 polls a second
  * count it through a [[WalSource.LineCounter]], which lists the spool
  * only when a new segment appears. A replay test or the
  * benchmark writes segments directly; live,
  * [[graft.sources.pg.PgWalReceiver]] spools the replication stream into
  * the same layout (exercised against a real server by `LivePgSoakSpec`).
  *
  * Output schema: line, walStart, serverWalEnd, serverTimeMs, txn,
  * timeBasedKey — feed straight into
  * [[graft.streaming.CdcPipeline.transform]].
  */
class WalSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-wal"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WalSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WalTable(properties.get("path"),
      Option(properties.get("maxLinesPerTrigger")).map(_.toInt),
      Option(properties.get("epochNanos")).map(_.toLong).getOrElse(0L),
      Option(properties.get("flushAgeMillis")).map(_.toLong).getOrElse(
        throw new IllegalArgumentException("graft-wal needs the flushAgeMillis option")))
}

object WalSource {
  val schema: StructType = StructType(Seq(
    StructField("line", StringType),
    StructField("walStart", LongType),
    StructField("serverWalEnd", LongType),
    StructField("serverTimeMs", LongType),
    StructField("txn", StringType),
    StructField("timeBasedKey", StringType)))

  /** Ack hooks keyed by source path — the receiver (or a test)
    * registers a callback that sees each newly committed line count
    * (the StandbyStatus edge).
    */
  val ackHooks: ConcurrentHashMap[String, Long => Unit] = new ConcurrentHashMap()

  /** One spool segment. A spool is a directory of text segments named
    * by the global line their first line has (`%012d.wal`, at least 12
    * digits, ordered by that number), so offsets stay global when the
    * receiver compacts segments away from the front: line N keeps
    * meaning "the Nth line ever spooled". A closed segment holds exactly
    * the lines up to the next segment's start; only the tail is counted.
    * Dot-prefixed files are metadata, never data.
    */
  final case class Segment(start: Long, file: java.io.File) {
    /** `.<segment>.lsn`: one [[LsnRecordBytes]] big-endian walStart per
      * line of the segment, written by the receiver beside each line.
      */
    def sidecar: java.io.File =
      new java.io.File(file.getParentFile, s".${file.getName}.lsn")
  }

  val LsnRecordBytes = 8

  def segmentName(start: Long): String = f"$start%012d.wal"

  def lsnRecord(walStart: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(LsnRecordBytes).putLong(walStart).array()

  /** The walStart of global line `line`, read from its segment's sidecar. */
  def walStartAt(seg: Segment, line: Long): Long = {
    val raf = new java.io.RandomAccessFile(seg.sidecar, "r")
    try { raf.seek((line - seg.start) * LsnRecordBytes); raf.readLong() }
    finally raf.close()
  }

  private val SegmentName = """(\d{12,})\.wal""".r

  private def listFiles(path: String): Seq[java.io.File] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty[java.io.File]).toSeq

  /** The spool's segments in line order. Any file that is neither
    * dot-prefixed nor named `segmentName(start)` is refused: counting it
    * in name order would shift every offset after it, and a poll that
    * probes for the next segment by that name would never see it.
    */
  def segments(path: String): IndexedSeq[Segment] =
    listFiles(path).iterator.filter(f => f.isFile && !f.getName.startsWith("."))
      .map { f =>
        f.getName match {
          case n @ SegmentName(digits)
              if segmentName(java.lang.Long.parseLong(digits)) == n =>
            Segment(java.lang.Long.parseLong(digits), f)
          case n => throw new IllegalStateException(
            s"spool $path holds $n, which is not a segment named by its start line " +
              "(%012d.wal); move it out of the spool")
        }
      }.toIndexedSeq.sortBy(_.start)

  /** Sidecars whose segment is gone: a compaction deletes the data
    * first, so a crash between its two deletes leaves one behind.
    */
  def orphanSidecars(path: String): Seq[java.io.File] = {
    val live = segments(path).map(_.sidecar.getName).toSet
    listFiles(path).filter(f => f.getName.endsWith(".wal.lsn") && !live(f.getName))
  }

  /** Retry wrapper for reads racing the receiver's compactor: a reader
    * that listed a segment and then finds it deleted re-lists, and a
    * range that now starts below the first segment fails as compacted.
    */
  private def retryOnVanish[A](body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt > 3) throw e
      }
    }
    sys.error("unreachable")
  }

  /** ((path, size, mtime), lines) of the last tail counted: a trigger
    * that finds no new data re-counts nothing.
    */
  @volatile private var tailMemo = (("", -1L, -1L), 0L)

  private def tailLineCount(f: java.io.File): Long = {
    val key = (f.getAbsolutePath, f.length(), f.lastModified())
    val memo = tailMemo
    if (memo._1 == key) memo._2
    else {
      val n = newlineCount(f)
      tailMemo = (key, n)
      n
    }
  }

  /** Lines in `f` as [[LineReader]] splits them: one per '\n' byte,
    * plus a last line that ends at EOF without one.
    */
  private def newlineCount(f: java.io.File): Long = {
    val in = new java.io.FileInputStream(f)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      var last: Byte = '\n'
      var r = in.read(buf)
      while (r > 0) {
        var j = 0
        while (j < r) { if (buf(j) == '\n') n += 1; j += 1 }
        last = buf(r - 1)
        r = in.read(buf)
      }
      if (last != '\n') n + 1 else n
    } finally in.close()
  }

  /** Where a spool line starts: its segment's start line and its byte
    * offset in that segment. Segments are append-only, so a line keeps
    * its position until compaction deletes its segment.
    */
  final case class LinePos(segment: Long, byte: Long)

  /** Reads the lines [from, until) of a spool in order, as raw bytes
    * split on '\n' (a last line without one ends at EOF). Given `at`,
    * where line `from` starts, it seeks there; otherwise it reads from
    * the first line of `from`'s segment. A read that passes through a
    * closed segment checks that it holds exactly the lines its name and
    * the next segment's name promise. Not thread-safe.
    */
  final class LineReader(path: String, from: Long, until: Long, at: Option[LinePos] = None)
      extends AutoCloseable {
    private var segs = IndexedSeq.empty[Segment]
    private var i = -1
    private var in: java.io.FileInputStream = _
    private var buf = new Array[Byte](1 << 16)
    private var lo = 0 // next unread byte of buf
    private var hi = 0 // end of the bytes read into buf
    private var bufByte = 0L // file offset of buf(0)
    private var n = 0L // ordinal of the segment's next line
    private var segEnd = 0L // the start of the next segment
    private var lineFrom = 0
    private var lineTo = 0
    private var terminated = false

    /** The current line: a fresh array per line, its global ordinal,
      * and the byte offset where it starts in segment `lineSegment`.
      */
    var line: Array[Byte] = _
    var lineNo: Long = -1L
    var lineByte: Long = -1L
    def lineSegment: Long = segs(i).start
    def pos: LinePos = LinePos(lineSegment, lineByte)

    /** Where the line after the current one starts, when that is known
      * without reading on: the current line ended with '\n'.
      */
    def nextPos: Option[LinePos] =
      if (lineNo >= 0 && terminated) Some(LinePos(lineSegment, lineByte + line.length + 1))
      else None

    retryOnVanish {
      segs = if (from < until) segments(path) else IndexedSeq.empty
      if (segs.nonEmpty && from < segs.head.start)
        throw new IllegalStateException(
          s"offset $from precedes the compacted base ${segs.head.start} of spool $path: " +
            "those lines were acked and removed; restart from a checkpoint at or past the base")
      val hinted = at.map(p => segs.indexWhere(_.start == p.segment)).filter(k => k >= 0 && segs(k).start <= from)
      hinted match {
        case Some(k) => open(k, at.get.byte, from)
        case None =>
          val k = segs.lastIndexWhere(_.start <= from)
          if (k >= 0) open(k, 0L, segs(k).start)
      }
    }

    private def open(k: Int, byte: Long, first: Long): Unit = {
      val f = new java.io.FileInputStream(segs(k).file)
      if (byte > 0) f.getChannel.position(byte)
      in = f
      i = k
      bufByte = byte
      lo = 0
      hi = 0
      n = first
      segEnd = if (k + 1 < segs.length) segs(k + 1).start else Long.MaxValue
    }

    /** Finds the open segment's next line in `buf` at [lineFrom, lineTo);
      * false at its end.
      */
    private def nextInSegment(): Boolean = {
      var j = lo
      while (true) {
        while (j < hi && buf(j) != '\n') j += 1
        if (j < hi) {
          lineFrom = lo; lineTo = j; lo = j + 1; terminated = true
          return true
        }
        if (lo > 0) {
          System.arraycopy(buf, lo, buf, 0, hi - lo)
          bufByte += lo; j -= lo; hi -= lo; lo = 0
        }
        if (hi == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        val r = in.read(buf, hi, buf.length - hi)
        if (r < 0) {
          if (hi == lo) return false
          lineFrom = lo; lineTo = hi; lo = hi; terminated = false
          return true
        }
        hi += r
      }
      false
    }

    def next(): Boolean = {
      while (in != null && n < until) {
        if (n < segEnd && nextInSegment()) {
          n += 1
          if (n > from) {
            lineNo = n - 1
            lineByte = bufByte + lineFrom
            line = java.util.Arrays.copyOfRange(buf, lineFrom, lineTo)
            return true
          }
        } else {
          val closed = i + 1 < segs.length
          if (closed && (n < segEnd || nextInSegment()))
            throw new IllegalStateException(
              s"segment ${segs(i).file.getName} of spool $path does not hold exactly lines " +
                s"[${segs(i).start}, $segEnd), as its name and the next segment's name promise")
          in.close()
          in = null
          if (closed) open(i + 1, 0L, segEnd)
        }
      }
      false
    }

    override def close(): Unit = if (in != null) { in.close(); in = null }
  }

  def readLines(path: String, from: Long, until: Long): Seq[String] = {
    val r = new LineReader(path, from, until)
    try {
      val out = mutable.ArrayBuffer[String]()
      while (r.next()) out += new String(r.line, java.nio.charset.StandardCharsets.UTF_8)
      out.toSeq
    } finally r.close()
  }

  /** One poller's line count of a spool, listing the spool only when
    * its tail changes. Segments are named by their start line, so the
    * known tail is closed exactly when the segment named by its end
    * exists; until then (or until the tail vanishes) a poll counts the
    * tail and probes that one name instead of stat-ing every segment.
    * Not thread-safe: one instance per polling thread.
    */
  final class LineCounter(path: String) {
    private var tail: Option[Segment] = None

    /** Spool listings so far. */
    private[graft] var listings = 0L

    def count(): Long = retryOnVanish {
      val known = tail.flatMap { t =>
        try Some(t.start + tailLineCount(t.file))
        catch { case _: java.io.FileNotFoundException => None }
      }
      known.filterNot(n => new java.io.File(path, segmentName(n)).exists()).getOrElse {
        listings += 1
        tail = segments(path).lastOption
        tail.fold(0L)(t => t.start + tailLineCount(t.file))
      }
    }
  }

  def countLines(path: String): Long = new LineCounter(path).count()
}

/** Transaction stamping state (O4) rolled forward line by line: a
  * `BEGIN <xid>` line opens a transaction, and every line up to the
  * next BEGIN carries its txn id and time-based key. Both are built
  * once per BEGIN, as the `UTF8String`s the source's rows carry.
  */
private[graft] final class TxnStamp(txn0: String, tbk0: String, epochNanos: Long) {
  var txn: UTF8String = UTF8String.fromString(txn0)
  var tbk: UTF8String = UTF8String.fromString(tbk0)

  def advance(line: Array[Byte]): Unit =
    if (line.length >= 6 && line(0) == 'B' && line(1) == 'E' && line(2) == 'G' &&
        line(3) == 'I' && line(4) == 'N' && line(5) == ' ') {
      val id = new String(line, 6, line.length - 6, java.nio.charset.StandardCharsets.UTF_8).trim
      txn = UTF8String.fromString(id)
      tbk = UTF8String.fromString(s"$id-$epochNanos")
    }
}

/** Offset = (lines consumed, current txn, current timeBasedKey): the
  * stamping state rides with the line ordinal so it survives restarts.
  * The field keeps its checkpoint name `lsn`.
  */
case class WalOffset(lsn: Long, txn: String, timeBasedKey: String) extends Offset {
  override def json(): String = {
    val node = WalOffset.mapper.createObjectNode()
    node.put("lsn", lsn)
    node.put("txn", txn)
    node.put("timeBasedKey", timeBasedKey)
    WalOffset.mapper.writeValueAsString(node)
  }
}
object WalOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def fromJson(s: String): WalOffset = {
    val n = mapper.readTree(s)
    if (n == null || !n.has("lsn"))
      throw new IllegalArgumentException(s"bad WalOffset: $s")
    WalOffset(n.get("lsn").asLong(),
      Option(n.get("txn")).map(_.asText()).getOrElse(""),
      Option(n.get("timeBasedKey")).map(_.asText()).getOrElse(""))
  }
}

class WalTable(path: String, maxLinesPerTrigger: Option[Int], epochNanos: Long,
               flushAgeMillis: Long)
  extends Table with SupportsRead {
  override def name(): String = s"graft-wal(`$path`)"
  override def schema(): StructType = WalSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new WalScan(path, maxLinesPerTrigger, epochNanos, flushAgeMillis)
}

class WalScan(path: String, maxLinesPerTrigger: Option[Int], epochNanos: Long,
              flushAgeMillis: Long) extends Scan {
  override def readSchema(): StructType = WalSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new WalMicroBatchStream(path, maxLinesPerTrigger, epochNanos, flushAgeMillis,
      SparkSession.active.sparkContext.defaultParallelism)
}

/** @param slots the task slots a range is cut into slices for: the
  *              session's default parallelism (`local[N]`, `--cores`)
  */
class WalMicroBatchStream(path: String, maxLinesPerTrigger: Option[Int], epochNanos: Long,
                          flushAgeMillis: Long, slots: Int)
  extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = WalOffset(0L, "", "")

  /** The flush rule as Spark read limits, the Kafka source's
    * `minOffsetsPerTrigger`/`maxTriggerDelay` pair: at least n lines or
    * the flush age (`minRows`), at most n lines (`maxRows`).
    */
  override def getDefaultReadLimit: ReadLimit =
    maxLinesPerTrigger.map(n => ReadLimit.compositeLimit(Array(
      ReadLimit.minRows(n.toLong, flushAgeMillis), ReadLimit.maxRows(n.toLong))))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** Highest line count handed to the ack hook (monotone guard). */
  private var lastAcked = 0L

  /** `System.nanoTime` of the last admission; none before the first. */
  private var lastAdmitNanos: Option[Long] = None

  /** The spool's line count, polled without listing an unchanged spool. */
  private[graft] val lines = new WalSource.LineCounter(path)

  /** The slices of the last range admitted, keyed by its start and end
    * line: [[planInputPartitions]] of that range reuses them.
    */
  private var planned: Option[(WalOffset, Long, Array[InputPartition])] = None

  /** Where the line after the last range scanned starts, when known: the
    * next scan seeks there instead of reading its segment from the top.
    */
  private var frontier: Option[(Long, WalSource.LinePos)] = None

  /** Admission control by the flush rule: under the default limit, a
    * poll admits `min(pending, n)` lines once n are pending or the last
    * admission is at least `flushAgeMillis` old (the first poll of a run
    * admits at once), and nothing otherwise; `ReadAllAvailable` admits
    * everything pending. It rolls the stamping state forward over the
    * admitted range (driver-side scan of just that slice — the live
    * protocol provider tracks this state for free as it consumes the
    * socket), and the same scan cuts the range into its slices.
    *
    * This is also the single ack site. The engine calls it on every
    * poll, and only once the batch ending at `start` is in the commit
    * log (one batch in flight, no async progress tracking), so `start`
    * is the durably written frontier — acked here within one polling
    * delay of the commit, also while admission waits and when the
    * source has gone idle and no next batch is ever constructed.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[WalOffset]
    if (s.lsn > lastAcked) {
      lastAcked = s.lsn
      Option(WalSource.ackHooks.get(path)).foreach(_(s.lsn))
    }
    val pending = lines.count() - s.lsn
    val now = System.nanoTime()
    val admitted = (limit, maxLinesPerTrigger) match {
      case (_: streaming.ReadAllAvailable, _) | (_, None) => pending
      case (_, Some(n)) =>
        val due = pending >= n ||
          lastAdmitNanos.forall(t => now - t >= flushAgeMillis * 1000000L)
        if (due) math.min(pending, n.toLong) else 0L
    }
    if (admitted <= 0) s
    else {
      lastAdmitNanos = Some(now)
      val end = s.lsn + admitted
      val (slices, stamp) = slice(s, end)
      planned = Some((s, end, slices))
      WalOffset(end, stamp.txn.toString, stamp.tbk.toString)
    }
  }

  /** Reads [s, end) once, rolling the stamp forward, and cuts it into
    * k = min(slots, end - s) contiguous slices of near-equal length.
    * Each slice carries the stamp in force at its first line (the state
    * after the line before it) and where that line starts, so its reader
    * seeks there instead of reading the lines before it.
    *
    * @return the slices and the stamp in force after line `end - 1`
    */
  private def slice(s: WalOffset, end: Long): (Array[InputPartition], TxnStamp) = {
    val total = end - s.lsn
    val k = math.min(slots.toLong, total).toInt
    val cuts = Array.tabulate(k + 1)(j => if (k == 0) s.lsn else s.lsn + total * j / k)
    val stamp = new TxnStamp(s.txn, s.timeBasedKey, epochNanos)
    val out = new Array[InputPartition](k)
    def cut(j: Int, at: Option[WalSource.LinePos]): Unit =
      out(j) = WalInputPartition(path, cuts(j), cuts(j + 1), stamp.txn.toString,
        stamp.tbk.toString, epochNanos, at)
    val r = new WalSource.LineReader(path, s.lsn, end,
      frontier.collect { case (line, at) if line == s.lsn => at })
    var j = 0
    try {
      while (r.next()) {
        if (j < k && r.lineNo == cuts(j)) { cut(j, Some(r.pos)); j += 1 }
        stamp.advance(r.line)
      }
      frontier = r.nextPos.filter(_ => r.lineNo == end - 1).map(end -> _)
    } finally r.close()
    // a spool shorter than the range (cut back by the receiver's
    // torn-write repair) leaves its last slices empty
    while (j < k) { cut(j, None); j += 1 }
    (out, stamp)
  }

  /** The ordering contract: each slice is a contiguous run of the WAL,
    * in order, and slice j precedes slice j + 1 — the reference's single
    * ordered reader, cut at k - 1 lines. A sink that writes per task
    * keeps that order within each slice (the gzip sink's part files); a
    * sink with `--workers` ordered writers coalesces the slices back into
    * one ordered task first (see [[graft.streaming.CdcPipeline]]). A
    * range admitted by this stream reuses its scan; any other (a batch
    * replayed after a restart) is scanned again.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WalOffset]
    val e = end.asInstanceOf[WalOffset]
    planned match {
      case Some((ps, pe, slices)) if ps == s && pe == e.lsn => slices
      case _ => slice(s, e.lsn)._1
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WalReaderFactory

  override def deserializeOffset(json: String): Offset = WalOffset.fromJson(json)

  /** The engine calls this only while constructing the NEXT batch, so
    * it never fires for the last batch before an idle spell; acks go
    * out from [[latestOffset]] instead.
    */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** One slice [from, until) of an admitted range: the stamp in force at
  * line `from` and, when known, where that line starts in the spool.
  */
case class WalInputPartition(path: String, from: Long, until: Long,
                             startTxn: String, startTbk: String,
                             epochNanos: Long, at: Option[WalSource.LinePos]) extends InputPartition

class WalReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WalInputPartition]
    new PartitionReader[InternalRow] {
      private val lines = new WalSource.LineReader(p.path, p.from, p.until, p.at)
      private val stamp = new TxnStamp(p.startTxn, p.startTbk, p.epochNanos)
      // one row, refilled per line: the scan's projection copies it out
      private val row = new GenericInternalRow(WalSource.schema.length)
      row.setLong(3, 0L)

      override def next(): Boolean = lines.next() && {
        val lsn = lines.lineNo + 1
        stamp.advance(lines.line)
        row.update(0, UTF8String.fromBytes(lines.line))
        row.setLong(1, lsn)
        row.setLong(2, lsn)
        row.update(4, stamp.txn)
        row.update(5, stamp.tbk)
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = lines.close()
    }
  }
}
