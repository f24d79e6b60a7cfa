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
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n = try src.getLines().size.toLong finally src.close()
      tailMemo = (key, n)
      n
    }
  }

  def readLines(path: String, from: Long, until: Long): Seq[String] = retryOnVanish {
    val out = mutable.ArrayBuffer[String]()
    val segs = if (from < until) segments(path) else IndexedSeq.empty
    if (segs.nonEmpty && from < segs.head.start)
      throw new IllegalStateException(
        s"offset $from precedes the compacted base ${segs.head.start} of spool $path: " +
          "those lines were acked and removed; restart from a checkpoint at or past the base")
    var i = segs.lastIndexWhere(_.start <= from)
    while (i >= 0 && i < segs.length && segs(i).start < until) {
      val seg = segs(i)
      val closed = i + 1 < segs.length
      val end = if (closed) segs(i + 1).start else Long.MaxValue
      val src = scala.io.Source.fromFile(seg.file, "UTF-8")
      try {
        val it = src.getLines()
        var n = seg.start
        while (n < until && n < end && it.hasNext) {
          val l = it.next()
          if (n >= from) out += l
          n += 1
        }
        // a read that passes through a closed segment checks that it
        // holds exactly the lines its name and the next one's promise
        if (closed && n < until && (n < end || it.hasNext))
          throw new IllegalStateException(
            s"segment ${seg.file.getName} of spool $path does not hold exactly lines " +
              s"[${seg.start}, $end), as its name and the next segment's name promise")
      } finally src.close()
      i += 1
    }
    out.toSeq
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
  * next BEGIN carries its txn id and time-based key.
  */
private[graft] final class TxnStamp(var txn: String, var tbk: String, epochNanos: Long) {
  def advance(line: String): Unit =
    if (line.startsWith("BEGIN ")) {
      txn = line.substring(6).trim
      tbk = s"$txn-$epochNanos"
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
    new WalMicroBatchStream(path, maxLinesPerTrigger, epochNanos, flushAgeMillis)
}

class WalMicroBatchStream(path: String, maxLinesPerTrigger: Option[Int], epochNanos: Long,
                          flushAgeMillis: Long)
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

  /** Admission control by the flush rule: under the default limit, a
    * poll admits `min(pending, n)` lines once n are pending or the last
    * admission is at least `flushAgeMillis` old (the first poll of a run
    * admits at once), and nothing otherwise; `ReadAllAvailable` admits
    * everything pending. It rolls the stamping state forward over the
    * admitted range (driver-side scan of just that slice — the live
    * protocol provider tracks this state for free as it consumes the
    * socket).
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
      val stamp = new TxnStamp(s.txn, s.timeBasedKey, epochNanos)
      WalSource.readLines(path, s.lsn, end).foreach(stamp.advance)
      WalOffset(end, stamp.txn, stamp.tbk)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[WalOffset]
    val e = end.asInstanceOf[WalOffset]
    // ONE ordered partition per batch: WAL is a totally ordered stream
    // read from a single connection (reference semantics). Parallelism
    // comes after the source (filter/marshal fan out per partition key).
    Array(WalInputPartition(path, s.lsn, e.lsn, s.txn, s.timeBasedKey, epochNanos))
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

case class WalInputPartition(path: String, from: Long, until: Long,
                             startTxn: String, startTbk: String,
                             epochNanos: Long) extends InputPartition

class WalReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WalInputPartition]
    new PartitionReader[InternalRow] {
      private val lines = WalSource.readLines(p.path, p.from, p.until).iterator
      private var lsn = p.from
      private val stamp = new TxnStamp(p.startTxn, p.startTbk, p.epochNanos)
      private var current: InternalRow = _

      override def next(): Boolean = {
        if (!lines.hasNext) return false
        val l = lines.next()
        lsn += 1
        stamp.advance(l)
        current = new GenericInternalRow(Array[Any](
          UTF8String.fromString(l), lsn, lsn, 0L,
          UTF8String.fromString(stamp.txn), UTF8String.fromString(stamp.tbk)))
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
