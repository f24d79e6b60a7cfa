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
  * a line range; admission control caps the range per trigger
  * (`maxLinesPerTrigger`, the analog of the reference's bounded client
  * buffer, U2). A range is committed only after its sink write, and the
  * next trigger's `latestOffset` acks the committed frontier through
  * the ack hook — where [[graft.sources.pg.PgWalReceiver]] maps the
  * line count back to an LSN and sends StandbyStatusUpdate, closing the
  * exactly-once loop without any driver-side ledger (checkpointing
  * provides the contiguity guarantee).
  *
  * Transaction stamping (O4) happens in the source, ordered per
  * connection exactly like the reference's single replication reader:
  * the current BEGIN's txn id + a time-based re-delivery discriminator
  * ride in the offset, so stamping survives micro-batch boundaries and
  * restarts.
  *
  * The WAL byte stream itself comes from a segment directory (one text
  * file per segment, lexicographic order = WAL order). A replay test
  * writes segments directly; live, [[graft.sources.pg.PgWalReceiver]]
  * spools the replication stream into the same layout (exercised
  * against a real server by `LivePgSoakSpec`).
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
      Option(properties.get("epochNanos")).map(_.toLong).getOrElse(0L))
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

  def segmentFiles(path: String): Seq[java.io.File] = {
    val d = new java.io.File(path)
    // Hadoop convention: dot/underscore files are metadata, not data —
    // the receiver's .wal.idx sidecar lives in the same directory.
    Option(d.listFiles())
      .map(_.filter(f => f.isFile &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .sortBy(_.getName).toSeq)
      .getOrElse(Nil)
  }

  /** Lines compacted away from the front of the spool. The receiver's
    * compactor deletes fully-acked segments and records the count of
    * dropped lines as a `@<decimal>` header on `.wal.idx` (written
    * atomically with the trimmed index, so the two can never disagree).
    * Offsets stay global: line N keeps meaning "the Nth line ever
    * spooled" even after the first N-1 were compacted, so checkpointed
    * offsets survive compaction unchanged. 0 when no idx / no header.
    */
  def compactedBase(path: String): Long = {
    val f = new java.io.File(path, ".wal.idx")
    if (!f.exists()) return 0L
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(new java.io.FileInputStream(f), "UTF-8"))
    try {
      val first = in.readLine()
      if (first != null && first.startsWith("@"))
        try java.lang.Long.parseLong(first.substring(1).trim) catch {
          case _: NumberFormatException => 0L
        }
      else 0L
    } finally in.close()
  }

  /** Global start line encoded in a receiver-written segment name
    * (`%012d.wal`); None for foreign names (offset math then falls back
    * to cumulative order, the pre-compaction behavior). At least 12
    * digits — `%012d` PADS to 12 but grows beyond once the global line
    * count passes 10^12, and rejecting the longer form would silently
    * disable the stale-base anchoring exactly at scale. Shorter numeric
    * names (a test's `001.wal`) are sequence numbers, not start lines —
    * anchoring on them would corrupt offsets.
    */
  def segmentStartLine(f: java.io.File): Option[Long] = {
    val n = f.getName
    val dot = n.indexOf('.')
    val digits = if (dot >= 0) n.substring(0, dot) else n
    if (digits.length >= 12 && digits.forall(_.isDigit))
      try Some(java.lang.Long.parseLong(digits)) catch { case _: NumberFormatException => None }
    else None
  }

  /** Retry wrapper for reads racing the receiver's compactor: the
    * compactor publishes the new base (atomic idx replace) BEFORE
    * deleting segments, so a reader that lists a segment and then finds
    * it deleted just re-reads against the now-consistent state.
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

  /** Per-file line counts keyed by (path, size, mtime): closed segments
    * are immutable so one scan each suffices; a still-growing tail
    * segment changes size (or mtime) and re-scans. Keeps the driver's
    * per-trigger work O(new lines) instead of O(total lines) over the
    * stream's life. LRU-bounded so long-lived drivers streaming many
    * spool dirs don't accumulate entries for deleted files forever.
    */
  private val lineCountCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (Long, Long, Long)](64, 0.75f, true) {
        // Sized so a full sequential sweep of a large spool still fits
        // (a 65k-segment stream is ~5 MB of cache; an access-order LRU
        // smaller than the sweep would thrash to a 0% hit rate). Long
        // captures should compact segments before approaching this.
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Long, Long, Long)]): Boolean = size() > 65536
      })

  def fileLineCount(f: java.io.File): Long = {
    val key = f.getAbsolutePath
    val size = f.length()
    val mtime = f.lastModified()
    val cached = lineCountCache.get(key)
    if (cached != null && cached._1 == size && cached._2 == mtime) cached._3
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n = try src.getLines().size.toLong finally src.close()
      lineCountCache.put(key, (size, mtime, n))
      n
    }
  }

  def readLines(path: String, from: Long, until: Long): Seq[String] = retryOnVanish {
    val base = compactedBase(path)
    if (from < base && from < until)
      throw new IllegalStateException(
        s"offset $from precedes the compacted base $base of spool $path: " +
          "those lines were acked and removed; restart from a checkpoint at or past the base")
    val out = mutable.ArrayBuffer[String]()
    var idx = base
    segmentFiles(path).foreach { f =>
      // a segment wholly below the base is a compaction leftover (crash
      // between idx replace and delete) — its lines are already counted
      // by the base, skip it
      if (idx < until && !segmentStartLine(f).exists(s => base > 0 && s < base)) {
        // Receiver-named segments encode their global start line: anchor
        // idx there instead of trusting cumulative arithmetic. This makes
        // the walk immune to the compactor race where the base advances
        // (idx replaced, segments deleted) between our compactedBase read
        // and the listing — with a stale base, cumulative counting would
        // silently shift every offset by the newly-compacted line count.
        segmentStartLine(f).foreach(s => idx = s)
        val cnt = fileLineCount(f)
        if (idx + cnt <= from) idx += cnt // whole segment before the range: seek past
        else {
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try {
            val it = src.getLines()
            while (idx < until && it.hasNext) {
              val l = it.next()
              if (idx >= from) out += l
              idx += 1
            }
          } finally src.close()
        }
      }
    }
    out.toSeq
  }

  def countLines(path: String): Long = retryOnVanish {
    val base = compactedBase(path)
    // Same stale-base TOCTOU defense as readLines: receiver-named
    // segments anchor the running total at their encoded END line
    // (start + count) — max-combined, so the result is independent of
    // listing order (a 13-digit name sorts lexicographically before
    // 12-digit ones past 10^12) and a base that advanced after we read
    // it cannot deflate the count.
    var total = base
    segmentFiles(path)
      .filterNot(f => segmentStartLine(f).exists(s => base > 0 && s < base))
      .foreach { f =>
        segmentStartLine(f) match {
          case Some(s) => total = math.max(total, s + fileLineCount(f))
          case None    => total += fileLineCount(f)
        }
      }
    total
  }
}

/** Transaction stamping state (O4) rolled forward line by line: a
  * `BEGIN <xid>` line opens a transaction, and every line up to the
  * next BEGIN carries its txn id and time-based key.
  */
private[sources] final class TxnStamp(var txn: String, var tbk: String, epochNanos: Long) {
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

class WalTable(path: String, maxLinesPerTrigger: Option[Int], epochNanos: Long)
  extends Table with SupportsRead {
  override def name(): String = s"graft-wal(`$path`)"
  override def schema(): StructType = WalSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new WalScan(path, maxLinesPerTrigger, epochNanos)
}

class WalScan(path: String, maxLinesPerTrigger: Option[Int], epochNanos: Long) extends Scan {
  override def readSchema(): StructType = WalSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new WalMicroBatchStream(path, maxLinesPerTrigger, epochNanos)
}

class WalMicroBatchStream(path: String, maxLinesPerTrigger: Option[Int], epochNanos: Long)
  extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = WalOffset(0L, "", "")

  override def getDefaultReadLimit: ReadLimit =
    maxLinesPerTrigger.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** Highest line count handed to the ack hook (monotone guard). */
  private var lastAcked = 0L

  /** Admission control: advance at most `maxRows` lines past `start`,
    * and roll the stamping state forward over the admitted range
    * (driver-side scan of just that slice — the live protocol provider
    * tracks this state for free as it consumes the socket).
    *
    * This is also the single ack site. The engine calls it on every
    * trigger, and only once the batch ending at `start` is in the
    * commit log (one batch in flight, no async progress tracking), so
    * `start` is the durably written frontier — acked here even when the
    * source has gone idle and no next batch is ever constructed.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[WalOffset]
    if (s.lsn > lastAcked) {
      lastAcked = s.lsn
      Option(WalSource.ackHooks.get(path)).foreach(_(s.lsn))
    }
    val total = WalSource.countLines(path)
    val end = limit match {
      case rl: streaming.ReadMaxRows => math.min(total, s.lsn + rl.maxRows())
      case _ => total
    }
    if (end == s.lsn) s
    else {
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
