package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row}

/** One record headed for a sink. */
final case class SinkRecord(partitionKey: String, timeBasedKey: String,
                            walStart: Long, payload: Array[Byte])

/** Per-sink batch caps (reference values):
  *  - Kinesis: 500 records / 5 MiB batch / 1 MiB record
  *    (kinesis/batch/batch.go:32-37)
  *  - Kafka: 5000 records / 1 MB record (kafka/config.go:43-64)
  *  - RabbitMQ: 5000 records (rabbitmq/config.go:47-50)
  *  - S3: 50 000 records/object (s3/config.go:53-56)
  */
final case class BatchCaps(maxRecords: Int, maxBatchBytes: Long, maxRecordBytes: Long) {
  // A record admitted by maxRecordBytes must also fit a batch by
  // itself, or the chunker would emit a single-record chunk the
  // transport's hard batch limit then rejects at send time.
  require(maxRecordBytes <= maxBatchBytes,
    s"maxRecordBytes ($maxRecordBytes) must not exceed maxBatchBytes ($maxBatchBytes)")
}
object BatchCaps {
  val kinesis: BatchCaps = BatchCaps(500, 5L * 1024 * 1024, 1L * 1024 * 1024)
  val kafka: BatchCaps = BatchCaps(5000, Long.MaxValue, 1000000L)
  val rabbitmq: BatchCaps = BatchCaps(5000, Long.MaxValue, Long.MaxValue)
  val s3: BatchCaps = BatchCaps(50000, Long.MaxValue, Long.MaxValue)
}

/** One packed chunk plus the records dropped for exceeding the
  * per-record cap. Oversized records are dropped-but-counted so the
  * ack ledger does not stall on them — exactly the reference's
  * behavior (kinesis/batch/batch.go:63-67).
  */
final case class Chunk(records: Vector[SinkRecord], droppedOversize: Vector[SinkRecord]) {
  def writtenCountsByTxn: Map[String, Int] =
    (records ++ droppedOversize).groupBy(_.timeBasedKey).view.mapValues(_.size).toMap
}

object Chunker {

  /** Greedy sequential packing under the caps — the same loop the
    * reference runs per batch; sequential per partition by design
    * (byte-capped packing cannot be expressed as a window without
    * changing semantics), so it lives at the sink edge where the data
    * is already per-partition.
    */
  def greedyChunks(records: Iterator[SinkRecord], caps: BatchCaps): Iterator[Chunk] =
    new Iterator[Chunk] {
      private var pending: Option[SinkRecord] = None
      override def hasNext: Boolean = pending.isDefined || records.hasNext
      override def next(): Chunk = {
        val recs = Vector.newBuilder[SinkRecord]
        val dropped = Vector.newBuilder[SinkRecord]
        var n = 0
        var bytes = 0L
        var full = false
        while (!full && (pending.isDefined || records.hasNext)) {
          val r = pending.getOrElse(records.next())
          pending = None
          val size = r.payload.length.toLong
          if (size > caps.maxRecordBytes) {
            dropped += r
          } else if (n > 0 && (n + 1 > caps.maxRecords || bytes + size > caps.maxBatchBytes)) {
            // Only split on a non-empty chunk: an empty chunk always
            // accepts its first record, so every next() makes progress
            // even under degenerate caps (maxRecords=0, or a record
            // within maxRecordBytes but over maxBatchBytes).
            pending = Some(r) // start next chunk with it
            full = true
          } else {
            recs += r; n += 1; bytes += size
          }
        }
        Chunk(recs.result(), dropped.result())
      }
    }
}

/** Exponential backoff, reference policy: 1.5 s initial, ×1.5 growth,
  * 5 s cap, give up after 5 min elapsed (kinesis/factory.go:111-117).
  * `sleeper` is injectable so tests don't wait.
  */
final class Backoff(
    initialMillis: Long = 1500L,
    multiplier: Double = 1.5d,
    capMillis: Long = 5000L,
    maxElapsedMillis: Long = 5 * 60 * 1000L,
    sleeper: Long => Unit = Thread.sleep,
    clock: () => Long = System.nanoTime) {

  /** Run `attempt` until it returns true (success) or the retry budget
    * is exhausted; returns whether it eventually succeeded. The budget
    * is wall-clock over the whole loop — attempt durations count, like
    * the reference's backoff MaxElapsedTime, not just sleep time.
    */
  def retry(attempt: () => Boolean): Boolean = {
    val deadline = clock() + maxElapsedMillis * 1000000L
    var delay = initialMillis
    var ok = attempt()
    while (!ok && clock() < deadline) {
      sleeper(delay)
      delay = math.min((delay * multiplier).toLong, capMillis)
      ok = attempt()
    }
    ok
  }
}

/** Result of one transport send: indices (into the chunk) that failed
  * and should be retried — the Kinesis partial-failure model
  * (kinesis/transporter/transporter.go:145-216).
  */
final case class SendResult(failedIndices: Seq[Int]) {
  def ok: Boolean = failedIndices.isEmpty
}

/** The RPC edge of a sink. Implementations: AWS Kinesis PutRecords,
  * RabbitMQ basic.publish with confirms, stdout… Network clients are
  * not available in this environment; [[InMemoryTransport]] stands in
  * for tests, and the chunk/retry/ack logic here is the part the
  * reference implements per sink.
  */
trait RecordTransport extends Serializable {
  def send(records: Seq[SinkRecord]): SendResult
}

/** Everything a transport factory needs to build a client: the sink
  * name plus the CLI's sink-specific options under their reference
  * flag names (`kinesis-stream`, `aws-region`, `endpoint`,
  * `rabbitmq-url`, `exchange-name`).
  */
final case class TransportSpec(sink: String, options: Map[String, String])

/** Process-local registry of [[RecordTransport]] factories, keyed by
  * sink name. The AWS Kinesis and AMQP client SDKs are not bundled
  * with this library — a deployment registers its client factory here
  * (driver AND executors, e.g. from a `SparkPlugin`), and the CLI's
  * foreach writer resolves it lazily at partition-`open` time: the
  * task closure carries only the sink name + spec, never a client.
  * This is the seam the reference's transport factory provides
  * (transport/factory/factory.go:34-108), minus the vendored SDKs.
  */
object TransportRegistry {
  private val factories =
    new java.util.concurrent.ConcurrentHashMap[String, TransportSpec => RecordTransport]()
  def register(sink: String)(f: TransportSpec => RecordTransport): Unit =
    factories.put(sink, f)
  def resolve(sink: String): Option[TransportSpec => RecordTransport] =
    Option(factories.get(sink))
  def unregister(sink: String): Unit = factories.remove(sink)
}

/** Collects sends in memory; can fail the first `failFirst` attempts
  * and fail arbitrary indices once, to exercise the retry paths.
  */
final class InMemoryTransport(failFirst: Int = 0, partialFailOnce: Seq[Int] = Nil)
  extends RecordTransport {
  val sent = new ArrayBuffer[Seq[SinkRecord]]()
  private var attempts = 0
  private var partialDone = false
  override def send(records: Seq[SinkRecord]): SendResult = synchronized {
    attempts += 1
    if (attempts <= failFirst) SendResult(records.indices)
    else if (!partialDone && partialFailOnce.nonEmpty) {
      partialDone = true
      sent += records.zipWithIndex.collect {
        case (r, i) if !partialFailOnce.contains(i) => r
      }
      SendResult(partialFailOnce.filter(_ < records.size))
    } else {
      sent += records
      SendResult(Nil)
    }
  }
  def totalRecords: Int = sent.map(_.size).sum
}

/** Sink writer with the reference's delivery semantics: greedy chunking
  * under caps, partial-failure retry under exponential backoff, and
  * per-txn written counts reported to the ledger callback on close.
  *
  * Use with `df.writeStream.foreach(...)` (streaming) or
  * `df.foreachPartition` via [[ChunkedSink.writePartition]] (batch).
  */
object ChunkedSink {

  /** Drain one partition's rows through chunking + retry. Returns the
    * per-txn written counts (for `Written` ledger updates).
    */
  def writePartition(
      rows: Iterator[SinkRecord],
      caps: BatchCaps,
      transport: RecordTransport,
      backoff: () => Backoff): Map[String, Int] = {
    var written = Map.empty[String, Int]
    Chunker.greedyChunks(rows, caps).foreach { chunk =>
      var remaining = chunk.records
      val sentOk = backoff().retry { () =>
        if (remaining.isEmpty) true
        else {
          val res = transport.send(remaining)
          remaining = res.failedIndices.toVector.sorted.map(remaining)
          remaining.isEmpty
        }
      }
      if (!sentOk)
        throw new RuntimeException(
          s"sink delivery failed after retry budget; ${remaining.size} records undelivered")
      chunk.writtenCountsByTxn.foreach { case (k, v) =>
        written = written.updated(k, written.getOrElse(k, 0) + v)
      }
    }
    written
  }

  /** Kinesis per-record partition key: the record's WalStart, or the
    * batch partition key when key-affinity routing is on
    * (kinesis/batch/batch.go:75-89).
    */
  def kinesisPartitionKey(r: SinkRecord, keyed: Boolean): String =
    if (keyed && r.partitionKey.nonEmpty) r.partitionKey else r.walStart.toString

  /** ForeachWriter adapter for streaming queries. Pass an
    * [[EpochTracker]] for end-to-end exactly-once against
    * non-transactional transports: Spark replays a whole micro-batch
    * if it fails between the sink write and the offset-log commit, and
    * `open` returning false for an already-delivered (partition,
    * epoch) tells Spark to skip it — the idempotence half of the
    * exactly-once contract (the source-offset half is checkpointing).
    */
  def foreachWriter(
      caps: BatchCaps,
      transportFactory: () => RecordTransport,
      tracker: EpochTracker = EpochTracker.none): ForeachWriter[Row] =
    new ForeachWriter[Row] {
      @transient private var buf: ArrayBuffer[SinkRecord] = _
      @transient private var transport: RecordTransport = _
      private var part: Long = -1L
      private var epoch: Long = -1L
      override def open(partitionId: Long, epochId: Long): Boolean = {
        part = partitionId
        epoch = epochId
        if (tracker.alreadyCommitted(partitionId, epochId)) {
          buf = null // close() is still invoked after a declined open
          false
        } else {
          buf = new ArrayBuffer[SinkRecord]()
          transport = transportFactory()
          true
        }
      }
      override def process(row: Row): Unit = {
        val json = row.getAs[String]("json")
        if (json != null)
          buf += SinkRecord(
            Option(row.getAs[String]("partitionKey")).getOrElse(""),
            row.getAs[String]("timeBasedKey"),
            row.getAs[Long]("walStart"),
            json.getBytes("UTF-8"))
      }
      override def close(errorOrNull: Throwable): Unit =
        if (errorOrNull == null && buf != null) {
          writePartition(buf.iterator, caps, transport, () => new Backoff())
          tracker.markCommitted(part, epoch) // AFTER delivery succeeded
        }
    }
}

/** Replay guard for non-transactional sinks: records which (partition,
  * epoch) pairs were fully delivered. The marker is written only after
  * the transport accepted every record, so a crash mid-delivery leaves
  * no marker and the replayed epoch re-sends (at-least-once within the
  * epoch, exactly-once across epochs — the same guarantee the
  * reference's ledger-acked redelivery provides).
  */
trait EpochTracker extends Serializable {
  def alreadyCommitted(partitionId: Long, epochId: Long): Boolean
  def markCommitted(partitionId: Long, epochId: Long): Unit
}

object EpochTracker {
  /** No tracking: every replay re-sends (at-least-once). */
  val none: EpochTracker = new EpochTracker {
    def alreadyCommitted(partitionId: Long, epochId: Long): Boolean = false
    def markCommitted(partitionId: Long, epochId: Long): Unit = ()
  }

  /** Marker files under `dir/scope` (a shared filesystem on a cluster).
    * One empty file per committed (partition, epoch).
    *
    * The tracker directory is part of the query's durability domain,
    * exactly like the checkpoint: pair one tracker dir+scope with one
    * checkpoint location, and reset them TOGETHER — epochs restart at 0
    * after a checkpoint reset, and stale markers would silently
    * suppress delivery. A repartitioning restart mid-epoch can likewise
    * redistribute rows into an already-marked partition id; changing
    * `spark.sql.shuffle.partitions` for a query warrants a new scope
    * (the same caveat Spark documents for foreachBatch idempotence).
    */
  def fileBacked(dir: String, scope: String = "default"): EpochTracker = new EpochTracker {
    private def marker(p: Long, e: Long) =
      java.nio.file.Paths.get(dir, scope, f"epoch-$e%020d-part-$p%05d")
    def alreadyCommitted(p: Long, e: Long): Boolean =
      java.nio.file.Files.exists(marker(p, e))
    def markCommitted(p: Long, e: Long): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, scope))
      try java.nio.file.Files.createFile(marker(p, e))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
  }
}
