package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite {

  private def rec(key: String, txn: String, lsn: Long, size: Int): SinkRecord =
    SinkRecord(key, txn, lsn, Array.fill(size)('x'.toByte))

  test("greedy chunking honors record-count cap") {
    val recs = (1 to 1203).map(i => rec("k", s"t${i / 100}", i, 10))
    val chunks = Chunker.greedyChunks(recs.iterator, BatchCaps(500, Long.MaxValue, Long.MaxValue)).toSeq
    assert(chunks.map(_.records.size) == Seq(500, 500, 203))
  }

  test("greedy chunking honors byte cap and keeps order") {
    val recs = Seq(rec("k", "t", 1, 400), rec("k", "t", 2, 400), rec("k", "t", 3, 400))
    val chunks = Chunker.greedyChunks(recs.iterator, BatchCaps(100, 1000, 500)).toSeq
    assert(chunks.map(_.records.map(_.walStart)) == Seq(Vector(1L, 2L), Vector(3L)))
  }

  test("oversized records are dropped but counted toward the txn (no ledger stall)") {
    val recs = Seq(rec("k", "t1", 1, 10), rec("k", "t1", 2, 2000), rec("k", "t2", 3, 10))
    val chunks = Chunker.greedyChunks(recs.iterator, BatchCaps(500, 5000, 1000)).toSeq
    assert(chunks.head.records.size == 2)
    assert(chunks.head.droppedOversize.map(_.walStart) == Vector(2L))
    assert(chunks.head.writtenCountsByTxn == Map("t1" -> 2, "t2" -> 1))
  }

  test("backoff retries until success with capped exponential delays") {
    val delays = scala.collection.mutable.ArrayBuffer[Long]()
    val b = new Backoff(1500, 1.5, 5000, 60000, delays += _)
    var calls = 0
    val ok = b.retry { () => calls += 1; calls >= 4 }
    assert(ok && calls == 4)
    assert(delays.toSeq == Seq(1500, 2250, 3375))
  }

  test("backoff gives up after the elapsed budget") {
    var now = 0L // fake nanos, advanced by the fake sleeper
    val b = new Backoff(1000, 2.0, 4000, 10000, d => now += d * 1000000L, () => now)
    var calls = 0
    val ok = b.retry { () => calls += 1; false }
    assert(!ok && calls >= 4)
  }

  test("backoff budget is wall-clock: slow attempts count toward it") {
    var now = 0L
    val b = new Backoff(1000, 2.0, 4000, 10000, d => now += d * 1000000L, () => now)
    var calls = 0
    val ok = b.retry { () => calls += 1; now += 4000L * 1000000L; false } // each attempt takes 4 s
    assert(!ok)
    // 4 s attempt + 1 s sleep + 4 s attempt + 2 s sleep = 11 s > 10 s budget
    // → gives up after the 3rd attempt instead of retrying on sleep-time alone
    assert(calls == 3)
  }

  test("degenerate caps still make progress (no infinite chunk loop)") {
    // maxRecordBytes > maxBatchBytes would admit a record no batch can
    // carry (the transport's hard batch limit rejects it at send time):
    // rejected at construction instead
    intercept[IllegalArgumentException](BatchCaps(100, 500, 1000))
    // maxRecords = 0: first record still accepted, one record per chunk
    val recs = Seq(rec("k", "t", 1, 800), rec("k", "t", 2, 800))
    val chunks0 = Chunker.greedyChunks(recs.iterator, BatchCaps(0, Long.MaxValue, Long.MaxValue)).toSeq
    assert(chunks0.map(_.records.size) == Seq(1, 1))
  }

  test("epoch tracker makes batch replays idempotent: open returns false, nothing re-sent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_epochs").toString
    val tracker = EpochTracker.fileBacked(dir)
    val transport = new InMemoryTransport()
    val writer = ChunkedSink.foreachWriter(BatchCaps.kinesis, () => transport, tracker)

    def row(i: Int): org.apache.spark.sql.Row =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any]("k", s"t$i-0", i.toLong, s"""{"i":$i}"""),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("partitionKey", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("timeBasedKey", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("walStart", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("json", org.apache.spark.sql.types.StringType))))

    // first delivery of (partition 0, epoch 7)
    assert(writer.open(0, 7))
    (1 to 3).foreach(i => writer.process(row(i)))
    writer.close(null)
    assert(transport.totalRecords == 3)

    // Spark replays the same epoch after a failure before offset commit:
    // open must decline and nothing may be re-sent
    assert(!writer.open(0, 7))
    writer.close(null)
    assert(transport.totalRecords == 3)

    // a FAILED first attempt leaves no marker: the replay re-delivers
    assert(writer.open(1, 7))
    writer.process(row(9))
    writer.close(new RuntimeException("task died before delivery"))
    assert(writer.open(1, 7), "no marker after failure -> replay proceeds")
    writer.process(row(9))
    writer.close(null)
    assert(transport.totalRecords == 4)

    // later epochs proceed normally
    assert(writer.open(0, 8))
  }

  test("writePartition: partial failures are retried; written counts reported per txn") {
    val transport = new InMemoryTransport(partialFailOnce = Seq(1, 3))
    val recs = (1 to 5).map(i => rec("k", s"t${i % 2}", i, 10))
    val written = ChunkedSink.writePartition(
      recs.iterator, BatchCaps.kinesis, transport,
      () => new Backoff(sleeper = _ => ()))
    assert(written == Map("t1" -> 3, "t0" -> 2))
    // all 5 landed exactly once across the initial send + retry
    assert(transport.totalRecords == 5)
    val landed = transport.sent.flatten.map(_.walStart).sorted
    assert(landed == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("writePartition: full outage then recovery delivers everything") {
    val transport = new InMemoryTransport(failFirst = 2)
    val recs = (1 to 10).map(i => rec("k", "t", i, 10))
    val written = ChunkedSink.writePartition(
      recs.iterator, BatchCaps.kinesis, transport,
      () => new Backoff(sleeper = _ => ()))
    assert(written == Map("t" -> 10))
    assert(transport.totalRecords == 10)
  }

  /** Per-record failure with probability p on EVERY send attempt — the
    * itests' mock Kinesis with KINESIS_ERROR_PROBABILITY
    * (itests/tests/kinesis/test_high_kinesis_errors: 0.4, multi-worker:
    * 0.5). Successful records are appended in arrival order.
    */
  private final class FlakyTransport(p: Double, seed: Long) extends RecordTransport {
    val sent = new scala.collection.mutable.ArrayBuffer[Seq[SinkRecord]]()
    private val rnd = new scala.util.Random(seed)
    override def send(records: Seq[SinkRecord]): SendResult = synchronized {
      val failed = records.indices.filter(_ => rnd.nextDouble() < p)
      val failedSet = failed.toSet
      sent += records.zipWithIndex.collect { case (r, i) if !failedSet(i) => r }
      SendResult(failed)
    }
    def landedWalStarts: Seq[Long] = synchronized(sent.flatten.map(_.walStart).toSeq)
  }

  test("error probability 0.4: 2500 records land exactly once, ledger counts intact (test_high_kinesis_errors)") {
    val transport = new FlakyTransport(0.4, seed = 7)
    val recs = (1 to 2500).map(i => rec(s"k${i % 7}", s"t${i / 50}", i, 20))
    val written = ChunkedSink.writePartition(
      recs.iterator, BatchCaps.kinesis, transport,
      () => new Backoff(sleeper = _ => ()))
    // no loss, no duplication — the itests' sorted-golden comparison
    assert(transport.landedWalStarts.sorted == (1L to 2500L))
    // every txn's written count reaches the ledger in full (acks advance)
    assert(written.values.sum == 2500)
    assert(written.forall { case (txn, n) => recs.count(_.timeBasedKey == txn) == n })
  }

  test("4 workers, error probability 0.5: 10000 records, no loss/dup across concurrent workers (test_multi_worker_high_kinesis_errors)") {
    val n = 10000
    val recs = (1 to n).map(i => rec(s"k${i % 13}", s"t${i / 100}", i, 20))
    // key-affinity split, like BATCHER_ROUTING_METHOD=partition
    val byWorker = recs.groupBy(r => math.abs(r.partitionKey.hashCode) % 4)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.DurationInt
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence(byWorker.toSeq.map { case (w, slice) =>
      Future {
        val transport = new FlakyTransport(0.5, seed = 100 + w)
        val written = ChunkedSink.writePartition(
          slice.iterator, BatchCaps.kinesis, transport,
          () => new Backoff(sleeper = _ => ()))
        (transport.landedWalStarts, written)
      }
    }), 2.minutes)
    val landed = results.flatMap(_._1)
    assert(landed.sorted == (1L to n.toLong), "exactly-once across all workers")
    val written = results.map(_._2).foldLeft(Map.empty[String, Int]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0) + v) }
    }
    assert(written.values.sum == n)
    assert(written.forall { case (txn, c) => recs.count(_.timeBasedKey == txn) == c })
  }

  test("staggered epochs with partial failures: exactly-once through the foreach writer (test_staggered)") {
    // txns arrive in uneven bursts across epochs (some epochs empty),
    // one epoch is replayed by the engine, and the transport drops 30%
    // of records per attempt — delivery must still be exactly-once with
    // full ledger counts, the staggered itest shape plus fault injection.
    val shared = new FlakyTransport(0.3, seed = 3)
    val tracker = EpochTracker.fileBacked(
      java.nio.file.Files.createTempDirectory("graft_stagger").toString)
    val writer = ChunkedSink.foreachWriter(
      BatchCaps(5, Long.MaxValue, Long.MaxValue), () => shared, tracker)

    def row(i: Int): org.apache.spark.sql.Row =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array(s"k${i % 3}", s"t${i / 4}", i.toLong, s"""{"i":$i}"""),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("partitionKey", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("timeBasedKey", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("walStart", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("json", org.apache.spark.sql.types.StringType))))

    val epochs: Seq[(Long, Range)] =
      Seq(0L -> (1 to 7), 1L -> (8 to 8), 2L -> (9 to 8), // burst, trickle, EMPTY
          3L -> (9 to 20), 4L -> (21 to 24))
    epochs.foreach { case (epoch, range) =>
      assert(writer.open(0, epoch))
      range.foreach(i => writer.process(row(i)))
      writer.close(null)
    }
    // the engine replays epoch 3 (failure between sink write and offset
    // commit): open must decline, nothing re-sent
    assert(!writer.open(0, 3L))
    writer.close(null)

    assert(shared.landedWalStarts.sorted == (1L to 24L), "exactly-once across staggered epochs")
  }

  test("sink key semantics match the reference") {
    val r = rec("pk7", "t", 42, 1)
    assert(ChunkedSink.kinesisPartitionKey(r, keyed = true) == "pk7")
    assert(ChunkedSink.kinesisPartitionKey(r, keyed = false) == "42")
    assert(ChunkedSink.kinesisPartitionKey(r.copy(partitionKey = ""), keyed = true) == "42")
  }
}
