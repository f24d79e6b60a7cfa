package graft.sources

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.{CdcConfig, CdcPipeline}
import graft.operators.Partitioner

class WalSourceSpec extends AnyFunSuite {
  import TestSpark.spark

  private def writeSegment(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(java.nio.file.Paths.get(dir, name),
      lines.mkString("\n").getBytes("UTF-8"))

  test("WalOffset json roundtrips, including quotes/backslashes in keys") {
    for (tbk <- Seq("700-123", """q"uo\te-1""", "")) {
      val o = WalOffset(42L, "700", tbk)
      assert(WalOffset.fromJson(o.json()) == o)
    }
    // round-1 checkpoint format still parses
    assert(WalOffset.fromJson("""{"lsn":7,"txn":"700","timeBasedKey":"700-0"}""") ==
      WalOffset(7L, "700", "700-0"))
    intercept[IllegalArgumentException](WalOffset.fromJson("""{"nope":1}"""))
  }

  test("segment line counts are cached by (path,size); readLines skips closed segments") {
    val dir = Files.createTempDirectory("graft_wal_cache").toString
    writeSegment(dir, "000000000000.wal", Seq("a", "b", "c"))
    writeSegment(dir, "000000000003.wal", Seq("d", "e"))
    assert(WalSource.countLines(dir) == 5)
    // tail segment grows → size changes → recount sees the new line
    writeSegment(dir, "000000000003.wal", Seq("d", "e", "f"))
    assert(WalSource.countLines(dir) == 6)
    assert(WalSource.readLines(dir, 4, 6) == Seq("e", "f"))

    // ranges at the start, middle and end of one large segment equal
    // the matching slices of the full read
    val big = Files.createTempDirectory("graft_wal_big").toString
    writeSegment(big, "000000000000.wal", (0 until 30000).map(i => s"l$i"))
    val full = WalSource.readLines(big, 0, 30000)
    assert(full.length == 30000)
    for ((from, until) <- Seq((0L, 10000L), (10000L, 20000L), (20000L, 30000L)))
      assert(WalSource.readLines(big, from, until) ==
        full.slice(from.toInt, until.toInt))
  }

  test("a non-dot file whose name is not a start line is refused") {
    val dir = Files.createTempDirectory("graft_wal_foreign").toString
    writeSegment(dir, "000000000000.wal", Seq("a", "b"))
    // a sequence-numbered name: counting it in name order would put
    // its lines at offsets no writer gave them
    writeSegment(dir, "001.wal", Seq("c"))
    for (read <- Seq(() => WalSource.countLines(dir), () => WalSource.readLines(dir, 0, 2))) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("001.wal"), e.getMessage)
    }
    // dot-prefixed files are metadata and stay invisible
    Files.move(java.nio.file.Paths.get(dir, "001.wal"), java.nio.file.Paths.get(dir, ".001.wal"))
    assert(WalSource.countLines(dir) == 2)
    assert(WalSource.readLines(dir, 0, 2) == Seq("a", "b"))
    // a start line padded to other than 12 digits is refused too: a
    // poll probes for the next segment by its canonical name
    writeSegment(dir, "0000000000002.wal", Seq("c"))
    val e = intercept[IllegalStateException](WalSource.countLines(dir))
    assert(e.getMessage.contains("0000000000002.wal"), e.getMessage)
  }

  test("idle polls count the spool without listing it; a new segment or a vanished tail re-lists") {
    val dir = Files.createTempDirectory("graft_wal_listings").toString
    val counter = new WalSource.LineCounter(dir)
    assert(counter.count() == 0 && counter.listings == 1)
    writeSegment(dir, "000000000000.wal", Seq("a", "b"))
    assert(counter.count() == 2 && counter.listings == 2)
    for (_ <- 1 to 50) assert(counter.count() == 2)
    assert(counter.listings == 2)
    // the tail grows in place: counted again, still not listed
    writeSegment(dir, "000000000000.wal", Seq("a", "b", "c"))
    assert(counter.count() == 3 && counter.listings == 2)
    // the segment named by the tail's end appears: the tail was closed
    writeSegment(dir, "000000000003.wal", Seq("d"))
    assert(counter.count() == 4 && counter.listings == 3)
    assert(counter.count() == 4 && counter.listings == 3)
    // the known tail vanishes (a spool reset): re-listed, not failed
    Files.delete(java.nio.file.Paths.get(dir, "000000000003.wal"))
    assert(counter.count() == 3 && counter.listings == 4)
  }

  test("a closed segment whose line count differs from the next start minus its own is refused") {
    // the first segment promises lines [0, 3) but holds 4, or 2
    for (first <- Seq(Seq("a", "b", "c", "x"), Seq("a", "b"))) {
      val dir = Files.createTempDirectory("graft_wal_miscount").toString
      writeSegment(dir, "000000000000.wal", first)
      writeSegment(dir, "000000000003.wal", Seq("d", "e"))
      // only the tail is counted, and a read inside the segment's
      // promised range cannot see the fault
      assert(WalSource.countLines(dir) == 5)
      assert(WalSource.readLines(dir, 0, 2) == Seq("a", "b"))
      // a read that passes through it can
      val e = intercept[IllegalStateException](WalSource.readLines(dir, 1, 5))
      assert(e.getMessage.contains("000000000000.wal"), e.getMessage)
    }
  }

  /** The rows (line, walStart, txn, timeBasedKey) of the given slices,
    * read one after the other by the source's own reader.
    */
  private def rowsOf(slices: Array[InputPartition]): Seq[(String, Long, String, String)] = {
    val factory = new WalReaderFactory
    val Seq(line, walStart, txn, tbk) =
      Seq("line", "walStart", "txn", "timeBasedKey").map(WalSource.schema.fieldIndex)
    slices.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      val out = ArrayBuffer[(String, Long, String, String)]()
      try while (r.next()) {
        val row: InternalRow = r.get()
        out += ((row.getUTF8String(line).toString, row.getLong(walStart),
          row.getUTF8String(txn).toString, row.getUTF8String(tbk).toString))
      } finally r.close()
      out
    }
  }

  private def admit(stream: WalMicroBatchStream, from: Offset): WalOffset =
    stream.latestOffset(from, ReadLimit.allAvailable()).asInstanceOf[WalOffset]

  test("a range is planned as min(parallelism, lines) contiguous slices") {
    val dir = Files.createTempDirectory("graft_wal_k").toString
    writeSegment(dir, "000000000000.wal", (0 until 10).map(i => s"l$i"))
    // the session's default parallelism (local[4]) sets k
    val options = new CaseInsensitiveStringMap(java.util.Map.of("path", dir, "flushAgeMillis", "0"))
    val scan = new WalSourceProvider().getTable(WalSource.schema, Array.empty,
      options).asInstanceOf[WalTable].newScanBuilder(options).build()
    val parallelism = spark.sparkContext.defaultParallelism
    val stream = scan.toMicroBatchStream("").asInstanceOf[WalMicroBatchStream]
    for ((from, until) <- Seq((0L, 1L), (1L, 3L), (3L, 10L))) {
      val s = WalOffset(from, "", "")
      val slices = stream.planInputPartitions(s, WalOffset(until, "", ""))
        .map(_.asInstanceOf[WalInputPartition])
      assert(slices.length == math.min(parallelism.toLong, until - from))
      assert(slices.head.from == from && slices.last.until == until)
      slices.sliding(2).filter(_.length == 2).foreach(p => assert(p(0).until == p(1).from))
      assert(slices.forall(p => p.until - p.from >= (until - from) / slices.length))
      assert(rowsOf(slices.toArray).map(_._1) == (from until until).map(i => s"l$i"))
    }
  }

  test("slices cut mid-transaction, at a BEGIN and from inside a transaction read as one slice does") {
    // segments: [0, 5) and [5, 14), the last line without a newline
    val dir = Files.createTempDirectory("graft_wal_slices").toString
    Files.write(java.nio.file.Paths.get(dir, "000000000000.wal"),
      Seq("BEGIN 1", "a1", "a2", "a3", "a4").mkString("", "\n", "\n").getBytes("UTF-8"))
    writeSegment(dir, "000000000005.wal", Seq(
      "COMMIT 1", "BEGIN 2", "b1", "b2", "b3", "COMMIT 2", "BEGIN 3", "c1", "c2"))
    // [2, 14) in 4 slices cuts at 2, 5, 8 and 11: the range starts
    // inside txn 1, line 5 (the segment edge) is mid-txn 1, line 8 is
    // mid-txn 2, and line 11 is exactly BEGIN 3
    val start = WalOffset(2L, "1", "1-7")
    val four = new WalMicroBatchStream(dir, None, 7L, 0L, slots = 4)
    val end = admit(four, start)
    assert(end == WalOffset(14L, "3", "3-7"))
    val slices = four.planInputPartitions(start, end).map(_.asInstanceOf[WalInputPartition])
    assert(slices.map(p => (p.from, p.until)).toSeq == Seq((2L, 5L), (5L, 8L), (8L, 11L), (11L, 14L)))
    // the stamp in force at each slice's first line: a slice opening on
    // a BEGIN carries the transaction before it
    assert(slices.map(p => (p.startTxn, p.startTbk)).toSeq ==
      Seq(("1", "1-7"), ("1", "1-7"), ("2", "2-7"), ("2", "2-7")))
    // each slice knows where its first line starts
    assert(slices.map(_.at).toSeq == Seq(
      Some(WalSource.LinePos(0L, 11L)), Some(WalSource.LinePos(5L, 0L)),
      Some(WalSource.LinePos(5L, 20L)), Some(WalSource.LinePos(5L, 35L))))

    val one = new WalMicroBatchStream(dir, None, 7L, 0L, slots = 1)
    assert(admit(one, start) == end)
    val whole = one.planInputPartitions(start, end)
    assert(whole.length == 1)
    val expected = rowsOf(whole)
    assert(expected.map(_._1) == WalSource.readLines(dir, 2L, 14L))
    assert(expected.map(r => (r._2, r._3)) == Seq(
      3L -> "1", 4L -> "1", 5L -> "1", 6L -> "1", 7L -> "2", 8L -> "2", 9L -> "2",
      10L -> "2", 11L -> "2", 12L -> "3", 13L -> "3", 14L -> "3"))
    assert(rowsOf(slices.toArray) == expected)
  }

  test("a fresh stream plans the same slices as the stream that admitted the range") {
    val dir = Files.createTempDirectory("graft_wal_replan").toString
    writeSegment(dir, "000000000000.wal", (0 until 20).map(i => if (i % 5 == 0) s"BEGIN $i" else s"x$i"))
    writeSegment(dir, "000000000020.wal", (20 until 45).map(i => if (i % 5 == 0) s"BEGIN $i" else s"x$i"))
    val admitting = new WalMicroBatchStream(dir, Some(13), 0L, 0L, slots = 3)
    var from = admitting.initialOffset().asInstanceOf[WalOffset]
    var ranges = 0
    while (from.lsn < 45) {
      // the admitting stream seeks each scan to where the last one ended
      val to = admitting.latestOffset(from, admitting.getDefaultReadLimit).asInstanceOf[WalOffset]
      val planned = admitting.planInputPartitions(from, to)
      val fresh = new WalMicroBatchStream(dir, Some(13), 0L, 0L, slots = 3)
      assert(fresh.planInputPartitions(from, to).toSeq == planned.toSeq)
      assert(planned.length == 3)
      assert(rowsOf(planned).map(_._1) == WalSource.readLines(dir, from.lsn, to.lsn))
      from = to
      ranges += 1
    }
    assert(ranges == 4 && from == WalOffset(45L, "40", "40-0"))
  }

  test("latestOffset admits by the flush rule: a full buffer at once, a partial range at the flush age") {
    val dir = Files.createTempDirectory("graft_wal_flush").toString
    val acks = new ArrayBuffer[Long]()
    WalSource.ackHooks.put(dir, lsn => acks.synchronized { acks += lsn })
    val flushAge = 1000L
    val stream = new WalMicroBatchStream(dir, Some(4), 0L, flushAge, slots = 4)
    val limit = stream.getDefaultReadLimit
    assert(limit == ReadLimit.compositeLimit(Array(
      ReadLimit.minRows(4L, flushAge), ReadLimit.maxRows(4L))))
    def next(from: Offset): WalOffset = stream.latestOffset(from, limit).asInstanceOf[WalOffset]
    try {
      // the first call of a run admits a partial range at once
      writeSegment(dir, "000000000000.wal", Seq("BEGIN 1", "x", "y"))
      val first = next(stream.initialOffset())
      assert(first.lsn == 3 && first.txn == "1")
      assert(acks.synchronized(acks.isEmpty))

      // a later partial range waits for the flush age, and the
      // committed frontier is acked while it waits
      writeSegment(dir, "000000000003.wal", Seq("COMMIT 1", "BEGIN 2"))
      assert(next(first) == first)
      assert(acks.synchronized(acks.toSeq) == Seq(3L))
      Thread.sleep(flushAge + 50L)
      val second = next(first)
      assert(second.lsn == 5 && second.txn == "2")

      // n pending lines are admitted at once, capped at n
      writeSegment(dir, "000000000005.wal", (1 to 6).map(i => s"z$i"))
      assert(next(second).lsn == 9)
      assert(acks.synchronized(acks.toSeq) == Seq(3L, 5L))
      // ReadAllAvailable admits everything pending
      assert(stream.latestOffset(second, ReadLimit.allAvailable()).asInstanceOf[WalOffset].lsn == 11)
    } finally WalSource.ackHooks.remove(dir)
  }

  test("wal source: LSN offsets, txn stamping across batches, commit acks") {
    val dir = Files.createTempDirectory("graft_wal").toString
    writeSegment(dir, "000000000000.wal", Seq(
      "BEGIN 700",
      "table public.users: INSERT: id[integer]:1 name[text]:'a'",
      "table public.users: INSERT: id[integer]:2 name[text]:'b'",
      "COMMIT 700",
      "BEGIN 701",
      "table public.users: UPDATE: id[integer]:1 name[text]:'z'",
      "COMMIT 701"))

    val acks = new ArrayBuffer[Long]()
    WalSource.ackHooks.put(dir, lsn => acks.synchronized { acks += lsn })

    // 3 lines per trigger → stamping must survive micro-batch cuts
    val src = CdcPipeline.fromWalSource(spark, dir, maxLinesPerTrigger = Some(3), flushAgeMillis = 0)
    val out = CdcPipeline.transform(src,
      CdcConfig(partitionMethod = Partitioner.Transaction))
    val q = out.writeStream.format("memory").queryName("wal_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("wal_test")
        .select("operation", "txn", "timeBasedKey", "walStart", "partitionKey")
        .collect()
      assert(rows.length == 7)
      // every DML row stamped with its enclosing BEGIN's txn
      val byOp = rows.groupBy(_.getString(0))
      assert(byOp("INSERT").map(_.getString(1)).toSet == Set("700"))
      assert(byOp("UPDATE").map(_.getString(1)).toSet == Set("701"))
      assert(rows.forall(r => r.getString(2) == r.getString(1) + "-0"))
      // LSNs are the 1-based global line numbers
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to 7L))
      // partition key = txn
      assert(byOp("UPDATE").head.getString(4) == "701")
      // acks fire from the trigger after a batch commits (the source's
      // latestOffset sees the committed frontier) — a contiguous
      // prefix of the stream is acked, never more than written
      assert(acks.synchronized(acks.nonEmpty))
      assert(acks.synchronized(acks.max) >= 3L && acks.synchronized(acks.max) <= 7L)
      assert(acks.synchronized(acks.toSeq) == acks.synchronized(acks.toSeq.sorted))

      // new segment arrives → source picks it up, stamping continues
      writeSegment(dir, "000000000007.wal", Seq(
        "BEGIN 702",
        "table public.users: DELETE: id[integer]:2",
        "COMMIT 702"))
      q.processAllAvailable()
      val rows2 = spark.table("wal_test").collect()
      assert(rows2.length == 10)
      assert(acks.synchronized(acks.max) >= 7L)
    } finally {
      q.stop()
      WalSource.ackHooks.remove(dir)
    }
  }

  test("idle source: the last committed batch is acked with no new data") {
    val dir = Files.createTempDirectory("graft_wal_idle").toString
    writeSegment(dir, "000000000000.wal", Seq(
      "BEGIN 800",
      "table public.users: INSERT: id[integer]:1 name[text]:'a'",
      "COMMIT 800",
      "BEGIN 801",
      "table public.users: INSERT: id[integer]:2 name[text]:'b'",
      "COMMIT 801",
      "BEGIN 802",
      "table public.users: DELETE: id[integer]:1",
      "COMMIT 802"))
    val total = WalSource.countLines(dir)

    val acks = new ArrayBuffer[Long]()
    WalSource.ackHooks.put(dir, lsn => acks.synchronized { acks += lsn })
    val src = CdcPipeline.fromWalSource(spark, dir, maxLinesPerTrigger = Some(4), flushAgeMillis = 0)
    val q = CdcPipeline.transform(src, CdcConfig())
      .writeStream.format("memory").queryName("wal_idle_ack")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // drained: no line is ever added again, yet the final batch's
      // end (the last COMMIT) must still reach the ack hook
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (acks.synchronized(acks.lastOption) != Some(total) &&
             System.nanoTime() < deadline) Thread.sleep(20)
      val seen = acks.synchronized(acks.toSeq)
      assert(seen.lastOption.contains(total), s"acks $seen never reached $total")
      assert(seen == seen.distinct.sorted, s"acks not strictly monotone: $seen")
    } finally {
      q.stop()
      WalSource.ackHooks.remove(dir)
    }
  }
}
