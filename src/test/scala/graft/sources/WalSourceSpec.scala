package graft.sources

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
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

  test("latestOffset admits by the flush rule: a full buffer at once, a partial range at the flush age") {
    val dir = Files.createTempDirectory("graft_wal_flush").toString
    val acks = new ArrayBuffer[Long]()
    WalSource.ackHooks.put(dir, lsn => acks.synchronized { acks += lsn })
    val flushAge = 1000L
    val stream = new WalMicroBatchStream(dir, Some(4), 0L, flushAge)
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
