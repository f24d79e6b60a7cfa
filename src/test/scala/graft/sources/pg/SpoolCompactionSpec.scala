package graft.sources.pg

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WalSource

/** Spool compaction: a long-running receiver bounds disk by deleting
  * fully-acked (segment, sidecar) pairs from the front. Segments are
  * named by their global start line, so offsets stay global (line N
  * keeps meaning "the Nth line ever spooled") and checkpointed restarts
  * replay correctly from any offset at or past the first segment.
  */
class SpoolCompactionSpec extends AnyFunSuite {

  private def client() =
    new PgReplicationClient("127.0.0.1", 1, "u", "db", None,
      statusIntervalMillis = 100L, readPollMillis = 20)

  private def dir(): String =
    Files.createTempDirectory("graft_spool_compact").toString

  private def write(d: String, name: String, bytes: Array[Byte]): Unit =
    Files.write(Paths.get(d, name), bytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  private def seg(d: String, start: Int): WalSource.Segment =
    WalSource.Segment(start, new File(d, WalSource.segmentName(start)))

  /** `n` receiver-named segments x 10 lines with sidecars, line i
    * recorded at walStart 0x1000 + 16i.
    */
  private def spool(d: String, n: Int = 5): Unit =
    (0 until n).map(s => seg(d, s * 10)).foreach { g =>
      val lines = g.start.toInt until g.start.toInt + 10
      write(d, g.file.getName, lines.map(i => s"line $i\n").mkString.getBytes("UTF-8"))
      write(d, g.sidecar.getName,
        lines.toArray.flatMap(i => WalSource.lsnRecord(0x1000L + i * 0x10L)))
    }

  test("acked whole segments are compacted; base persisted; offsets stay global") {
    val d = dir()
    spool(d)
    val c = client()
    val r = new PgWalReceiver(() => c, d, 10, 0, 2)
    r.ackLines(35) // 35 acked lines >= 2 segments' worth -> auto-compact
    assert(c.currentAckLsn == 0x1000L + 34 * 0x10L)

    assert(r.compactedLines == 30) // segments 0..2 fully below 35
    for (s <- Seq(0, 10, 20))
      assert(!seg(d, s).file.exists() && !seg(d, s).sidecar.exists(), s"segment $s")
    assert(seg(d, 30).file.exists() && seg(d, 30).sidecar.exists())
    // the base is the first surviving segment's name
    assert(WalSource.segments(d).head.start == 30)

    // the source's global arithmetic is unchanged by compaction
    assert(WalSource.countLines(d) == 50)
    assert(WalSource.readLines(d, 30, 50) == (30 until 50).map(i => s"line $i"))
    assert(WalSource.readLines(d, 42, 44) == Seq("line 42", "line 43"))
    // reading below the base is an explicit error, not silent garbage
    val e = intercept[IllegalStateException](WalSource.readLines(d, 10, 20))
    assert(e.getMessage.contains("compacted base"))

    // acks keep translating through the surviving suffix
    r.ackLines(45)
    assert(c.currentAckLsn == 0x1000L + 44 * 0x10L)
    assert(r.spoolDepth == 5)
  }

  test("restart on a compacted spool recovers the base and keeps translating") {
    val d = dir()
    spool(d)
    val c1 = client()
    new PgWalReceiver(() => c1, d, 10, 0, 2).ackLines(35)

    val c2 = client()
    val r2 = new PgWalReceiver(() => c2, d, 10, 0, 2)
    assert(r2.linesSpooled == 50)
    assert(r2.compactedLines == 30)
    r2.ackLines(50)
    assert(c2.currentAckLsn == 0x1000L + 49 * 0x10L)
    // an ack replayed from before the base is a no-op, not an error
    val c3 = client()
    val r3 = new PgWalReceiver(() => c3, d, 10, 0, 2)
    r3.ackLines(20)
    assert(c3.currentAckLsn == 0L)
  }

  test("crash between a compaction's data and sidecar deletes: leftovers reconciled") {
    val d = dir()
    // segments 0 and 10 lost their data, but not yet their sidecars
    spool(d)
    assert(seg(d, 0).file.delete() && seg(d, 10).file.delete())

    // readers see only segments: the base is already 20
    assert(WalSource.countLines(d) == 50)
    assert(WalSource.readLines(d, 20, 22) == Seq("line 20", "line 21"))

    val r = new PgWalReceiver(client(), d)
    assert(!seg(d, 0).sidecar.exists())
    assert(!seg(d, 10).sidecar.exists())
    assert(seg(d, 20).file.exists() && seg(d, 20).sidecar.exists())
    assert(r.linesSpooled == 50)
    assert(r.compactedLines == 20)
  }

  test("the newest segment is never compacted, even when fully acked") {
    val d = dir()
    spool(d, 2)
    val r = new PgWalReceiver(() => client(), d, 10, 0, 0)
    r.ackLines(20)
    assert(r.compact() == 10)   // only the older segment goes
    assert(seg(d, 10).file.exists())
    assert(WalSource.countLines(d) == 20)
    assert(r.compact() == 0)    // one segment left: nothing more to do
  }

  test("e2e: stream -> commit-driven compaction -> checkpointed restart replays clean") {
    import graft.TestSpark.spark
    val lines: Seq[(Long, String)] = (0 until 3).flatMap { t =>
      val txn = 900 + t
      val b = 0x2000L + t * 0x40L
      Seq(
        b -> s"BEGIN $txn",
        (b + 0x10L) -> s"table public.users: INSERT: id[integer]:${2 * t} name[text]:'a'",
        (b + 0x20L) -> s"table public.users: INSERT: id[integer]:${2 * t + 1} name[text]:'b'",
        (b + 0x30L) -> s"COMMIT $txn")
    }
    val srv = new FakePgServer(lines)
    val d = dir()
    val ckpt = Files.createTempDirectory("graft_compact_ckpt").toString
    val c = client0(srv.port)
    var r: PgWalReceiver = null
    try {
      c.connect()
      r = new PgWalReceiver(() => c, d, 3, 0, 2)
      r.start("s", 0L)
      assert(r.awaitLines(lines.size.toLong))

      val out = Files.createTempDirectory("graft_compact_out").toString
      val src = graft.streaming.CdcPipeline.fromWalSource(spark, d,
        maxLinesPerTrigger = Some(3), flushAgeMillis = 0)
      val q = src.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      assert(spark.read.parquet(out).count() == lines.size.toLong)

      // the sink commits drove acks, acks drove compaction: early
      // segments and their sidecars are gone, but offsets stayed global
      assert(r.compactedLines >= 6, s"compactedLines=${r.compactedLines}")
      assert(!new File(d, f"${0}%012d.wal").exists())
      assert(!new File(d, f".${0}%012d.wal.lsn").exists())
      assert(WalSource.countLines(d) == lines.size.toLong)

      // a restart from the checkpoint neither loses nor duplicates rows
      val q2 = src.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q2.processAllAvailable()
      q2.stop()
      assert(spark.read.parquet(out).count() == lines.size.toLong)
    } finally {
      if (r != null) r.stop()
      srv.stop()
    }
  }

  private def client0(port: Int) =
    new PgReplicationClient("127.0.0.1", port, "u", "db", None,
      statusIntervalMillis = 100L, readPollMillis = 20)
}
