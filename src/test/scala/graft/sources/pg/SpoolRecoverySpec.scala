package graft.sources.pg

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WalSource

/** Startup repair of the spool after a crash mid-`spool()`: the data
  * line and its 8-byte record in the segment's LSN sidecar (its idx
  * entry) are two independent appends, so a crash can tear either
  * file's tail or leave the two one line apart. A torn sidecar tail is
  * the dangerous case — an append-mode reopen would extend the partial
  * record into a valid-looking but WRONG walStart and ack the slot past
  * undelivered data.
  */
class SpoolRecoverySpec extends AnyFunSuite {

  private def client() =
    new PgReplicationClient("127.0.0.1", 1, "u", "db", None,
      statusIntervalMillis = 100L, readPollMillis = 20)

  private def dir(): String =
    Files.createTempDirectory("graft_spool_recovery").toString

  private def write(d: String, name: String, content: String): Unit =
    write(d, name, content.getBytes("UTF-8"))

  private def write(d: String, name: String, bytes: Array[Byte]): Unit =
    Files.write(Paths.get(d, name), bytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  private def records(walStarts: Long*): Array[Byte] =
    walStarts.toArray.flatMap(WalSource.lsnRecord)

  private def readFile(d: String, name: String): String =
    new String(readBytes(d, name), "UTF-8")

  private def readBytes(d: String, name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(d, name))

  private val Seg0 = "000000000000.wal"
  private val Lsn0 = ".000000000000.wal.lsn"

  test("torn sidecar tail (partial record) is dropped, data trimmed to match") {
    val d = dir()
    write(d, Seg0, "BEGIN 1\nline a\nline b\n")
    // crash tore the third record: 3 of its 8 bytes reached the disk
    write(d, Lsn0, records(0x100L, 0x110L) ++ records(0x3f2L).take(3))
    val r = new PgWalReceiver(client(), d)
    assert(r.linesSpooled == 2)
    assert(readBytes(d, Lsn0).sameElements(records(0x100L, 0x110L)))
    assert(readFile(d, Seg0) == "BEGIN 1\nline a\n")
    // acks translate only through surviving records
    val c = client()
    val r2 = new PgWalReceiver(c, d)
    r2.ackLines(5) // clamped to the 2 recorded lines
    assert(c.currentAckLsn == 0x110L)
  }

  test("torn data tail with a complete idx entry: idx trimmed back") {
    val d = dir()
    write(d, Seg0, "BEGIN 1\nline a\nline partial") // no \n
    write(d, Lsn0, records(0x100L, 0x110L, 0x120L))
    val r = new PgWalReceiver(client(), d)
    assert(r.linesSpooled == 2)
    assert(readBytes(d, Lsn0).sameElements(records(0x100L, 0x110L)))
    assert(readFile(d, Seg0) == "BEGIN 1\nline a\n")
  }

  test("data line spooled but crash before its idx entry: unindexed tail dropped") {
    val d = dir()
    write(d, Seg0, "BEGIN 1\nline a\nline b\n")
    write(d, Lsn0, records(0x100L, 0x110L))
    val r = new PgWalReceiver(client(), d)
    assert(r.linesSpooled == 2)
    assert(readFile(d, Seg0) == "BEGIN 1\nline a\n")

    // a whole newest segment ahead of its (absent) sidecar is emptied;
    // the closed segment before it is left as it is
    val d2 = dir()
    write(d2, Seg0, "l0\nl1\n")
    write(d2, Lsn0, records(0x100L, 0x110L))
    write(d2, "000000000002.wal", "l2\nl3\n")
    val r2 = new PgWalReceiver(client(), d2)
    assert(r2.linesSpooled == 2)
    assert(readFile(d2, Seg0) == "l0\nl1\n")
    assert(readFile(d2, "000000000002.wal") == "")
    assert(WalSource.countLines(d2) == 2)
  }

  test("clean spool passes through untouched") {
    val d = dir()
    write(d, Seg0, "l0\nl1\n")
    write(d, Lsn0, records(0x100L, 0x110L))
    val r = new PgWalReceiver(client(), d)
    assert(r.linesSpooled == 2)
    assert(readBytes(d, Lsn0).sameElements(records(0x100L, 0x110L)))
    assert(readFile(d, Seg0) == "l0\nl1\n")
  }

  test("a spool that still holds a global .wal.idx is refused, not trimmed") {
    val d = dir()
    write(d, Seg0, "l0\nl1\n")
    write(d, ".wal.idx", "100\n110\n")
    val e = intercept[IllegalStateException](new PgWalReceiver(client(), d))
    assert(e.getMessage.contains(".wal.idx"), e.getMessage)
    // the missing sidecar was not read as empty: no line was trimmed
    assert(readFile(d, Seg0) == "l0\nl1\n")
    assert(!new File(d, Lsn0).exists())
  }
}
