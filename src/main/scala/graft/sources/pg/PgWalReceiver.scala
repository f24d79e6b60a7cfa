package graft.sources.pg

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicLong

import graft.sources.WalSource

/** Bridges the live replication socket to the `graft-wal` DSv2 source:
  * spools each XLogData line into the segment directory the source
  * reads, and translates the source's committed line offsets back into
  * server WAL LSNs for StandbyStatusUpdate.
  *
  * This completes the reference's O1/O16 loop (replication/client/
  * client.go:224-380 receive path, :128-217 ack path) in Spark terms:
  *
  *   socket → spool segments → DSv2 micro-batches → sink
  *      ▲                                            │
  *      └── StandbyStatusUpdate ◀── latestOffset ────┘
  *
  * The spool doubles as the reference's bounded client buffer (U2) —
  * but durable, so a restart replays from the checkpointed offset
  * instead of forcing a slot rewind. Each segment's sidecar
  * ([[graft.sources.WalSource.Segment.sidecar]]) records each line's
  * walStart, so acks for lines spooled by a previous run still
  * translate; the receiver itself keeps no per-line state.
  */
final class PgWalReceiver(
    clientFactory: () => PgReplicationClient,
    spoolDir: String,
    linesPerSegment: Int = 10000,
    maxRecoveries: Int = 3,
    compactAfterSegments: Int = 0) {

  /** Single-connection convenience (no reconnect after stream error). */
  def this(client: PgReplicationClient, spoolDir: String) =
    this(() => client, spoolDir, 10000, 0)
  def this(client: PgReplicationClient, spoolDir: String, linesPerSegment: Int) =
    this(() => client, spoolDir, linesPerSegment, 0)

  // Lines compacted away from the front: the first segment's start.
  @volatile private var base = 0L
  private val spooled = new AtomicLong(0L)
  private val ackedLines = new AtomicLong(0L)
  // Serializes spool file mutation and sidecar reads: spool() appends
  // (receiver thread) vs ackLines()/compact() reading sidecars and
  // deleting segments (ack thread) vs stop() closing the writers.
  private val spoolLock = new Object
  private var writer: java.io.FileOutputStream = _
  private var lsnWriter: java.io.FileOutputStream = _
  private var linesInSegment = 0
  private var thread: Thread = _
  private val started = new CountDownLatch(1)
  @volatile private var failure: Throwable = _
  @volatile private var client: PgReplicationClient = _
  @volatile private var openTxn: String = null // BEGIN seen, COMMIT not yet
  @volatile private var highestWalStart = 0L
  @volatile private var stopping = false
  @volatile var recoveries: Int = 0

  Files.createDirectories(Paths.get(spoolDir))
  locally {
    val idx = new File(spoolDir, ".wal.idx")
    if (idx.exists())
      throw new IllegalStateException(
        s"$idx belongs to an older spool format (one global line index); this receiver " +
          "reads per-segment .lsn sidecars and would find none. Drain the spool with the " +
          "build that wrote it, then start on an empty --spool-dir")
    WalSource.orphanSidecars(spoolDir).foreach(f => if (!f.delete())
      throw new IllegalStateException(s"cannot remove leftover sidecar $f"))
    val segs = WalSource.segments(spoolDir)
    base = segs.headOption.fold(0L)(_.start)
    spooled.set(segs.lastOption.fold(0L)(t => t.start + repairNewest(t)))
    ackedLines.set(base) // everything below the base was acked pre-compaction
  }

  /** Torn-write recovery for the newest (data, sidecar) pair, the only
    * one a crash mid-`spool()` can leave inconsistent. The line and its
    * 8-byte record are two independent appends, so either file can end
    * in a torn fragment (a data line missing its newline, or a partial
    * record an append-mode reopen would extend into a WRONG walStart
    * that acks past undelivered data), or the data can run one line
    * ahead. Both are cut to their common complete prefix. Trimmed lines
    * were never ack-translatable, so the slot never advanced past them;
    * the server redelivers after reconnect (the at-least-once window the
    * reference's error recovery accepts, replication/client/
    * client.go:386-424).
    *
    * @return lines the segment keeps
    */
  private def repairNewest(seg: WalSource.Segment): Long = {
    val bytes = Files.readAllBytes(seg.file.toPath)
    val lineEnds = bytes.indices.filter(bytes(_) == '\n')
    val records =
      if (seg.sidecar.exists()) seg.sidecar.length() / WalSource.LsnRecordBytes else 0L
    val keep = math.min(lineEnds.length.toLong, records)
    setLength(seg.file, if (keep == 0) 0L else lineEnds(keep.toInt - 1) + 1L)
    if (seg.sidecar.exists()) setLength(seg.sidecar, keep * WalSource.LsnRecordBytes)
    keep
  }

  private def setLength(f: File, len: Long): Unit =
    if (f.length() != len) {
      val raf = new java.io.RandomAccessFile(f, "rw")
      try raf.setLength(len) finally raf.close()
    }

  /** Lines spooled so far (existing + this session), compacted included. */
  def linesSpooled: Long = spooled.get()

  /** Lines compacted away from the front of the spool. */
  def compactedLines: Long = base

  /** Unacked backlog: lines spooled but not yet committed by the sink —
    * the reference's queue depth (the bounded client buffer's fill).
    */
  def spoolDepth: Long = spooled.get() - ackedLines.get()

  /** Translate a committed line offset (the graft-wal LSN = number of
    * lines consumed) to the server LSN of the last consumed line and
    * forward it to the socket's standby-status sender.
    */
  def ackLines(lineLsn: Long): Unit = {
    // look up under the spool lock so a concurrent compact() can't
    // delete the sidecar between the base check and the read
    val translated = spoolLock.synchronized {
      val last = math.min(lineLsn, spooled.get()) - 1
      // last < base: an ack for already-compacted lines (a replayed ack
      // after restart) — the slot is already at or past it
      if (last < base) None
      else {
        val seg = WalSource.segments(spoolDir).findLast(_.start <= last).get
        Some((last, WalSource.walStartAt(seg, last)))
      }
    }
    translated.foreach { case (last, walLsn) =>
      // before start() the ack is parked on a fresh client and carried
      // by the first status update once the loop begins
      if (client == null) synchronized { if (client == null) client = clientFactory() }
      client.updateAckLsn(walLsn)
      ackedLines.getAndAccumulate(last + 1, math.max)
      // opportunistic compaction once a configured number of segments'
      // worth of lines is fully acked beyond the current base
      if (compactAfterSegments > 0 &&
          ackedLines.get() - base >= compactAfterSegments.toLong * linesPerSegment)
        compact()
    }
  }

  /** Drop fully-acked (data, sidecar) pairs from the front of the spool —
    * the bounded-disk guarantee for a long-running receiver (SCALE.md;
    * reference analog: Postgres itself recycling WAL below the slot's
    * restart_lsn). A segment is fully acked once the next one starts at
    * or below the acked frontier; the newest is never deleted, so
    * `WalSource.countLines` keeps its meaning on an idle, fully-acked
    * spool. Offsets stay global: the new base is the surviving first
    * segment's name.
    *
    * Data goes before its sidecar, so a crash between the two deletes
    * leaves only a sidecar with no segment, which startup removes.
    *
    * @return lines compacted away by this call
    */
  def compact(): Long = spoolLock.synchronized {
    val acked = ackedLines.get()
    val segs = WalSource.segments(spoolDir)
    val gone = segs.zip(segs.drop(1)).takeWhile(_._2.start <= acked)
    gone.foreach { case (seg, _) =>
      Seq(seg.file, seg.sidecar).foreach { f =>
        if (!f.delete() && f.exists())
          throw new IllegalStateException(s"cannot remove compacted file $f")
      }
    }
    gone.lastOption.fold(0L) { case (_, first) =>
      val dropped = first.start - base
      base = first.start
      dropped
    }
  }

  /** Register this receiver as the ack hook for its spool directory. */
  def registerAckHook(): Unit =
    WalSource.ackHooks.put(spoolDir, ackLines)

  private def rollIfNeeded(): Unit = {
    if (writer == null || linesInSegment >= linesPerSegment) {
      if (writer != null) { writer.close(); lsnWriter.close() }
      val seg = WalSource.Segment(spooled.get(),
        new File(spoolDir, WalSource.segmentName(spooled.get())))
      writer = new java.io.FileOutputStream(seg.file, true)
      lsnWriter = new java.io.FileOutputStream(seg.sidecar, true)
      linesInSegment = 0
    }
  }

  private def spool(x: XLogData): Unit = {
    // one write() per full line (content + newline): the source's
    // reader polls these files concurrently, and a buffered writer
    // could expose a half-flushed line as a complete one. A single
    // write of the whole record into the page cache is the strongest
    // line-level atomicity a plain file offers. The line is counted
    // only once its sidecar record is written too.
    spoolLock.synchronized {
      rollIfNeeded()
      writer.write((x.line + "\n").getBytes("UTF-8"))
      lsnWriter.write(WalSource.lsnRecord(x.walStart))
      spooled.incrementAndGet()
      linesInSegment += 1
    }
    if (x.walStart > highestWalStart) highestWalStart = x.walStart
    if (x.line.startsWith("BEGIN ")) openTxn = x.line.substring(6).trim
    else if (x.line.startsWith("COMMIT")) openTxn = null
  }

  /** Connect-equivalent of the reference's client Start: enters the
    * copy-both loop on a daemon thread; on a mid-stream server error it
    * applies the reference's recovery (client.go:386-424): spool a
    * synthetic COMMIT so downstream closes the open transaction, drop
    * the broken connection, reconnect, and fast-forward to the server's
    * current LSN (a data gap is accepted by design). `startLsn` 0 = the
    * slot's position.
    */
  def start(slot: String, startLsn: Long = 0L,
            pluginOptions: Seq[(String, String)] = Nil): Unit = {
    registerAckHook()
    thread = new Thread(() => {
      var lsn = startLsn
      var proceed = true
      try {
        // reuse a client parked by a pre-start ackLines call
        synchronized { if (client == null) client = clientFactory() }
        client.connect()
        started.countDown()
        while (proceed) {
          proceed = false
          try client.startReplication(slot, lsn, pluginOptions)(spool)
          catch {
            // recover from server errors AND connection-level failures
            // (EOF, reset, mid-frame timeout) — any of them breaks the
            // stream the same way; but never "recover" from our own
            // shutdown closing the socket
            case e @ (_: PgError | _: java.io.IOException)
                if !stopping && recoveries < maxRecoveries =>
              recoveries += 1
              // close the open transaction for the ledger's benefit
              if (openTxn != null)
                spool(XLogData(highestWalStart, highestWalStart, 0L, s"COMMIT $openTxn"))
              val prevAck = client.currentAckLsn
              try client.close() catch { case _: Throwable => () }
              client = clientFactory()
              // carry the committed position over so a quiet stream
              // after recovery still trims the slot to it
              client.updateAckLsn(prevAck)
              client.connect()
              val (_, _, xlogpos) = client.identifySystem()
              lsn = xlogpos
              // a stop() racing this reconnect may have signalled only
              // the discarded client — re-check before streaming again
              proceed = !stopping
          }
        }
      } catch {
        // an error after stop() began is shutdown fallout (our own
        // close breaking the read loop), not a stream failure
        case t: Throwable => if (!stopping) failure = t
      } finally started.countDown()
    }, s"graft-pg-receiver-$slot")
    thread.setDaemon(true)
    thread.start()
    started.await()
  }

  /** Wait until at least `n` lines are spooled (test/drain helper). */
  def awaitLines(n: Long, timeoutMillis: Long = 90000L): Boolean = {
    val deadline = System.nanoTime() + timeoutMillis * 1000000L
    while (spooled.get() < n && System.nanoTime() < deadline) {
      if (failure != null) throw failure
      Thread.sleep(10)
    }
    spooled.get() >= n
  }

  def stop(): Unit = {
    stopping = true
    if (client != null) client.requestStop()
    if (thread != null) {
      thread.join(5000)
      if (thread.isAlive) {
        // a recovery swapped clients mid-stop: signal the current one
        if (client != null) client.requestStop()
        thread.join(5000)
      }
    }
    // Close the replication connection so the server releases the slot:
    // a stopped receiver that leaves its walsender attached makes the
    // slot unacquirable (SQLSTATE 55006) for the next run — a slot leak
    // on every restart. requestStop only exits the copy-both loop; the
    // socket (and the server's walsender) lives until this close. The
    // reference releases it by tearing down the whole connection on
    // shutdown (replication/client/conn/manager.go Close path).
    if (client != null) { try client.close() catch { case _: Throwable => () } }
    spoolLock.synchronized {
      if (writer != null) { writer.close(); lsnWriter.close(); writer = null }
    }
    WalSource.ackHooks.remove(spoolDir)
    if (failure != null) throw failure
  }
}
