package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exactly-once-ack progress accounting (SURVEY §2 O15; reference
  * transport/progress/ledger.go + progress_tracker.go).
  *
  * The contract: a transaction may be acknowledged (its COMMIT LSN
  * reported back to the source) only when every one of its messages has
  * been durably written AND every *earlier* transaction is in the same
  * state — i.e. the ack frontier is the last element of the longest
  * fully-written prefix in transaction arrival order.
  *
  * Two implementations:
  *
  *  - [[ProgressLedger.contiguousAck]]: distributed, for batch parity
  *    checks and large reconciliation jobs. No global sort and no
  *    driver-side state: a key-partitioned join, a parallel per-bucket
  *    prefix scan over contiguous ord ranges, and a tiny combine over
  *    the bucket summaries — the joined status is computed exactly
  *    once.
  *  - [[InMemoryLedger]]: the faithful insertion-ordered ledger,
  *    including the reference's re-delivery supersession rules (a
  *    transaction re-delivered under a newer timeBasedKey deletes the
  *    stale entry). The streaming pipeline does not use it: its ack
  *    frontier is the source's committed offset
  *    ([[graft.sources.WalMicroBatchStream]]); this ledger is the
  *    model of the reference's tracker that the specs check against.
  */
object ProgressLedger {

  /** Distributed contiguous-ack: returns a single-row DataFrame
    * `(ackLsn: long)` — the COMMIT LSN of the last transaction in the
    * longest complete prefix, or NULL when the first transaction is
    * still incomplete.
    *
    * @param seen    one row per txn: (ord, timeBasedKey, totalMsgs,
    *                commitWalStart) where `ord` is the arrival order
    *                (in CDC order this is the commit LSN itself)
    * @param written zero+ rows per txn: (timeBasedKey, count)
    */
  def contiguousAck(seen: DataFrame, written: DataFrame,
                    bucketWidth: Long = 1L << 16,
                    superFanout: Long = 1L << 12): DataFrame = {
    // bucketWidth 64k (was 1M): the result is bucketWidth-invariant,
    // but the per-bucket prefix window's parallelism is ordRange /
    // bucketWidth — a corpus whose ord span fits ONE 1M-wide bucket
    // funnelled every txn row through a single window partition (the
    // exact straggler the bucketing exists to avoid), while at scale
    // 64k-wide buckets just mean 16× more per-bucket summaries, which
    // level 2's superFanout grouping absorbs unchanged.
    import org.apache.spark.sql.expressions.Window

    val writtenAgg = written.groupBy("timeBasedKey")
      .agg(sum("count").as("writtenCount"))
    val status = seen.join(writtenAgg, Seq("timeBasedKey"), "left")
      .select(col("ord"), col("commitWalStart"),
        coalesce(
          col("commitWalStart") =!= 0L &&
            coalesce(col("writtenCount"), lit(0L)) === col("totalMsgs"),
          lit(false)).as("complete"))

    // Prefix scan without a global sort and without evaluating `status`
    // twice (a scalar "first incomplete ord" subquery would recompute
    // the whole join). Three levels, none of which ever funnels the
    // transaction rows through one partition:
    //  1. bucket `ord` into contiguous ranges and prefix-scan WITHIN
    //     each bucket in parallel (window partitioned by bucket);
    //  2. group buckets into super-buckets and prefix-scan the bucket
    //     summaries within each super-bucket in parallel (window
    //     partitioned by super-bucket) — so a degenerate fully-sparse
    //     ord space (bucket count ≈ txn count) still splits its
    //     summary pass across superFanout-sized partitions;
    //  3. fold the ≤ n/(bucketWidth·superFanout)-ish super summaries
    //     with sort_array + aggregate() in ONE ordinary aggregation —
    //     no unpartitioned WindowExec anywhere in the plan.
    val bucketed = status.withColumn("bucket", floor(col("ord") / bucketWidth))
    val wIn = Window.partitionBy("bucket").orderBy("ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perBucket = bucketed
      .withColumn("inPrefix", min(when(col("complete"), 1).otherwise(0)).over(wIn))
      .groupBy("bucket")
      .agg(
        max(when(col("inPrefix") === 1, col("commitWalStart"))).as("prefixAck"),
        min(when(col("complete"), 1).otherwise(0)).as("allComplete"))

    // A bucket contributes its in-bucket prefix ack iff every earlier
    // bucket is fully complete; split "earlier" into earlier-in-my-
    // super-bucket (windowed here) and earlier-super-bucket (folded in
    // the final aggregate).
    val wSuper = Window.partitionBy("superBucket").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val perSuper = perBucket
      .withColumn("superBucket", floor(col("bucket") / superFanout))
      .withColumn("okBefore", coalesce(min(col("allComplete")).over(wSuper), lit(1)))
      .groupBy("superBucket")
      .agg(
        max(when(col("okBefore") === 1, col("prefixAck"))).as("superAck"),
        min(col("allComplete")).as("superAll"))

    // Final combine: collect the super summaries (ordered by id — the
    // struct's first field) and walk them once with aggregate(): `ok`
    // carries "every earlier super-bucket fully complete", `ack` the
    // best contribution so far. greatest() skips NULLs, so an empty
    // super contribution leaves `ack` unchanged.
    perSuper
      .agg(sort_array(collect_list(
        struct(col("superBucket"), col("superAll"), col("superAck")))).as("ss"))
      .select(
        aggregate(col("ss"),
          struct(lit(1).as("ok"), lit(null).cast("long").as("ack")),
          (acc, x) => struct(
            least(acc("ok"), x("superAll")).as("ok"),
            when(acc("ok") === 1 && x("superAck").isNotNull,
              greatest(acc("ack"), x("superAck"))).otherwise(acc("ack")).as("ack")),
          acc => acc("ack")).as("ackLsn"))
  }
}

/** Seen/Written events (reference progress_tracker.go:54-65). */
final case class Seen(transaction: String, timeBasedKey: String, totalMsgs: Int, commitWalStart: Long)
final case class Written(transaction: String, timeBasedKey: String, count: Int)

/** Insertion-ordered ledger, faithful to reference ledger.go semantics:
  *
  *  - entries keyed by timeBasedKey, kept in first-touch order;
  *  - a seen/written arriving for a known transaction under a *different*
  *    timeBasedKey supersedes (deletes) the stale instance — this is how
  *    re-delivered transactions after a source reconnect are handled;
  *  - written counts may arrive before the seen (batch written before
  *    the txn's COMMIT was observed): a written-only entry is created;
  *  - `emitProgress` walks entries in order collecting the prefix with
  *    `count == totalMsgs && commitWalStart != 0`, returns the last
  *    such LSN, and removes the prefix.
  *
  * Driver-side only (the streaming ack loop); size is O(in-flight
  * transactions), not O(records).
  */
final class InMemoryLedger {

  final case class Entry(
      transaction: String,
      timeBasedKey: String,
      var commitWalStart: Long,
      var count: Int,
      var totalMsgs: Int)

  // All public methods synchronize on `this`: a reader on another
  // thread (`size`/`entries` from a diagnostics or checker thread) may
  // run while the ack loop mutates; an unsynchronized iteration could
  // throw ConcurrentModificationException or render torn state.
  // Contention is nil — the ledger is touched per-transaction, not
  // per-record.
  private val items = mutable.LinkedHashMap.empty[String, Entry]
  private val txnToTimeBasedKey = mutable.HashMap.empty[String, String]

  def size: Int = synchronized { items.size }
  def entries: Seq[Entry] = synchronized { items.values.toSeq }

  private def dropStaleInstance(transaction: String, timeBasedKey: String): Unit =
    txnToTimeBasedKey.get(transaction).foreach { existing =>
      if (existing != timeBasedKey) {
        items.remove(existing)
        txnToTimeBasedKey.remove(transaction)
      }
    }

  def updateSeen(s: Seen): Either[String, Unit] = synchronized {
    dropStaleInstance(s.transaction, s.timeBasedKey)
    items.get(s.timeBasedKey) match {
      case None =>
        items.put(s.timeBasedKey,
          Entry(s.transaction, s.timeBasedKey, s.commitWalStart, 0, s.totalMsgs))
        txnToTimeBasedKey.put(s.transaction, s.timeBasedKey)
        Right(())
      case Some(e) if e.commitWalStart != 0L =>
        Left(s"transaction ${s.timeBasedKey} seen twice (CommitWalStart already set)")
      case Some(e) =>
        e.totalMsgs = s.totalMsgs
        e.commitWalStart = s.commitWalStart
        Right(())
    }
  }

  def updateWritten(w: Written): Unit = synchronized {
    dropStaleInstance(w.transaction, w.timeBasedKey)
    items.get(w.timeBasedKey) match {
      case None =>
        items.put(w.timeBasedKey, Entry(w.transaction, w.timeBasedKey, 0L, w.count, 0))
        txnToTimeBasedKey.put(w.transaction, w.timeBasedKey)
      case Some(e) =>
        e.count += w.count
    }
  }

  /** Longest-complete-prefix ack; removes acked entries. */
  def emitProgress(): Option[Long] = synchronized {
    val prefix = items.values.iterator
      .takeWhile(e => e.commitWalStart != 0L && e.count == e.totalMsgs)
      .toSeq
    if (prefix.isEmpty) None
    else {
      prefix.foreach { e =>
        items.remove(e.timeBasedKey)
        txnToTimeBasedKey.remove(e.transaction)
      }
      Some(prefix.last.commitWalStart)
    }
  }
}
