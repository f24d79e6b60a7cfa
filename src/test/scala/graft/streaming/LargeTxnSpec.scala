package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Batcher, Partitioner}
import graft.sources.WalSource

/** The reference's scale itests, Spark-shaped:
  *
  *  - `test_large_txn`: one 50 000-row transaction delivered completely
  *    and exactly once (EXPECTED_COUNT=50000 within a 180 s window —
  *    itests/tests/base/test_large_txn/envfile.env); here through the
  *    DSv2 source with admission control, plus per-txn Seen accounting.
  *  - `test_small_queue`: CLIENT_BUFFER_SIZE=1 — the degenerate
  *    admission bound (one line per trigger) must still deliver
  *    in-order, stamped, exactly once.
  */
class LargeTxnSpec extends AnyFunSuite {
  import TestSpark.spark

  test("one 50k-row transaction: complete, exactly-once, correctly counted (test_large_txn)") {
    val walDir = Files.createTempDirectory("graft_large_wal").toString
    val n = 50000
    val lines = new StringBuilder
    lines.append("BEGIN 900\n")
    (1 to n).foreach(i => lines.append(
      s"table public.big: INSERT: id[integer]:$i payload[text]:'row $i'\n"))
    lines.append("COMMIT 900")
    Files.write(Paths.get(walDir, "000000000000.wal"), lines.toString.getBytes("UTF-8"))

    val t0 = System.nanoTime()
    val src = CdcPipeline.fromWalSource(spark, walDir, maxLinesPerTrigger = Some(20000), flushAgeMillis = 0)
    val out = CdcPipeline.transform(src, CdcConfig(partitionMethod = Partitioner.Transaction))
    val q = out.writeStream.format("memory").queryName("large_txn")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val rows = spark.table("large_txn")
      assert(rows.count() == n + 2L) // DMLs + BEGIN + COMMIT rows
      // exactly once, all stamped with the single enclosing txn
      import org.apache.spark.sql.functions._
      val seen = Batcher.seenCounts(rows).collect()
      assert(seen.length == 1)
      val s = seen.head
      assert(s.getAs[String]("txn") == "900" && s.getAs[Long]("totalMsgs") == n.toLong)
      val ids = rows.where(col("operation") === "INSERT")
        .select(get_json_object(col("json"), "$.columns.id.new.v").cast("int"))
        .distinct().count()
      assert(ids == n.toLong)
      // the reference's envelope is 50k rows within 180 s end-to-end
      // (docker + localstack); local[4] through the full pipeline
      // should be far inside it
      assert(secs < 180, s"50k-row txn took $secs s")
    } finally q.stop()
  }

  test("client-buffer-size=1 analog: one line per trigger still delivers in order (test_small_queue)") {
    val walDir = Files.createTempDirectory("graft_tiny_wal").toString
    Files.write(Paths.get(walDir, "000000000000.wal"),
      (Seq("BEGIN 910") ++
        (1 to 5).map(i => s"table public.q: INSERT: id[integer]:$i") ++
        Seq("COMMIT 910")).mkString("\n").getBytes("UTF-8"))

    val acks = scala.collection.mutable.ArrayBuffer[Long]()
    WalSource.ackHooks.put(walDir, lsn => acks.synchronized { acks += lsn })
    val src = CdcPipeline.fromWalSource(spark, walDir, maxLinesPerTrigger = Some(1))
    val out = CdcPipeline.transform(src, CdcConfig(partitionMethod = Partitioner.Transaction))
    val q = out.writeStream.format("memory").queryName("tiny_queue")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      import org.apache.spark.sql.functions._
      val rows = spark.table("tiny_queue").orderBy("walStart")
        .select("operation", "txn", "walStart").collect()
      assert(rows.length == 7)
      assert(rows.map(_.getLong(2)).toSeq == (1L to 7L), "one line per micro-batch, in order")
      assert(rows.forall(_.getString(1) == "910"), "stamping survives 1-line batches")
      val a = acks.synchronized(acks.toSeq)
      assert(a == a.sorted && a.nonEmpty, "acks advance monotonically")
    } finally {
      q.stop()
      WalSource.ackHooks.remove(walDir)
    }
  }
}
