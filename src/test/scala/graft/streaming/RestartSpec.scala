package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Partitioner

/** Exactly-once across restarts: stop the query mid-stream, restart
  * from the checkpoint, and verify the file sink holds every record
  * exactly once — the Spark-native equivalent of the reference's
  * slot-LSN resume contract (SURVEY §7 "hard parts": ack offsets only
  * after batch commit).
  */
class RestartSpec extends AnyFunSuite {
  import TestSpark.spark

  test("checkpointed restart resumes from committed LSN without loss or dups") {
    val walDir = Files.createTempDirectory("graft_restart_wal").toString
    val outDir = Files.createTempDirectory("graft_restart_out").toString
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString

    def segment(name: String, txn: Int, rows: Range): Unit =
      Files.write(Paths.get(walDir, name),
        (Seq(s"BEGIN $txn") ++
          rows.map(i => s"table public.t: INSERT: id[integer]:$i") ++
          Seq(s"COMMIT $txn")).mkString("\n").getBytes("UTF-8"))

    segment("000000000000.wal", 100, 1 to 20)

    val cfg = CdcConfig(partitionMethod = Partitioner.TableName)
    def startQuery() = {
      val src = CdcPipeline.fromWalSource(spark, walDir, maxLinesPerTrigger = Some(7), flushAgeMillis = 0)
      CdcPipeline.transform(src, cfg)
        .where(org.apache.spark.sql.functions.col("json").isNotNull)
        .select("json")
        .writeStream.format("text")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
    }

    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()

    // more WAL arrives while the query is down
    segment("000000000022.wal", 101, 21 to 35)

    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val ids = spark.read.text(outDir).collect().map { r =>
      val m = """"id":\{"new":\{"v":"(\d+)"""".r.findFirstMatchIn(r.getString(0))
      m.get.group(1).toInt
    }.sorted.toSeq
    assert(ids == (1 to 35), s"expected 1..35 exactly once, got $ids")
  }
}
