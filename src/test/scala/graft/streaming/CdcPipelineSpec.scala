package graft.streaming

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Partitioner

class CdcPipelineSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private val cfg = CdcConfig(
    filterTables = Seq("public.passwords"),
    whitelist = false,
    partitionMethod = Partitioner.TableName)

  private val lines = Seq(
    "BEGIN 600",
    "table public.users: INSERT: id[integer]:1 name[text]:'ann'",
    "table public.passwords: INSERT: id[integer]:1 hash[text]:'x'",
    "table public.users: UPDATE: id[integer]:1 name[text]:'bob'",
    "COMMIT 600")

  test("batch transform: parse → filter → key → marshal in one plan") {
    val df = lines.toDF("line").withColumn("txn", lit("600"))
    val out = CdcPipeline.transform(df, cfg)
    val rows = out.select("operation", "table", "partitionKey", "json").collect()
    assert(rows.length == 4) // passwords dropped; BEGIN/COMMIT retained
    val ops = rows.map(_.getString(0)).toSeq
    assert(ops.count(_ == "INSERT") == 1 && ops.count(_ == "UPDATE") == 1)
    assert(rows.filter(r => r.getString(0) == "INSERT").forall(_.getString(2) == "public.users"))
    // BEGIN/COMMIT marshal to null json
    assert(rows.filter(r => r.getString(0) == "BEGIN").forall(_.isNullAt(3)))
    val insertJson = rows.find(_.getString(0) == "INSERT").get.getString(3)
    assert(insertJson.contains(""""table":"public.users""""))
    assert(insertJson.contains(""""name":{"new":{"v":"ann","t":"text","q":"true"}"""))
  }

  test("streaming micro-batches produce the same records as batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val streamDf = mem.toDF().withColumnRenamed("value", "line")
    val q = CdcPipeline.transform(streamDf, cfg)
      .writeStream.format("memory").queryName("cdc_test")
      .outputMode("append").start()
    try {
      mem.addData(lines.take(2): _*)
      q.processAllAvailable()
      mem.addData(lines.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("cdc_test").select("operation", "json").collect()
      assert(got.length == 4)
      val batch = CdcPipeline.transform(lines.toDF("line"), cfg)
        .select("operation", "json").collect()
      assert(got.map(r => (r.getString(0), r.getString(1))).toSet ==
        batch.map(r => (r.getString(0), r.getString(1))).toSet)
    } finally q.stop()
  }

  test("gzip file sink writes date-partitioned NDJSON") {
    val dir = java.nio.file.Files.createTempDirectory("graft_s3").toString
    val df = CdcPipeline.transform(lines.toDF("line"), cfg)
    CdcPipeline.withDateColumns(df)
      .where(col("json").isNotNull)
      .select("json", "year", "month", "day", "hour")
      .write.partitionBy("year", "month", "day", "hour")
      .option("compression", "gzip")
      .mode("overwrite").text(dir)
    val files = new java.io.File(dir).listFiles()
    assert(files.exists(_.getName.startsWith("year=")))
    val back = spark.read.text(dir)
    assert(back.count() == 2)
  }

  /** A spool of `txns` transactions over 5 tables, one segment; the
    * lines, and the walStarts of the DML lines among them.
    */
  private def spool(txns: Int): (String, Seq[String], Seq[Long]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_spool").toString
    val wal = (1 to txns).flatMap { x =>
      Seq(s"BEGIN $x") ++
        (0 until 3).map(j => s"table public.t${(x + j) % 5}: INSERT: id[integer]:$x v[text]:'$j'") ++
        Seq(s"COMMIT $x")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, graft.sources.WalSource.segmentName(0)),
      wal.mkString("", "\n", "\n").getBytes("UTF-8"))
    (dir, wal, wal.indices.filter(i => wal(i).startsWith("table ")).map(_ + 1L))
  }

  test("gzip sink: one part file per source slice, each a contiguous WAL run, together the one-slice output") {
    val (dir, wal, dml) = spool(40)
    val out = java.nio.file.Files.createTempDirectory("graft_cdc_parts").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_parts_ckpt").toString
    val cdc = CdcConfig(partitionMethod = Partitioner.TableName)
    // one batch: the first poll admits every pending line
    val src = CdcPipeline.fromWalSource(spark, dir, maxLinesPerTrigger = Some(10000))
    val q = CdcPipeline.toGzipFiles(CdcPipeline.transform(src, cdc).where(col("json").isNotNull),
      out, ckpt, cdc).start()
    try q.processAllAvailable() finally q.stop()

    def lsn(json: String): Long = {
      val Array(hi, lo) = mapper.readTree(json).get("lsn").asText().split("/")
      (java.lang.Long.parseLong(hi, 16) << 32) | java.lang.Long.parseLong(lo, 16)
    }
    val parts = java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".gz"))
      .map { p =>
        val in = new java.util.zip.GZIPInputStream(java.nio.file.Files.newInputStream(p))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
      }.toSeq
    assert(parts.length == spark.sparkContext.defaultParallelism && parts.length > 1,
      s"${parts.length} part files")
    // each part holds a contiguous run of the WAL, in order
    for (part <- parts) {
      val starts = part.map(lsn)
      assert(starts == dml.filter(w => w >= starts.head && w <= starts.last), starts)
    }
    // together they are the one-slice output: the batch transform of
    // the same lines under the source's own stamps
    val stamp = new graft.sources.TxnStamp("", "", 0L)
    val single = wal.zipWithIndex.map { case (l, i) =>
      stamp.advance(l.getBytes("UTF-8"))
      (l, i + 1L, i + 1L, 0L, stamp.txn.toString, stamp.tbk.toString)
    }.toDF("line", "walStart", "serverWalEnd", "serverTimeMs", "txn", "timeBasedKey")
    val expected = CdcPipeline.transform(single, cdc).where(col("json").isNotNull)
      .select("json").as[String].collect().toSeq
    assert(parts.flatten.sortBy(lsn) == expected.sortBy(lsn))
  }

  test("toTransport with one worker delivers from task partition 0 only, in WAL order") {
    val (dir, _, dml) = spool(60)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_one_worker_ckpt").toString
    val cdc = CdcConfig(partitionMethod = Partitioner.TableName)
    val src = CdcPipeline.fromWalSource(spark, dir, maxLinesPerTrigger = Some(100),
      flushAgeMillis = 0)
    val q = CdcPipeline.toTransport(CdcPipeline.transform(src, cdc).where(col("json").isNotNull),
      BatchCaps(50, Long.MaxValue, Long.MaxValue), () => DeliverySpec.open("one-worker"), cdc)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val got = DeliverySpec.delivered("one-worker")
    assert(got.map(_._1).distinct == Seq(0))
    assert(got.map(_._2.walStart) == dml)
  }

  test("a committed batch is acked at the next poll, not a trigger interval later") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import graft.sources.{WalOffset, WalSource}
    val dir = java.nio.file.Files.createTempDirectory("graft_ack_prompt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ack_prompt_ckpt").toString
    def segment(start: Int, txn: Int): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, WalSource.segmentName(start)),
        (Seq(s"BEGIN $txn", s"table public.users: INSERT: id[integer]:$txn", s"COMMIT $txn")
          .mkString("", "\n", "\n")).getBytes("UTF-8"))
    segment(0, 1)

    // wall-clock ms: ack times from the hook, batch ends (start +
    // triggerExecution) and end lines from the progress events
    val acks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    WalSource.ackHooks.put(dir, lsn => acks.add((lsn, System.currentTimeMillis())))
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) ends.add((WalOffset.fromJson(p.sources.head.endOffset).lsn,
          java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")))
      }
    }
    spark.streams.addListener(listener)
    val cdc = CdcConfig()
    val src = CdcPipeline.fromWalSource(spark, dir, maxLinesPerTrigger = Some(10000))
    val q = CdcPipeline.toTransport(CdcPipeline.transform(src, cdc).where(col("json").isNotNull),
      BatchCaps.kinesis, () => new InMemoryTransport(), cdc)
      .option("checkpointLocation", ckpt).start()
    def ackedAt(lsn: Long): Option[Long] = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!acks.asScala.exists(_._1 >= lsn) && System.nanoTime() < deadline) Thread.sleep(5)
      acks.asScala.find(_._1 >= lsn).map(_._2)
    }
    try {
      // the first batch warms the plan; the second is timed
      assert(ackedAt(3L).nonEmpty)
      segment(3, 2)
      val acked = ackedAt(6L)
      assert(acked.nonEmpty, s"line 6 never acked: ${acks.asScala}")
      // progress events reach listeners asynchronously
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!ends.asScala.exists(_._1 == 6L) && System.nanoTime() < deadline) Thread.sleep(5)
      val end = ends.asScala.collectFirst { case (6L, t) => t }
      assert(end.nonEmpty, s"no progress event ends at line 6: ${ends.asScala}")
      // a poll acks within milliseconds; a trigger-bound ack comes a
      // whole interval (1 s) later. The bound leaves room for GC pauses
      // and a loaded host between those two.
      val lag = acked.get - end.get
      assert(lag <= 500L, s"acked $lag ms after its batch ended")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
      WalSource.ackHooks.remove(dir)
    }
  }
}
