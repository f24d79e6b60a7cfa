package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Partitioner, Router}
import graft.sources.WalSource

/** Transports a streaming sink's tasks opened, per test name, in open
  * order (a batch's tasks all open before the next batch's), each with
  * the task partition that wrote through it.
  */
object DeliverySpec {
  private val opened = new ConcurrentHashMap[String, ConcurrentLinkedQueue[(Int, InMemoryTransport)]]()

  def open(test: String): RecordTransport = {
    val t = new InMemoryTransport()
    opened.computeIfAbsent(test, _ => new ConcurrentLinkedQueue()).add((TaskContext.getPartitionId(), t))
    t
  }

  /** (task partition, record) in the order each transport received them. */
  def delivered(test: String): Seq[(Int, SinkRecord)] =
    Option(opened.get(test)).toSeq.flatMap(_.asScala).flatMap { case (p, t) =>
      t.sent.flatten.map(p -> _)
    }
}

/** End-to-end delivery semantics across routing + sink chunking — the
  * reference's multi-worker ordering itests
  * (PARTITION_METHOD=transaction-bucket + BATCHER_ROUTING_METHOD=
  * partition): with key-affinity routing, every record of a key lands
  * on one worker, and that worker sends them in WAL order. Kafka key modes are also pinned (kafka/batch/batch.go:83-104).
  */
class DeliverySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark.spark
  import spark.implicits._

  test("key-affinity routing + chunked sink preserves per-key WAL order (multi-worker itest)") {
    // the production path: a spool the source plans into several
    // slices per batch, transform with 4 workers and key-affinity
    // routing, then the REAL chunked-sink machinery. A shuffle promises
    // no order among its map outputs and a streaming frame cannot be
    // sorted, so per-key WAL order rests on transform coalescing the
    // slices into one ordered map task ahead of the worker exchange.
    // (Like the reference's ordering itest, this runs without sink
    // errors: a partial-failure resend re-delivers later by design in
    // both systems.)
    val dir = java.nio.file.Files.createTempDirectory("graft_delivery").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_delivery_ckpt").toString
    val rnd = new scala.util.Random(7)
    val lines = (1 to 400).flatMap { x =>
      Seq(s"BEGIN $x") ++
        Seq.fill(1 + rnd.nextInt(4))(s"table public.t${rnd.nextInt(7)}: INSERT: id[integer]:$x") ++
        Seq(s"COMMIT $x")
    }
    lines.grouped(500).zipWithIndex.foreach { case (seg, i) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, WalSource.segmentName(i * 500L)),
        seg.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val dml = lines.indices.filter(i => lines(i).startsWith("table ")).map(_ + 1L)

    val cfg = CdcConfig(partitionMethod = Partitioner.TableName, workers = 4,
      routing = Router.Partition())
    val src = CdcPipeline.fromWalSource(spark, dir, maxLinesPerTrigger = Some(500),
      flushAgeMillis = 0)
    val q = CdcPipeline.toTransport(CdcPipeline.transform(src, cfg).where(col("json").isNotNull),
      BatchCaps(100, Long.MaxValue, Long.MaxValue), () => DeliverySpec.open("affinity"), cfg)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      val scans = collect(plan) { case s: MicroBatchScanExec => s.inputPartitions.length }
      assert(scans == Seq(spark.sparkContext.defaultParallelism) && scans.head > 1,
        s"the source planned $scans slices: $plan")
    } finally q.stop()

    val got = DeliverySpec.delivered("affinity")
    assert(got.map(_._2.walStart).sorted == dml, "every record delivered exactly once")
    // per key: the transport's arrival order is WAL order (chunking and
    // the retry resend never reorder), and one worker sends it all
    got.groupBy(_._2.partitionKey).foreach { case (key, rows) =>
      val order = rows.map(_._2.walStart)
      assert(order == order.sorted, s"$key: arrival order != WAL order: ${order.take(10)}")
      assert(rows.map(_._1).distinct.size == 1, s"$key: sent by workers ${rows.map(_._1).distinct}")
    }
    assert(got.map(_._1).distinct.size > 1, "routing spread the keys over several workers")
  }

  test("kafka key modes produce the reference's partition keys") {
    val df = Seq(("public.users", "42", "42-123", """{"x":1}"""))
      .toDF("table", "txn", "timeBasedKey", "json")
    def key(m: KafkaKeyMode): String =
      df.select(KafkaKeyMode.keyExpr(m).cast("string").as("k")).head.getString(0)
    assert(key(KafkaKeyMode.TxnTimeBased) == "42-123")
    assert(key(KafkaKeyMode.Transaction) == "42")
    assert(key(KafkaKeyMode.TableName) == "public.users")
    val r1 = key(KafkaKeyMode.Random)
    assert(r1.matches("[0-9a-f-]{36}"))
  }

  test("kafka writer contract: projection and options land in the plan, per key mode") {
    // O14's full DataStreamWriter contract, asserted WITHOUT the
    // connector jar: kafkaSinkPlan is exactly what toKafka hands the
    // kafka-format writer — (key, value) string projection + the
    // topic/bootstrap/checkpoint/record-cap options
    // (reference kafka/config.go:43-64)
    val df = Seq(
      ("public.users", "42", "42-123", """{"op":"INSERT"}"""),
      ("public.posts", "43", "43-9", """{"op":"DELETE"}"""))
      .toDF("table", "txn", "timeBasedKey", "json")

    val plan = CdcPipeline.kafkaSinkPlan(df, "b1:9092,b2:9092", "wal_topic",
      KafkaKeyMode.TxnTimeBased, "/tmp/ckpt", workers = 1)
    assert(plan.options("kafka.bootstrap.servers") == "b1:9092,b2:9092")
    assert(plan.options("topic") == "wal_topic")
    assert(plan.options("checkpointLocation") == "/tmp/ckpt")
    // reference per-record cap: 1 MB (kafka/config.go KafkaMaxMessageBytes)
    assert(plan.options("kafka.max.request.size") == "1000000")
    assert(plan.projected.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq ==
      Seq("key" -> "string", "value" -> "string"))
    // one worker produces from one task, in WAL order; more workers
    // keep transform's routed partitions
    assert(plan.projected.rdd.getNumPartitions == 1)
    val routed = df.repartition(3)
    assert(CdcPipeline.kafkaSinkPlan(routed, "b", "t", KafkaKeyMode.TableName, "c", workers = 3)
      .projected.rdd.getNumPartitions == 3)

    def keys(m: KafkaKeyMode): Seq[String] =
      CdcPipeline.kafkaSinkPlan(df, "b", "t", m, "c", workers = 1)
        .projected.select("key").as[String].collect().toSeq.sorted
    assert(keys(KafkaKeyMode.TxnTimeBased) == Seq("42-123", "43-9"))
    assert(keys(KafkaKeyMode.Transaction) == Seq("42", "43"))
    assert(keys(KafkaKeyMode.TableName) == Seq("public.posts", "public.users"))
    assert(keys(KafkaKeyMode.Random).forall(_.matches("[0-9a-f-]{36}")))
    // values are the marshalled json, untouched, for every mode
    assert(CdcPipeline.kafkaSinkPlan(df, "b", "t", KafkaKeyMode.TableName, "c", workers = 1)
      .projected.select("value").as[String].collect().toSet ==
      Set("""{"op":"INSERT"}""", """{"op":"DELETE"}"""))
  }
}
