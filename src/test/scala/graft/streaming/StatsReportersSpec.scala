package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.StatsAggregator

class StatsReportersSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("dogstatsd lines: count -> |c, histogram -> gauge + _avg/_max/_min sub-stats") {
    val stats = Seq(
      ("batcher", "count", "batches", "n", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:10")),
      ("batcher", "count", "batches", "n", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:20")),
      ("sink", "histogram", "latency", "ms", 10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:05")),
      ("sink", "histogram", "latency", "ms", 30L, java.sql.Timestamp.valueOf("2024-01-01 00:00:15")),
      ("sink", "histogram", "latency", "ms", 20L, java.sql.Timestamp.valueOf("2024-01-01 00:00:25")))
      .toDF("component", "statType", "statName", "unit", "value", "ts")

    val agg = StatsAggregator.aggregate(stats)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    StatsReporters.reportStatsd(lines += _)(agg, 0L)

    assert(lines.contains("bifrost.batcher.batches.n:2|c"))
    assert(lines.contains("bifrost.sink.latency.ms:60|g"), "histogram main value = window sum")
    assert(lines.contains("bifrost.sink.latency_avg.ms:20|g"))
    assert(lines.contains("bifrost.sink.latency_max.ms:30|g"))
    assert(lines.contains("bifrost.sink.latency_min.ms:10|g"))
    // count stats do not multiplex sub-stats
    assert(!lines.exists(_.contains("batches_avg")))
  }

  test("signal registration delivers the dump on raise") {
    val fired = new java.util.concurrent.CountDownLatch(1)
    val ok = StatsReporters.registerSignalDump("IO")(() => fired.countDown())
    assume(ok, "SIGIO not available on this platform/JVM")
    sun.misc.Signal.raise(new sun.misc.Signal("IO"))
    assert(fired.await(5, java.util.concurrent.TimeUnit.SECONDS))
  }
}
