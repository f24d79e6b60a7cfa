package graft.operators

import java.util.zip.CRC32

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.GraftFunctions

class OperatorsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def records = Seq(
    ("BEGIN", "", "1"),
    ("INSERT", "public.customers", "1"),
    ("INSERT", "public.passwords", "1"),
    ("UPDATE", "public.inventory", "1"),
    ("COMMIT", "", "1"))
    .toDF("operation", "relation", "txn")

  test("whitelist filter: exact names, BEGIN/COMMIT passthrough") {
    val out = TableFilter(Seq("public.customers", "public.inventory"))(records)
      .select("operation").as[String].collect().toSet
    assert(out == Set("BEGIN", "INSERT", "UPDATE", "COMMIT"))
    val rels = TableFilter(Seq("public.customers", "public.inventory"))(records)
      .select("relation").as[String].collect().toSet
    assert(!rels.contains("public.passwords"))
  }

  test("blacklist filter drops listed; empty blacklist passes all") {
    val out = TableFilter(Seq("public.passwords"), whitelist = false)(records)
    assert(out.count() == 4)
    assert(TableFilter(Nil, whitelist = false)(records).count() == 5)
    // empty whitelist passes only txn markers
    assert(TableFilter(Nil, whitelist = true)(records).count() == 2)
  }

  test("regex filter is partial-match like the reference's MatchString") {
    val out = TableFilter(Seq("pass"), whitelist = false, regex = true)(records)
    assert(out.count() == 4)
    val wl = TableFilter(Seq("^public\\.(customers|inventory)$"), regex = true)(records)
    assert(wl.count() == 4)
  }

  test("partitioner methods; crc32 bucket matches java.util.zip.CRC32") {
    val df = Seq(("public.t", "12345")).toDF("relation", "txn")
    def key(m: Partitioner.Method): String =
      Partitioner(m)(df).select("partitionKey").as[String].head()
    assert(key(Partitioner.NoKey) == "")
    assert(key(Partitioner.TableName) == "public.t")
    assert(key(Partitioner.Transaction) == "12345")

    val c = new CRC32(); c.update("12345".getBytes("UTF-8"))
    val expected = (c.getValue % 16).toString
    assert(key(Partitioner.TransactionBucket(16)) == expected)
  }

  test("router partition mode: one worker per partition key, stable crc32 placement") {
    val df = (1 to 1000).map(i => (s"key${i % 7}", i)).toDF("partitionKey", "v")
    val routed = Router.route(df, 4, Router.Partition)
    val placement = routed.select("partitionKey", "workerId").distinct().collect()
    assert(placement.length == 7) // exactly one workerId per key
    placement.foreach { r =>
      val c = new CRC32(); c.update(r.getString(0).getBytes("UTF-8"))
      assert(r.getInt(1) == (c.getValue % 4).toInt)
    }
    // physical co-location: every key sits in exactly one task partition
    val parts = routed.withColumn("pid", spark_partition_id())
      .select("partitionKey", "pid").distinct()
    assert(parts.count() == 7)
  }

  test("batcher chunk ids pack maxRecords per key in order") {
    val df = (1 to 1203).map(i => ("k", i)).toDF("partitionKey", "ord")
    val chunked = Batcher.withChunkIds(df, col("partitionKey"), col("ord"), 500)
    val sizes = chunked.groupBy("chunkId").count().orderBy("chunkId")
      .as[(Long, Long)].collect().toSeq
    assert(sizes == Seq((0L, 500L), (1L, 500L), (2L, 203L)))
  }

  test("seen counts exclude txn markers and pick up COMMIT lsn") {
    val df = Seq(
      ("BEGIN", "7", "7-0", 10L),
      ("INSERT", "7", "7-0", 11L),
      ("INSERT", "7", "7-0", 12L),
      ("COMMIT", "7", "7-0", 13L),
      ("BEGIN", "8", "8-0", 14L),
      ("INSERT", "8", "8-0", 15L))
      .toDF("operation", "txn", "timeBasedKey", "walStart")
      .withColumnRenamed("txn", "txn")
    val seen = Batcher.seenCounts(df).orderBy("txn")
      .select("txn", "totalMsgs", "commitWalStart")
      .as[(String, Long, Long)].collect().toSeq
    assert(seen == Seq(("7", 2L, 13L), ("8", 1L, 0L)))
  }
}
