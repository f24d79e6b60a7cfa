package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Partitioner

/** End-to-end parity with the reference's base integration test
  * (itests/tests/base/test_basic): replay the `test_decoding` lines
  * Postgres emits for its input SQL through the FULL pipeline
  * (source-shaped metadata → parse → filter → key → marshal) and diff
  * against the golden JSONL under the itest comparison rule —
  * key-order-insensitive, `lsn/time/time_ms/txn` stripped
  * (reference itests/common.bash:216-255).
  *
  * The golden file is read from the read-only reference checkout when
  * present; the expected records are also inlined so the test is
  * self-contained if the reference is absent.
  */
class GoldenParitySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()

  /** The wire lines for test_basic/input/001.sql under REPLICA
    * IDENTITY default (customers) and FULL (products).
    */
  private val walLines = Seq(
    "BEGIN 500",
    "table public.customers: INSERT: id[integer]:1 first_name[text]:'Hello' last_name[text]:'World'",
    "COMMIT 500",
    "BEGIN 501",
    "table public.customers: INSERT: id[integer]:2 first_name[text]:'Goodbye' last_name[text]:'World'",
    "COMMIT 501",
    "BEGIN 502",
    "table public.customers: UPDATE: id[integer]:1 first_name[text]:'Hello' last_name[text]:'Friends'",
    "COMMIT 502",
    "BEGIN 503",
    "table public.customers: DELETE: id[integer]:2",
    "COMMIT 503",
    "BEGIN 504",
    "table public.products: INSERT: id[integer]:1 name[text]:'widget 1' sku[integer]:null",
    "COMMIT 504",
    "BEGIN 505",
    "table public.products: UPDATE: old-key: id[integer]:1 name[text]:'widget 1' sku[integer]:null new-tuple: id[integer]:1 name[text]:'widget 1' sku[integer]:42",
    "COMMIT 505",
    "BEGIN 506",
    "table public.products: UPDATE: old-key: id[integer]:1 name[text]:'widget 1' sku[integer]:42 new-tuple: id[integer]:1 name[text]:'widget 1' sku[integer]:null",
    "COMMIT 506")

  private val inlineGolden = Seq(
    """{"table":"public.customers","operation":"INSERT","columns":{"first_name":{"new":{"q":"true","t":"text","v":"Hello"}},"id":{"new":{"q":"false","t":"integer","v":"1"}},"last_name":{"new":{"q":"true","t":"text","v":"World"}}}}""",
    """{"table":"public.customers","operation":"INSERT","columns":{"first_name":{"new":{"q":"true","t":"text","v":"Goodbye"}},"id":{"new":{"q":"false","t":"integer","v":"2"}},"last_name":{"new":{"q":"true","t":"text","v":"World"}}}}""",
    """{"table":"public.customers","operation":"UPDATE","columns":{"first_name":{"new":{"q":"true","t":"text","v":"Hello"},"old":{"q":"false","t":"text","v":"null"}},"id":{"new":{"q":"false","t":"integer","v":"1"},"old":{"q":"false","t":"integer","v":"null"}},"last_name":{"new":{"q":"true","t":"text","v":"Friends"},"old":{"q":"false","t":"text","v":"null"}}}}""",
    """{"table":"public.customers","operation":"DELETE","columns":{"id":{"old":{"q":"false","t":"integer","v":"2"}}}}""",
    """{"table":"public.products","operation":"INSERT","columns":{"id":{"new":{"q":"false","t":"integer","v":"1"}},"name":{"new":{"q":"true","t":"text","v":"widget 1"}},"sku":{"new":{"q":"false","t":"integer","v":"null"}}}}""",
    """{"table":"public.products","operation":"UPDATE","columns":{"id":{"new":{"q":"false","t":"integer","v":"1"}},"name":{"new":{"q":"true","t":"text","v":"widget 1"}},"sku":{"new":{"q":"false","t":"integer","v":"42"},"old":{"q":"false","t":"integer","v":"null"}}}}""",
    """{"table":"public.products","operation":"UPDATE","columns":{"id":{"new":{"q":"false","t":"integer","v":"1"}},"name":{"new":{"q":"true","t":"text","v":"widget 1"}},"sku":{"new":{"q":"false","t":"integer","v":"null"},"old":{"q":"false","t":"integer","v":"42"}}}}""")

  private def canon(json: String): com.fasterxml.jackson.databind.JsonNode = {
    val n = mapper.readTree(json).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    n.remove("lsn"); n.remove("time"); n.remove("time_ms"); n.remove("txn")
    n
  }

  test("full pipeline reproduces the reference test_basic golden output") {
    val goldenFile = new java.io.File("/root/reference/itests/tests/base/test_basic/golden/test.0")
    val golden =
      if (goldenFile.canRead)
        scala.io.Source.fromFile(goldenFile, "UTF-8").getLines().filter(_.nonEmpty).toSeq
      else inlineGolden
    // the inline copy must itself match the reference golden when present
    assert(golden.map(canon) == inlineGolden.map(canon))

    // replay through the WAL source + full transform, like E2E streaming
    val dir = java.nio.file.Files.createTempDirectory("graft_golden").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "000000000000.wal"),
      walLines.mkString("\n").getBytes("UTF-8"))
    val src = CdcPipeline.fromWalSource(spark, dir, maxLinesPerTrigger = Some(5), flushAgeMillis = 0)
    val out = CdcPipeline.transform(src, CdcConfig(partitionMethod = Partitioner.TableName))
    val q = out.writeStream.format("memory").queryName("golden_parity")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val produced = spark.table("golden_parity")
        .where($"json".isNotNull)
        .orderBy("walStart")
        .select("json").as[String].collect().toSeq
      assert(produced.length == golden.length)
      produced.zip(golden).foreach { case (got, want) =>
        assert(canon(got) == canon(want), s"\n got: $got\nwant: $want")
      }
    } finally q.stop()
  }

  private def runPipeline(lines: Seq[String], cfg: CdcConfig): Seq[String] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_golden2").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "000000000000.wal"),
      lines.mkString("\n").getBytes("UTF-8"))
    val out = CdcPipeline.transform(CdcPipeline.fromWalSource(spark, dir), cfg)
    val q = out.writeStream.format("memory")
      .queryName("golden_extra").outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.table("golden_extra").where($"json".isNotNull)
        .orderBy("walStart").select("json").as[String].collect().toSeq
    } finally q.stop()
  }

  test("TRUNCATE marshals with empty columns (test_truncate golden)") {
    val produced = runPipeline(Seq(
      "BEGIN 600",
      "table public.customers: INSERT: id[integer]:1 first_name[text]:'Hello' last_name[text]:'World'",
      "COMMIT 600",
      "BEGIN 601",
      "table public.customers: TRUNCATE: (no-flags)",
      "COMMIT 601",
      "BEGIN 602",
      "table public.customers, public.orders: TRUNCATE: cascade",
      "COMMIT 602"), CdcConfig())
    val golden = Seq(
      """{"table":"public.customers","operation":"INSERT","columns":{"first_name":{"new":{"q":"true","t":"text","v":"Hello"}},"id":{"new":{"q":"false","t":"integer","v":"1"}},"last_name":{"new":{"q":"true","t":"text","v":"World"}}}}""",
      """{"table":"public.customers","operation":"TRUNCATE","columns":{}}""",
      """{"table":"public.customers, public.orders","operation":"TRUNCATE","columns":{}}""")
    val ref = new java.io.File("/root/reference/itests/tests/base/test_truncate/golden/test.0")
    val want = if (ref.canRead)
      scala.io.Source.fromFile(ref, "UTF-8").getLines().filter(_.nonEmpty).toSeq
    else golden
    assert(want.map(canon) == golden.map(canon))
    assert(produced.length == want.length)
    produced.zip(want).foreach { case (g, w) => assert(canon(g) == canon(w), s"\n got: $g\nwant: $w") }
  }

  test("whitelist golden (test_whitelist): only listed tables delivered") {
    val produced = runPipeline(Seq(
      "BEGIN 610",
      "table public.customers: INSERT: id[integer]:1 first_name[text]:'Hello' last_name[text]:'World'",
      "table public.passwords: INSERT: id[integer]:1 secret[text]:'shh'",
      "table public.inventory: INSERT: id[integer]:1 name[text]:'Thingy'",
      "COMMIT 610"),
      CdcConfig(filterTables = Seq("public.customers", "public.inventory"), whitelist = true))
    val golden = Seq(
      """{"table":"public.customers","operation":"INSERT","columns":{"first_name":{"new":{"q":"true","t":"text","v":"Hello"}},"id":{"new":{"q":"false","t":"integer","v":"1"}},"last_name":{"new":{"q":"true","t":"text","v":"World"}}}}""",
      """{"table":"public.inventory","operation":"INSERT","columns":{"id":{"new":{"q":"false","t":"integer","v":"1"}},"name":{"new":{"q":"true","t":"text","v":"Thingy"}}}}""")
    val ref = new java.io.File("/root/reference/itests/tests/base/test_whitelist/golden/test.0")
    val want = if (ref.canRead)
      scala.io.Source.fromFile(ref, "UTF-8").getLines().filter(_.nonEmpty).toSeq
    else golden
    assert(want.map(canon) == golden.map(canon))
    assert(produced.length == want.length)
    produced.zip(want).foreach { case (g, w) => assert(canon(g) == canon(w)) }
  }

  /** Single-quoted literals of a reference itest input SQL, in order. */
  private def sqlLiterals(test: String): Seq[String] = {
    val f = new java.io.File(s"/root/reference/itests/tests/base/$test/input/001.sql")
    assume(f.canRead, s"reference checkout not present: $f")
    val sql = scala.io.Source.fromFile(f, "UTF-8").mkString
    "'([^']*)'".r.findAllMatchIn(sql).map(_.group(1)).toSeq
  }

  private def refGolden(test: String): Seq[String] = {
    val f = new java.io.File(s"/root/reference/itests/tests/base/$test/golden/test.0")
    assume(f.canRead, s"reference checkout not present: $f")
    scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty).toSeq
  }

  /** The wire lines Postgres emits for the TOAST itest inputs: an
    * unchanged toasted column appears as `unchanged-toast-datum` in the
    * new tuple; after `REPLICA IDENTITY FULL` the old-key carries the
    * real value, enabling the marshaller's substitution.
    */
  private def toastWal(lits: Seq[String], withValueRewrite: Boolean): Seq[String] = {
    val small = lits(0); val big1 = lits(1); val big2 = lits(2)
    def ins(txn: Int, id: Int, v: String) = Seq(s"BEGIN $txn",
      s"table public.toast_test: INSERT: id[integer]:$id value[text]:'$v' ivalue[integer]:1",
      s"COMMIT $txn")
    def upd(txn: Int, body: String) =
      Seq(s"BEGIN $txn", s"table public.toast_test: UPDATE: $body", s"COMMIT $txn")
    val base =
      ins(700, 1, small) ++ ins(701, 2, big1) ++
      upd(702, s"id[integer]:1 value[text]:'$small' ivalue[integer]:2") ++
      upd(703, "id[integer]:2 value[text]:unchanged-toast-datum ivalue[integer]:2") ++
      ins(704, 3, big2) ++
      upd(705, s"old-key: id[integer]:3 value[text]:'$big2' ivalue[integer]:1 " +
        s"new-tuple: id[integer]:3 value[text]:unchanged-toast-datum ivalue[integer]:2")
    if (withValueRewrite)
      base ++ upd(706, s"old-key: id[integer]:3 value[text]:'$big2' ivalue[integer]:2 " +
        s"new-tuple: id[integer]:3 value[text]:'${lits(3)}' ivalue[integer]:2")
    else base
  }

  test("TOAST golden (test_toasted, itest-default no-marshal-old): sentinel kept without old, substituted with old") {
    val produced = runPipeline(toastWal(sqlLiterals("test_toasted"), withValueRewrite = true),
      CdcConfig(noMarshalOldValue = true)) // itests/containers/defaults.env:13
    val want = refGolden("test_toasted")
    assert(produced.length == want.length)
    produced.zip(want).foreach { case (g, w) => assert(canon(g) == canon(w), s"\n got: $g\nwant: $w") }
  }

  test("TOAST golden (test_toasted_withold): old sides kept, null-injection, toast substitution with old") {
    val produced = runPipeline(toastWal(sqlLiterals("test_toasted_withold"), withValueRewrite = false),
      CdcConfig(noMarshalOldValue = false))
    val want = refGolden("test_toasted_withold")
    assert(produced.length == want.length)
    produced.zip(want).foreach { case (g, w) => assert(canon(g) == canon(w), s"\n got: $g\nwant: $w") }
  }

  test("blacklist golden (test_blacklist): listed table dropped") {
    val produced = runPipeline(Seq(
      "BEGIN 620",
      "table public.customers: INSERT: id[integer]:1 first_name[text]:'Hello' last_name[text]:'World'",
      "table public.passwords: INSERT: id[integer]:1 secret[text]:'shh'",
      "table public.inventory: INSERT: id[integer]:1 name[text]:'Thingy'",
      "COMMIT 620"),
      CdcConfig(filterTables = Seq("public.passwords"), whitelist = false))
    assert(produced.length == 2)
    assert(!produced.exists(_.contains("passwords")))
  }
}
