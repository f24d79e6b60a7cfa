package graft.operators

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.fixtures.CdcFixture
import graft.functions.GraftFunctions
import graft.sources.TxnStamp

/** End-to-end parse→stamp→marshal against the reference's golden
  * outputs (itests/tests/base/test_basic/golden/test.0 shape), compared
  * key-order-insensitively with `lsn/time/time_ms/txn` stripped —
  * exactly the itests comparison rule (reference itests/common.bash:232-238).
  */
class MarshallerSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def marshal(lines: Seq[String], noMarshalOld: Boolean = false): Seq[String] = {
    // stamped in WAL order by the source's own stamper, epochNanos 0
    val stamp = new TxnStamp("", "", 0L)
    val df = lines.zipWithIndex.map { case (l, i) =>
      stamp.advance(l.getBytes("UTF-8")); (i.toLong, l, stamp.tbk.toString)
    }
      .toDF("ord", "line", "timeBasedKey")
    val stamped = df
      .select($"ord", $"timeBasedKey", GraftFunctions.parse_test_decoding($"line").as("p"))
      .select($"ord", $"timeBasedKey", $"p.relation", $"p.operation", $"p.columns", $"p.oldColumns")
    val out: DataFrame = Marshaller(noMarshalOld)(CdcFixture.withSourceMeta(stamped))
    out.orderBy("ord").select("json").as[String].collect().toSeq
  }

  private def canon(json: String): com.fasterxml.jackson.databind.JsonNode = {
    val node = mapper.readTree(json).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("lsn"); node.remove("time"); node.remove("time_ms"); node.remove("txn")
    node
  }

  private def assertJson(actual: String, expected: String): Unit =
    assert(canon(actual) == canon(expected), s"\nactual:   $actual\nexpected: $expected")

  test("basic suite: INSERT / key-less UPDATE null-injection / DELETE") {
    val out = marshal(Seq(
      "BEGIN 582",
      "table public.customers: INSERT: id[integer]:1 first_name[text]:'Hello' last_name[text]:'World'",
      "table public.customers: UPDATE: id[integer]:1 first_name[text]:'Hello' last_name[text]:'Friends'",
      "table public.customers: DELETE: id[integer]:2",
      "COMMIT 582"))

    assert(out.head == null && out.last == null) // BEGIN/COMMIT unmarshalled

    assertJson(out(1),
      """{"table":"public.customers","operation":"INSERT","columns":{
        |"first_name":{"new":{"q":"true","t":"text","v":"Hello"}},
        |"id":{"new":{"q":"false","t":"integer","v":"1"}},
        |"last_name":{"new":{"q":"true","t":"text","v":"World"}}}}""".stripMargin)

    // Key-less UPDATE: EVERY column gets a synthetic old null (the
    // reference's REPLICA IDENTITY default behavior).
    assertJson(out(2),
      """{"table":"public.customers","operation":"UPDATE","columns":{
        |"first_name":{"new":{"q":"true","t":"text","v":"Hello"},"old":{"q":"false","t":"text","v":"null"}},
        |"id":{"new":{"q":"false","t":"integer","v":"1"},"old":{"q":"false","t":"integer","v":"null"}},
        |"last_name":{"new":{"q":"true","t":"text","v":"Friends"},"old":{"q":"false","t":"text","v":"null"}}}}""".stripMargin)

    assertJson(out(3),
      """{"table":"public.customers","operation":"DELETE","columns":{
        |"id":{"old":{"q":"false","t":"integer","v":"2"}}}}""".stripMargin)
  }

  test("REPLICA IDENTITY FULL: unchanged cols new-only; NULL transitions carry old") {
    val out = marshal(Seq(
      "BEGIN 583",
      "table public.products: UPDATE: old-key: id[integer]:1 name[text]:'widget 1' sku[integer]:null new-tuple: id[integer]:1 name[text]:'widget 1' sku[integer]:42",
      "table public.products: UPDATE: old-key: id[integer]:1 name[text]:'widget 1' sku[integer]:42 new-tuple: id[integer]:1 name[text]:'widget 1' sku[integer]:null",
      "COMMIT 583"))

    assertJson(out(1),
      """{"table":"public.products","operation":"UPDATE","columns":{
        |"id":{"new":{"q":"false","t":"integer","v":"1"}},
        |"name":{"new":{"q":"true","t":"text","v":"widget 1"}},
        |"sku":{"new":{"q":"false","t":"integer","v":"42"},"old":{"q":"false","t":"integer","v":"null"}}}}""".stripMargin)

    assertJson(out(2),
      """{"table":"public.products","operation":"UPDATE","columns":{
        |"id":{"new":{"q":"false","t":"integer","v":"1"}},
        |"name":{"new":{"q":"true","t":"text","v":"widget 1"}},
        |"sku":{"new":{"q":"false","t":"integer","v":"null"},"old":{"q":"false","t":"integer","v":"42"}}}}""".stripMargin)
  }

  test("TOAST sentinel substitutes the previous value") {
    val line = "table public.toast_test: UPDATE: old-key: id[integer]:1 value[text]:'big' ivalue[integer]:2 new-tuple: id[integer]:1 value[text]:unchanged-toast-datum ivalue[integer]:3"

    assertJson(marshal(Seq("BEGIN 1", line, "COMMIT 1"))(1),
      """{"table":"public.toast_test","operation":"UPDATE","columns":{
        |"id":{"new":{"q":"false","t":"integer","v":"1"}},
        |"value":{"new":{"q":"true","t":"text","v":"big"},"old":{"q":"true","t":"text","v":"big"}},
        |"ivalue":{"new":{"q":"false","t":"integer","v":"3"},"old":{"q":"false","t":"integer","v":"2"}}}}""".stripMargin)

    // noMarshalOldValue drops the old side everywhere.
    assertJson(marshal(Seq("BEGIN 1", line, "COMMIT 1"), noMarshalOld = true)(1),
      """{"table":"public.toast_test","operation":"UPDATE","columns":{
        |"id":{"new":{"q":"false","t":"integer","v":"1"}},
        |"value":{"new":{"q":"true","t":"text","v":"big"}},
        |"ivalue":{"new":{"q":"false","t":"integer","v":"3"}}}}""".stripMargin)
  }

  test("key-less UPDATE with TOAST sentinel passes through raw (test_toasted golden)") {
    // With REPLICA IDENTITY default there is no old tuple, so the
    // sentinel cannot be substituted — the reference emits it verbatim
    // (itests/tests/base/test_toasted/golden/test.0 row 4).
    val out = marshal(Seq(
      "BEGIN 3",
      "table public.toast_test: UPDATE: id[integer]:2 ivalue[integer]:2 value[text]:unchanged-toast-datum",
      "COMMIT 3"), noMarshalOld = true)
    assertJson(out(1),
      """{"table":"public.toast_test","operation":"UPDATE","columns":{
        |"id":{"new":{"q":"false","t":"integer","v":"2"}},
        |"ivalue":{"new":{"q":"false","t":"integer","v":"2"}},
        |"value":{"new":{"q":"false","t":"text","v":"unchanged-toast-datum"}}}}""".stripMargin)
  }

  test("noMarshalOldValue suppresses null-injection on key-less UPDATE") {
    val out = marshal(Seq(
      "BEGIN 2",
      "table public.t: UPDATE: a[text]:'x'",
      "COMMIT 2"), noMarshalOld = true)
    assertJson(out(1),
      """{"table":"public.t","operation":"UPDATE","columns":{
        |"a":{"new":{"q":"true","t":"text","v":"x"}}}}""".stripMargin)
  }

  test("envelope fields: epoch time fallback, lsn format, txn time-based key") {
    val out = marshal(Seq("BEGIN 9", "table public.t: INSERT: a[integer]:5", "COMMIT 9"))
    val node = mapper.readTree(out(1))
    assert(node.get("time").asText == "1970-01-01T00:00:01Z")
    assert(node.get("time_ms").asLong == 0L)
    assert(node.get("txn").asText == "9-0")
    assert(node.get("lsn").asText == "0/1") // walStart = ord = 1
  }
}
