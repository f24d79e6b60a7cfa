package graft.parser

import org.scalatest.funsuite.AnyFunSuite
import graft.model.ColumnValue

/** Table-driven parser cases matching the reference grammar
  * (parselogical/parselogical_test.go and FIXTURES.md §1).
  */
class TestDecodingParserSpec extends AnyFunSuite {

  private def ok(line: String): ParsedChange =
    TestDecodingParser.parse(line).fold(e => fail(s"parse failed: $e"), identity)

  test("BEGIN / COMMIT") {
    val b = ok("BEGIN 582")
    assert(b.operation == "BEGIN" && b.txn == "582" && b.relation == "")
    val c = ok("COMMIT 582")
    assert(c.operation == "COMMIT" && c.txn == "582")
  }

  test("simple INSERT") {
    val p = ok("table public.customers: INSERT: id[integer]:1 first_name[text]:'Hello' last_name[text]:'World'")
    assert(p.relation == "public.customers")
    assert(p.operation == "INSERT")
    assert(p.columns == Map(
      "id" -> ColumnValue("1", "integer", false),
      "first_name" -> ColumnValue("Hello", "text", true),
      "last_name" -> ColumnValue("World", "text", true)))
    assert(p.oldColumns.isEmpty)
  }

  test("UPDATE with old-key / new-tuple sections") {
    val p = ok("table public.customers: UPDATE: old-key: id[integer]:1 sku[integer]:42 new-tuple: id[integer]:1 sku[integer]:null")
    assert(p.oldColumns == Map(
      "id" -> ColumnValue("1", "integer", false),
      "sku" -> ColumnValue("42", "integer", false)))
    assert(p.columns == Map(
      "id" -> ColumnValue("1", "integer", false),
      "sku" -> ColumnValue("null", "integer", false)))
  }

  test("unquoted null vs quoted 'null'") {
    val p = ok("table public.t: INSERT: a[text]:null b[text]:'null'")
    assert(p.columns("a") == ColumnValue("null", "text", false))
    assert(p.columns("b") == ColumnValue("null", "text", true))
  }

  test("DELETE with key and with (no-tuple-data)") {
    val p1 = ok("table public.customers: DELETE: id[integer]:2")
    assert(p1.operation == "DELETE" && p1.columns("id").v == "2")
    val p2 = ok("table public.customers: DELETE: (no-tuple-data)")
    assert(p2.noTupleData && p2.columns.isEmpty)
  }

  test("unchanged-toast-datum sentinel is unquoted") {
    val p = ok("table public.toast_test: UPDATE: id[integer]:1 value[text]:unchanged-toast-datum ivalue[integer]:2")
    assert(p.columns("value") == ColumnValue("unchanged-toast-datum", "text", false))
  }

  test("TRUNCATE single and multi-table") {
    val p1 = ok("table public.customers: TRUNCATE: (no-flags)")
    assert(p1.operation == "TRUNCATE" && p1.relation == "public.customers")
    val p3 = ok("table public.customers: TRUNCATE: restart_seqs")
    assert(p3.operation == "TRUNCATE")
    val p2 = ok("table public.customers, public.orders: TRUNCATE: cascade")
    assert(p2.relation == "public.customers, public.orders")
    assert(p2.columns.isEmpty && !p2.noTupleData)
  }

  test("quoted identifiers kept verbatim; quoted values unescaped") {
    val p = ok("""table "public"."Weird""Name": INSERT: "col with space"[character varying]:'it''s quoted'""")
    assert(p.relation == """"public"."Weird""Name"""")
    assert(p.columns.keySet == Set("\"col with space\""))
    assert(p.columns("\"col with space\"") ==
      ColumnValue("it's quoted", "character varying", true))
  }

  test("array type names with [] suffix") {
    val p = ok("table public.t: INSERT: tags[integer[]]:'{1,2,3}' name[text]:'x'")
    assert(p.columns("tags") == ColumnValue("{1,2,3}", "integer[]", true))
    assert(p.columns("name") == ColumnValue("x", "text", true))
  }

  test("quoted value containing spaces and double quotes (json)") {
    val p = ok("""table public.events: INSERT: props[jsonb]:'{"k": 87, "s": "a b"}' id[bigint]:9""")
    assert(p.columns("props") == ColumnValue("""{"k": 87, "s": "a b"}""", "jsonb", true))
    assert(p.columns("id") == ColumnValue("9", "bigint", false))
  }

  test("empty quoted value and escaped-quote-only value") {
    val p = ok("table public.t: INSERT: a[text]:'' b[text]:''''")
    assert(p.columns("a") == ColumnValue("", "text", true))
    assert(p.columns("b") == ColumnValue("'", "text", true))
  }

  test("type name with spaces") {
    val p = ok("table public.t: INSERT: ts[timestamp without time zone]:'2024-01-01 00:00:00'")
    assert(p.columns("ts") == ColumnValue("2024-01-01 00:00:00", "timestamp without time zone", true))
  }

  test("prelude-only parse stops after operation") {
    val p = TestDecodingParser.parsePreludeOrNull(
      "table public.customers: INSERT: id[integer]:1")
    assert(p.relation == "public.customers" && p.operation == "INSERT")
    // the column section is never read: a malformed one passes the
    // prelude parse and fails only the full parse
    val bad = "table public.customers: INSERT: id[integer]:'unterminated"
    val q = TestDecodingParser.parsePreludeOrNull(bad)
    assert(q != null && q.relation == "public.customers" && q.operation == "INSERT")
    assert(TestDecodingParser.parse(bad).isLeft)
  }

  test("malformed inputs rejected") {
    assert(TestDecodingParser.parse("shrt").isLeft)
    assert(TestDecodingParser.parse("BEGIN").isLeft)
    assert(TestDecodingParser.parse("BEGIN 1 2").isLeft)
    // exact txn-marker tokens only: COMMIX/BEGINX are not BEGIN/COMMIT
    assert(TestDecodingParser.parse("COMMIX 5").isLeft)
    assert(TestDecodingParser.parse("BEGINX 5").isLeft)
    assert(TestDecodingParser.parse("nonsense message here").isLeft)
    assert(TestDecodingParser.parse("table public.t: INSERT: a[text]:'unterminated").isLeft)
    assert(TestDecodingParser.parse("table public.t:INSERT: a[text]:1").isLeft)
  }

  test("columns preserve insertion order") {
    val p = ok("table public.t: INSERT: z[text]:'1' a[text]:'2' m[text]:'3'")
    assert(p.columns.keys.toSeq == Seq("z", "a", "m"))
  }
}
