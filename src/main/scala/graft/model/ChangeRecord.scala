package graft.model

import org.apache.spark.sql.types._

/** A single Postgres column value as carried by the `test_decoding`
  * logical-decoding text format. Everything is a string: `v` is the raw
  * text, `t` the declared Postgres type name (may carry a `[]` suffix),
  * and `q` records whether the value was single-quoted in the wire
  * format — which is how SQL NULL (`null`, unquoted) is distinguished
  * from the literal string `'null'`, and how the TOAST sentinel
  * `unchanged-toast-datum` is recognized.
  *
  * Mirrors the reference's ColumnValue
  * (parselogical/parselogical.go:42-46).
  */
case class ColumnValue(v: String, t: String, q: Boolean)

/** Spark types of a parsed change record: the analog of the
  * reference's WalMessage + ParseResult pair (replication/message.go:25-32,
  * parselogical/parselogical.go:60-69). Schema is fully dynamic: a
  * record carries its own `columns` map; no DDL is tracked anywhere in
  * the engine.
  */
object ChangeRecord {
  val columnValueType: StructType = StructType(Seq(
    StructField("v", StringType, nullable = true),
    StructField("t", StringType, nullable = true),
    StructField("q", BooleanType, nullable = false)))

  val columnsMapType: MapType =
    MapType(StringType, columnValueType, valueContainsNull = false)

  /** Result schema of `parse_test_decoding` — just the parsed fields;
    * walStart/time/partitionKey columns are attached by the source and
    * downstream operators.
    */
  val parsedType: StructType = StructType(Seq(
    StructField("txn", StringType, nullable = true),
    StructField("relation", StringType, nullable = true),
    StructField("operation", StringType, nullable = true),
    StructField("noTupleData", BooleanType, nullable = false),
    StructField("columns", columnsMapType, nullable = true),
    StructField("oldColumns", columnsMapType, nullable = true)))
}
