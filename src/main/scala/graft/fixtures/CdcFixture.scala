package graft.fixtures

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Renders rows of an ordinary table as `test_decoding` wire lines, so
  * batch tables can drive the CDC pipeline end-to-end (parser included)
  * and an independent SQL oracle can check the results from the
  * original columns.
  *
  * One fixture column spec: (name, pgType, valueExpr, quoted). Quoted
  * values get `'` → `''` escaping, exactly what Postgres emits.
  */
object CdcFixture {

  final case class Col(name: String, pgType: String, value: Column, quoted: Boolean = true)

  private def renderCol(c: Col): Column =
    if (c.quoted)
      concat(lit(s"${c.name}[${c.pgType}]:'"),
        regexp_replace(c.value.cast("string"), "'", "''"), lit("'"))
    else
      concat(lit(s"${c.name}[${c.pgType}]:"), c.value.cast("string"))

  /** `table <rel>: INSERT: c1[t1]:v1 c2[t2]:'v2' ...` */
  def insertLine(relation: Column, cols: Seq[Col]): Column =
    concat(lit("table "), relation, lit(": INSERT: "),
      concat_ws(" ", cols.map(renderCol): _*))

  /** `table <rel>: DELETE: ...` */
  def deleteLine(relation: Column, keyCols: Seq[Col]): Column =
    concat(lit("table "), relation, lit(": DELETE: "),
      concat_ws(" ", keyCols.map(renderCol): _*))

  /** Attach synthetic source metadata expected by downstream operators:
    * walStart (monotone from `ord`), serverWalEnd, serverTimeMs=0 (the
    * PG 9–11 shape — exercises the marshaller's epoch fallback).
    */
  def withSourceMeta(df: DataFrame): DataFrame =
    df.withColumn("walStart", col("ord").cast("long"))
      .withColumn("serverWalEnd", col("ord").cast("long"))
      .withColumn("serverTimeMs", lit(0L))
}
