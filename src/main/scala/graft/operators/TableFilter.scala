package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table filter (SURVEY §2 O5; reference filter/filter.go:109-224).
  *
  * Whitelist mode passes only listed tables; blacklist mode drops the
  * listed tables. Entries are exact `schema.table` names or, with
  * `regex = true`, partial-match regular expressions (the reference
  * uses Go's `MatchString`, i.e. find-anywhere — same as `rlike`).
  * BEGIN/COMMIT records always pass (filter.go:161-165). An empty
  * blacklist is a passthrough (filter.go:64-67); an empty whitelist
  * passes only transaction markers.
  *
  * Pure Catalyst predicate: pushes down through the plan like any
  * built-in `Filter`.
  */
case class TableFilter(
    tables: Seq[String],
    whitelist: Boolean = true,
    regex: Boolean = false)
  extends (DataFrame => DataFrame) {

  /** The filter predicate on (relation, operation). */
  def predicate(relation: Column, operation: Column): Column = {
    val isTxnMarker = operation.isin("BEGIN", "COMMIT")
    val matched: Column =
      if (tables.isEmpty) lit(false)
      else if (regex) tables.map(relation.rlike).reduce(_ || _)
      else relation.isin(tables: _*)
    if (whitelist) isTxnMarker || matched
    else isTxnMarker || !matched
  }

  override def apply(df: DataFrame): DataFrame =
    df.filter(predicate(col("relation"), col("operation")))
}
