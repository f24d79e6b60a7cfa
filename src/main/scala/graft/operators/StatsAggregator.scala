package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stats aggregation (SURVEY §2 S1; reference stats/aggregator).
  *
  * Input rows are engine metric samples (reference stats/stat.go:10-31):
  * component, statType ("count" | "histogram"), statName, unit, value,
  * ts.
  *
  * Tumbling 60-second buckets keyed by (component, statName, statType,
  * unit); count stats are summed, histogram stats additionally emit
  * count/min/max/avg. The reference's 1-second lateness grace with
  * late-drop maps exactly to a 1-second watermark in streaming mode
  * (`withWatermark` before calling this).
  */
object StatsAggregator {

  def aggregate(stats: DataFrame, windowLength: String = "60 seconds"): DataFrame =
    stats
      .groupBy(
        window(col("ts"), windowLength),
        col("component"), col("statName"), col("statType"), col("unit"))
      .agg(
        sum("value").as("total"),
        count("*").as("samples"),
        min("value").as("min"),
        max("value").as("max"),
        avg("value").as("avg"))
      .select(
        col("window.start").as("windowStart"),
        col("component"), col("statName"), col("statType"), col("unit"),
        col("total"), col("samples"), col("min"), col("max"), col("avg"))
}
