package graft.streaming

import org.apache.spark.sql.DataFrame

/** Stats reporters (SURVEY §2 S1; reference stats/reporters/{stdout,datadog}).
  *
  * Data-derived stats (the windowed aggregates from
  * [[graft.operators.StatsAggregator]]) are emitted per micro-batch via
  * [[reportStatsd]] with a pluggable send function; the on-demand
  * SIGIO dump ([[registerSignalDump]]) prints in the reference's
  * stdout-reporter shape.
  */
object StatsReporters {

  /** stdout shape: `component.name type=? unit=? value=?` like
    * stats/reporters/stdout/stdout.go:41-66.
    */
  def stdoutEmit(line: String): Unit = println(s"[graft-stats] $line")

  /** Dogstatsd wire line for one stat, the reference's Datadog mapping
    * (datadog/datadog.go:62-69): metric name
    * `<prefix>.<component>.<statName>.<unit>`, count stats → `|c`,
    * histogram stats → gauge `|g`.
    */
  def statsdLine(prefix: String, component: String, statName: String,
                 unit: String, statType: String, value: Long): String = {
    val name = s"$prefix.$component.$statName.$unit"
    if (statType == "count") s"$name:$value|c" else s"$name:$value|g"
  }

  /** foreachBatch hook emitting dogstatsd lines for an aggregated stats
    * stream. Histogram windows multiplex into `_avg`/`_max`/`_min`
    * sub-stats exactly like the reference aggregator
    * (aggregator/aggregate.go:58-79: main value = the window sum).
    * `send` is the transport edge — a UDP datagram client drops in
    * behind it (no egress in this environment).
    */
  def reportStatsd(send: String => Unit, prefix: String = "bifrost")
      : (DataFrame, Long) => Unit = (batch, _) =>
    batch.collect().foreach { r =>
      val component = r.getAs[String]("component")
      val statName = r.getAs[String]("statName")
      val statType = r.getAs[String]("statType")
      val unit = r.getAs[String]("unit")
      val total = r.getAs[Long]("total")
      send(statsdLine(prefix, component, statName, unit, statType, total))
      if (statType == "histogram") {
        // the aggregator's own avg column, truncated to a whole number
        // exactly like the reference (aggregate.go:72 `int64(a.avg)`)
        val avg = r.getAs[Double]("avg").toLong
        send(statsdLine(prefix, component, s"${statName}_avg", unit, statType, avg))
        send(statsdLine(prefix, component, s"${statName}_max", unit, statType, r.getAs[Long]("max")))
        send(statsdLine(prefix, component, s"${statName}_min", unit, statType, r.getAs[Long]("min")))
      }
    }

  /** Register `dump` on a POSIX signal (default SIGIO, like the
    * reference's tracker loop). Returns false when the JVM reserves the
    * signal or the platform lacks `sun.misc.Signal` — callers treat the
    * dump as best-effort diagnostics, never load-bearing.
    */
  def registerSignalDump(signal: String = "IO")(dump: () => Unit): Boolean =
    try {
      sun.misc.Signal.handle(new sun.misc.Signal(signal),
        (_: sun.misc.Signal) => dump())
      true
    } catch { case _: Throwable => false }
}
