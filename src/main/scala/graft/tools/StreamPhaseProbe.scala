package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Measure-first probe for the streaming-harness trio
  * (q_dedup_streaming_lines/media/video): registers a
  * StreamingQueryListener and dumps every micro-batch's
  * StreamingQueryProgress JSON (durationMs breakdown — addBatch,
  * walCommit, commitOffsets, stateOperators commit times) to stderr,
  * plus per-invocation wall time, so the harness-floor claim ("cost is
  * per-batch commit fsyncs + driver round-trips, not operator work")
  * is checkable from numbers instead of asserted.
  *
  * Usage: runMain graft.tools.StreamPhaseProbe [reps] [q1 q2 ...] [ab:key=value]
  * Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / SPARK_GRAFT_EXTRA_CONF
  * like the bench.
  */
object StreamPhaseProbe {
  def main(args: Array[String]): Unit = {
    // interleaved A/B: "ab:key=value" as an arg applies the conf on
    // EVEN reps and restores the key's prior session value on odd ones,
    // so both arms sample the same host regime; a per-rep calibration
    // stamp (a fixed CPU+shuffle workload, the bench's convention)
    // attributes residual drift
    val ab = args.collectFirst { case a if a.startsWith("ab:") =>
      a.stripPrefix("ab:").split("=", 2) match {
        case Array(k, v) if k.nonEmpty => (k, v)
        case _ =>
          System.err.println(
            s"usage: StreamPhaseProbe [reps] [q1 q2 ...] [ab:key=value]; got '$a'")
          sys.exit(2)
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => builder.config(k.trim, v.trim)
        case _ => ()
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        System.err.println("[stream-progress] " + e.progress.json)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    // arm A's value: the session's own (SPARK_GRAFT_EXTRA_CONF), else unset
    val prior = ab.flatMap { case (k, _) => spark.conf.getOption(k) }
    val rest = args.filterNot(_.startsWith("ab:"))
    val reps = if (rest.nonEmpty) rest(0).toInt else 2
    val names =
      if (rest.length > 1) rest.drop(1).toSeq
      else Seq("q_dedup_streaming_lines", "q_dedup_streaming_media",
        "q_dedup_streaming_video")
    // same warm shape as the bench so rep numbers are comparable
    spark.range(1000000).selectExpr("sum(id) as s")
      .queryExecution.toRdd.count()
    def cal(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 50000000L, 1, 32)
        .selectExpr("id % 97 as k", "id as v")
        .groupBy("k").sum("v").queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    cal() // warm the cal path itself
    for (rep <- 1 to reps) {
      val arm = ab match {
        case Some((k, v)) if rep % 2 == 0 => spark.conf.set(k, v); "B"
        case Some((k, _)) => prior.fold(spark.conf.unset(k))(spark.conf.set(k, _)); "A"
        case None => "-"
      }
      for (n <- names) {
        val c = cal()
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        val rows = df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        println(f"[stream-phase] rep=$rep arm=$arm q=$n cal=$c%.3f " +
          f"construct=${(t1 - t0) / 1e9}%.3f finalRead=${(t2 - t1) / 1e9}%.3f " +
          f"total=${(t2 - t0) / 1e9}%.3f rows=$rows")
      }
    }
    spark.stop()
  }
}
