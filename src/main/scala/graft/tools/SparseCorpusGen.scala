package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Builds the span-SPARSE documents corpus the winnow-prefilter A/B
  * needs as its win-case arm: the amplified bench corpora are
  * duplicate-saturated (SCALE.md r18: ≥94% of docs are winnow
  * candidates at every scale, ~99.9% at sf10), so the prefilter's
  * guard correctly bails there and only its overhead is measurable.
  * Real pretraining corpora after upstream dedup sit at the other
  * extreme — most documents share no long span — and this generator
  * produces that shape at bench scale while preserving total char
  * volume:
  *
  *  - docs with `doc_id % keepEvery == 0` (default 1%) keep their
  *    text verbatim: cross-doc span structure SURVIVES within this
  *    minority (they are a uniform sample of the source corpus);
  *  - every other doc gets a per-doc suffix on each token (the
  *    Amplify per-copy construction, keyed by doc_id instead of copy
  *    number): a bijective token-space map, so per-doc gram volume is
  *    preserved (+a few % chars) while cross-doc equality collapses —
  *    two distinct suffixed docs cannot share a k=20 gram except by
  *    hash accident.
  *
  * Only documents.parquet is written: the span bench pair reads
  * nothing else.
  *
  * Usage: runMain graft.tools.SparseCorpusGen <srcSfDir> <destDir> [keepEvery]
  */
object SparseCorpusGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/tmp/graft_sf10")
    val dest = args.lift(1).getOrElse("/tmp/graft_sparse10")
    val keepEvery = args.lift(2).map(_.toInt).getOrElse(100)
    require(keepEvery >= 1, s"keepEvery $keepEvery must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val out = docs
      .withColumn("text",
        when(col("doc_id") % keepEvery === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1z"), conv(col("doc_id").cast("string"), 10, 36)))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    out.write.mode("overwrite").parquet(s"$dest/documents.parquet")
    val n = spark.read.parquet(s"$dest/documents.parquet").count()
    System.err.println(s"[sparse] documents: $n rows -> $dest (1/$keepEvery verbatim)")
    spark.stop()
  }
}
