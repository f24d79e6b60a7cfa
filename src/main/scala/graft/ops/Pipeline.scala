package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The materialized curation pipeline: the composition the individual
  * operators exist FOR, shipped as one callable job instead of a
  * pattern the user re-derives. Stage order is the one that keeps each
  * stage cheap for the next:
  *
  *  1. quality gate        — cheapest filter first, shrinks everything
  *  2. cluster dedup       — ngram pairs → connected components → keep
  *                           canonical (transitive, not pairwise)
  *  3. decontamination     — drop training docs sharing any n-gram
  *                           with the eval holdout
  *  4. typicality filter   — CCNet-style per-domain terciles, drop the
  *                           tail bucket (keep head+middle)
  *  5. leakage-safe split  — md5 buckets keyed on the stage-2 cluster
  *                           CANONICAL id, so near-dups share a split
  *  6. sequence packing    — greedy shard-parallel binning of train
  *
  * Every stage is individually value-oracled (q_quality_gate,
  * q_dedup_clusters, q_decontaminate, q_typicality_buckets,
  * q_leakage_split, q_seq_packing); the composition is pinned by
  * `q_curation_pipeline`, whose per-stage counts re-derive this exact
  * chain in the oracle — swap two stages and the counts diverge.
  *
  * Scale shape: each stage is one of the already-audited distributed
  * plans; the composition adds NO new shuffle beyond its stages (the
  * split reuses the dedup labels instead of re-clustering). Stage
  * outputs are cached for the duration of the run (each is read by the
  * next stage AND by its report count) and unpersisted before return.
  */
object Pipeline {

  /** Defaults mirror the oracle-pinned stage queries exactly. */
  final case class CurateConfig(
      textCol: String = "text",
      idCol: String = "doc_id",
      domainCol: String = "source",
      minTokens: Int = 20,
      maxTokens: Int = 5000,
      minDistinctRatio: Double = 0.45,
      maxDup2Frac: Double = 0.12,
      shingleSize: Int = 3,
      jaccardThreshold: Double = 0.2,
      maxShingleFreq: Int = 10,
      contamN: Int = 4,
      typicalityBuckets: Int = 3,
      keepBucketsFrom: Int = 2, // drop bucket 1 = the least-typical tail
      splits: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10),
      packBudget: Int = 512,
      packShardSize: Long = 1000L,
      // Optional ExactSubstr span surgery (Lee et al. arXiv:2107.06499)
      // between cluster dedup and decontamination: cuts every repeated
      // span (cross-document AND within-document) from all but its
      // first occurrence, so downstream stages see the surgered text.
      // Spans are matched case/whitespace-insensitively but the cuts
      // are applied to the ORIGINAL text (raw case and spacing are
      // preserved; uncut documents pass through byte-identical).
      // Default OFF — the oracle-pinned stage chain is unchanged.
      spanDedup: Boolean = false,
      spanK: Int = 20,
      spanMinLen: Int = 40,
      spanMaxGramFreq: Int = 50,
      spanIncludeSelf: Boolean = true)

  /** `report` rows: (stage, stage_idx, n_rows) — n_rows is the stage's
    * surviving doc count (for `pack_bins`, the bin count). `split`
    * carries every surviving doc with its split; `packedTrain` is the
    * packed training set (id, shard, bin, n_tokens). `stageSecs` is
    * the MARGINAL wall time each stage's materialization took (stages
    * cache, so each count pays only its own stage's compute) — the
    * per-stage breakdown the scale audits read; it is deliberately not
    * part of `report` (whose schema is oracle-pinned).
    */
  final case class CurateResult(
      packedTrain: DataFrame, split: DataFrame, report: DataFrame,
      stageSecs: Map[String, Double] = Map.empty) {

    /** Release the result's caches (`packedTrain` and `split` are
      * returned CACHED — they were materialized for the report counts
      * and a consumer usually reads them next). Call when done with the
      * result in a long-running session: the round-13 retention probe
      * measured ~1 leftover persistent RDD (+32 blocks) per `curate`
      * call in a session that never releases results — tiny per call,
      * but unbounded across a session (SCALE.md §r13).
      */
    def unpersist(): Unit = {
      packedTrain.unpersist()
      split.unpersist()
    }
  }

  def curate(docs: DataFrame, evalDocs: DataFrame,
             cfg: CurateConfig = CurateConfig()): CurateResult = {
    val spark = docs.sparkSession
    val id = cfg.idCol

    // Each stage's cache is materialized by a timed count IMMEDIATELY
    // after construction, so every entry in stageSecs is that stage's
    // MARGINAL cost (its parents are already cached). Lazily deferring
    // the counts to the end mis-attributes: duplicateClusters
    // materializes eagerly, so the first pairs job would silently pull
    // the quality gate's compute through gated's cold cache (observed
    // at sf10: the whole gate cost hiding inside the pair phase).
    val stageSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timedCount(stage: String)(n: => Long): Long = {
      val t0 = System.nanoTime()
      val r = n
      stageSecs(stage) = (System.nanoTime() - t0) / 1e9
      r
    }

    val nCorpus = timedCount("corpus")(docs.count())

    // 1. quality gate
    val keep = Curation.qualityGate(docs, cfg.textCol, id,
        cfg.minTokens, cfg.maxTokens, cfg.minDistinctRatio, cfg.maxDup2Frac)
      .where(col("keep")).select(col(id))
    val gated = docs.join(keep, Seq(id), "left_semi").cache()
    val nGated = timedCount("quality_gate")(gated.count())

    // 2. duplicate-cluster dedup (transitive keep-canonical).
    // duplicateClusters materializes EAGERLY (it caches+counts the pair
    // list before choosing the CC path), so the whole pair-detection +
    // component-resolution cost lands in this stage's timing along with
    // the anti-join — the pipeline's dominant phase at scale.
    val pairs = Dedup.ngramJaccardDuplicates(gated, cfg.textCol, id,
      cfg.shingleSize, cfg.jaccardThreshold, cfg.maxShingleFreq)
    val tCc0 = System.nanoTime()
    val labels = Dedup.duplicateClusters(pairs) // cached by the op
    val losers = labels.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(id))
    val deduped = gated.join(losers, Seq(id), "left_anti").cache()
    val nDeduped = deduped.count()
    stageSecs("cluster_dedup") = (System.nanoTime() - tCc0) / 1e9
    // labels and deduped are materialized, so nothing reads the pair
    // table's shingle checkpoint again: release its blocks now. Left to
    // the ContextCleaner, their release waits behind every cleanup that
    // a full GC enqueues, which in a long session takes tens of seconds.
    org.apache.spark.sql.graft.RddBridge.unpersistLocalCheckpoint(pairs)

    // 2b. optional repeated-span surgery on the cluster-deduped
    // survivors: doc-level dedup first (it removes whole near-dup
    // documents cheaply), then the span pass only pays for the text
    // that is actually kept. The surgered text REPLACES textCol for
    // every downstream stage (decontamination grams, typicality,
    // packing token counts) — that is the point: boilerplate that
    // survives doc-level dedup must not leak into the training set.
    // preserveRaw: cuts are mapped back onto the ORIGINAL text, so
    // surviving characters keep their raw case/spacing and an uncut
    // document passes through byte-identical.
    var nSurged = nDeduped
    val surged =
      if (!cfg.spanDedup) deduped
      else {
        val s = Dedup.dropRepeatedSpans(deduped, cfg.textCol, id,
            cfg.spanK, cfg.spanMinLen, cfg.spanMaxGramFreq, cfg.spanIncludeSelf,
            preserveRaw = true)
          .withColumn(cfg.textCol, col("text_deduped")).drop("text_deduped")
          .cache()
        nSurged = timedCount("span_dedup")(s.count())
        s
      }

    // 3. decontamination vs the eval holdout
    val contaminated = Curation
      .contaminationReport(surged, evalDocs, cfg.textCol, id, cfg.contamN)
      .select(col(id))
    val cleaned = surged.join(contaminated, Seq(id), "left_anti").cache()
    val nCleaned = timedCount("decontaminate")(cleaned.count())

    // 4. typicality filter: per-domain terciles, drop the tail
    val buckets = TextAnalysis.typicalityBuckets(cleaned, cfg.textCol, id,
      cfg.domainCol, cfg.typicalityBuckets)
    val typical = cleaned.join(
      buckets.where(col("bucket") >= cfg.keepBucketsFrom).select(col(id)),
      Seq(id), "left_semi").cache()
    val nTypical = timedCount("typicality_filter")(typical.count())

    // 5. leakage-safe split keyed on the stage-2 canonical labels
    val split = Sampling.leakageSafeSplitLabeled(typical, labels, id,
      cfg.splits).cache()
    val train = split.where(col("split") === "train").drop("split")
    val nTrain = timedCount("train_split")(train.count())

    // 6. pack the training split
    val packed = Packing.packGreedy(train, cfg.packBudget,
      cfg.packShardSize, id, cfg.textCol).cache()
    val nBins = timedCount("pack_bins")(
      packed.select("shard", "bin").distinct().count())

    // stage_idx follows execution order; the span stage (present only
    // when enabled) slots between cluster_dedup and decontaminate, so
    // the DEFAULT chain keeps the oracle-pinned indices 0-6 exactly.
    val stages = Seq(("corpus", nCorpus), ("quality_gate", nGated),
        ("cluster_dedup", nDeduped)) ++
      (if (cfg.spanDedup) Seq(("span_dedup", nSurged)) else Nil) ++
      Seq(("decontaminate", nCleaned), ("typicality_filter", nTypical),
        ("train_split", nTrain), ("pack_bins", nBins))
    val counts = stages.zipWithIndex.map { case ((s, n), i) => (s, i.toLong, n) }
    val report = spark.createDataFrame(counts)
      .toDF("stage", "stage_idx", "n_rows")

    // counts above materialized every cache; the returned frames read
    // them lazily, so drop the intermediates the caller never sees
    gated.unpersist(); deduped.unpersist(); cleaned.unpersist()
    if (cfg.spanDedup) surged.unpersist()
    typical.unpersist() // split is cached + materialized by its count
    labels.unpersist()  // cached inside duplicateClusters; split's count
                        // above already materialized everything keyed on it
    CurateResult(packed, split, report, stageSecs.toMap)
  }
}
