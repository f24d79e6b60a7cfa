package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data curation operators: benchmark decontamination,
  * intra-document repetition metrics, and PII redaction.
  *
  * Scale notes (the 100 TB story):
  *  - decontamination joins the (huge) train-side n-gram stream against
  *    a BROADCAST of the eval corpus' distinct n-gram hashes — eval sets
  *    are benchmark-sized (thousands of docs), so the only large shuffle
  *    is the per-doc distinct over 64-bit gram hashes, never a
  *    gram-string exchange and never a shuffle of the eval side;
  *  - repetition metrics are pure per-row column expressions (sorted
  *    run-length analysis over the document's own n-gram list) — zero
  *    shuffles, pipelined with the scan;
  *  - PII redaction is a fold of per-row `regexp_count`/`regexp_replace`
  *    stages — zero shuffles, codegen'd.
  */
object Curation {

  // ---------------------------------------------------------------- //
  // Decontamination (eval-set n-gram overlap)                        //
  // ---------------------------------------------------------------- //

  /** Per-document contamination report: for every train document that
    * shares at least one word `n`-gram with the eval corpus, the number
    * of distinct shared n-grams. Documents shorter than `n` tokens
    * contribute their whole text as a single shingle (see
    * [[Dedup.wordShingles]]), so short eval strings still match
    * verbatim copies.
    *
    * Grams travel as 64-bit hashes ([[Dedup.shingle_hashes]], one
    * native pass per document that also dedups within the doc): the
    * distinct-gram count is unchanged (modulo a 2^-64 collision) and
    * nothing larger than 8 bytes per gram ever leaves the scan
    * projection. The broadcast eval join filters BEFORE any exchange,
    * so the only shuffle — the final per-doc count — carries matched
    * grams only, never the full train gram stream.
    */
  def contaminationReport(
      train: DataFrame,
      eval: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 8): DataFrame = {
    val trainGrams = train
      .select(col(idCol), explode(Dedup.shingle_hashes(col(textCol), n)).as("g"))
    val evalGrams = eval
      .select(explode(Dedup.shingle_hashes(col(textCol), n)).as("g"))
      .distinct()
    // shingle_hashes emits each doc's DISTINCT grams, so after the
    // broadcast filter a plain count() is already the distinct count
    trainGrams
      .join(broadcast(evalGrams), "g")
      .groupBy(idCol)
      .agg(count(lit(1)).as("matched_ngrams"))
  }

  /** The filtering form: train rows with every eval n-gram overlap
    * removed (left-anti against the contamination report).
    */
  def decontaminate(
      train: DataFrame,
      eval: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 8): DataFrame =
    train.join(
      contaminationReport(train, eval, textCol, idCol, n).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** FUZZY contamination: near-duplicate (train, eval) pairs by exact
    * shingle-set Jaccard — catches lightly-edited benchmark copies the
    * exact n-gram overlap report under-weighs. Exact, not LSH: the
    * eval side is benchmark-sized, so full verification is affordable
    * and the result has no recall caveat.
    *
    * One pass, one shuffle: because [[Dedup.shingle_hashes]] emits each
    * doc's DISTINCT shingles, the per-pair match count from the
    * broadcast inverted-index join IS `|A ∩ B|`, and `|A ∪ B| =
    * |A| + |B| − |A ∩ B|` with the set sizes riding the exploded rows
    * as integers — so Jaccard falls out of the candidate aggregation
    * itself, with no join-back and no shingle arrays on the wire. The
    * train side never shuffles anything but matched-pair rows.
    */
  def fuzzyContamination(
      train: DataFrame,
      eval: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      threshold: Double = 0.2): DataFrame = {
    val trInv = train.select(col(idCol).as("train_id"),
        Dedup.shingle_hashes(col(textCol), shingleSize).as("hs"))
      .select(col("train_id"), size(col("hs")).as("na"),
        explode(col("hs")).as("shingle"))
    val evInv = eval.select(col(idCol).as("eval_id"),
        Dedup.shingle_hashes(col(textCol), shingleSize).as("hs"))
      .select(col("eval_id"), size(col("hs")).as("nb"),
        explode(col("hs")).as("shingle"))
    trInv.join(broadcast(evInv), Seq("shingle"))
      .groupBy(col("train_id"), col("eval_id"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard", round(col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")).cast("double"), 6))
      .where(col("jaccard") >= threshold)
      .select(col("train_id"), col("eval_id"), col("shared"), col("jaccard"))
  }

  // ---------------------------------------------------------------- //
  // Repetition metrics (Gopher-style quality signals)                //
  // ---------------------------------------------------------------- //

  /** `struct(top, dup)` over a document's word `n`-grams, computed
    * per-row with no shuffle: `top` is the occurrence count of the most
    * frequent n-gram, `dup` the total number of occurrences of n-grams
    * appearing at least twice. Implemented as a single pass over the
    * SORTED gram list (equal grams are adjacent, so frequency = run
    * length) — O(k log k) per document in the document's own memory.
    */
  def repetitionStats(text: Column, n: Int): Column = {
    val grams = sort_array(Dedup.wordShingles(text, n))
    val st = aggregate(
      grams,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("top"), lit(0L).as("dup")),
      (acc, g) => {
        val same = acc.getField("prev") <=> g
        val run = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
        // a run reaching 2 contributes both occurrences; each further
        // extension contributes one more
        val dup = acc.getField("dup") + when(!same, 0L)
          .when(acc.getField("run") === 1L, 2L).otherwise(1L)
        struct(g.as("prev"), run.as("run"),
          greatest(acc.getField("top"), run).as("top"), dup.as("dup"))
      },
      acc => struct(acc.getField("top").as("top"), acc.getField("dup").as("dup")))
    when(size(grams) === 0, struct(lit(0L).as("top"), lit(0L).as("dup"))).otherwise(st)
  }

  /** Per-document repetition report: distinct-token ratio plus, for
    * each n in `ns`, the fraction of n-gram positions occupied by the
    * single most frequent n-gram (`top{n}_frac` — boilerplate loops)
    * and by any n-gram occurring at least twice (`dup{n}_frac` —
    * general redundancy). Deterministic, SQL-reproducible variants of
    * the MassiveText/Gopher repetition filters (char-coverage replaced
    * by gram-position coverage).
    *
    * All statistics come from ONE native
    * [[graft.functions.RepetitionProfile]] call per row (tokenize once,
    * count every gram order in a compiled pass) — the declarative
    * [[repetitionStats]] fold is kept as the semantic reference but is
    * interpreted per gram and ~70× slower.
    */
  def repetitionReport(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val toks = TextAnalysis.tokens(TextAnalysis.normalize(col(textCol)))
    // fenced for the same reason as qualityGate: a caller filtering on
    // several frac columns would otherwise inline the profile into the
    // Filter condition once per referenced column (PushdownBarrier
    // scaladoc; the gate measured 13 copies / ~40× at sf10)
    val prof = graft.functions.GraftFunctions.fenced(
      column(graft.functions.RepetitionProfile(expression(toks), ns)))
    val p = col("_profile")
    val fracs = ns.flatMap { n =>
      // short/empty docs carry one whole-text shingle, so cnt >= 1 always
      val k = p.getField(s"cnt$n").cast("double")
      Seq(
        round(p.getField(s"top$n").cast("double") / k, 6).as(s"top${n}_frac"),
        round(p.getField(s"dup$n").cast("double") / k, 6).as(s"dup${n}_frac"))
    }
    df.select(col(idCol), prof.as("_profile"))
      .select(
        col(idCol) +:
        when(p.getField("tok_cnt") === 0L, 0.0d)
          .otherwise(round(p.getField("tok_distinct").cast("double") /
            p.getField("tok_cnt").cast("double"), 6)).as("distinct_token_ratio") +:
        fracs: _*)
  }

  // ---------------------------------------------------------------- //
  // PII redaction                                                    //
  // ---------------------------------------------------------------- //

  /** One redaction rule: occurrences of `pattern` are counted and then
    * replaced by `replacement`. Patterns are restricted to the
    * Java-regex/RE2 common subset so the DuckDB oracle reproduces them
    * verbatim (no backreferences, no lookaround).
    */
  final case class PiiRule(name: String, pattern: String, replacement: String)

  /** Email, then IPv4, then phone — ordered so the broader digit-run
    * phone pattern only sees text that earlier rules left behind.
    */
  val defaultPiiRules: Seq[PiiRule] = Seq(
    PiiRule("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    PiiRule("ipv4", "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IPV4>"),
    PiiRule("phone", "\\+?\\d[\\d-]{6,}\\d", "<PHONE>"))

  /** Adds `redacted` plus one `n_<rule>` count column per rule. Rules
    * apply sequentially, each counting and replacing on the output of
    * the previous one, so counts are non-overlapping by construction.
    */
  def redactPii(
      df: DataFrame,
      textCol: String,
      rules: Seq[PiiRule] = defaultPiiRules): DataFrame =
    rules.foldLeft(df.withColumn("redacted", col(textCol))) { (d, r) =>
      d.withColumn(s"n_${r.name}",
          regexp_count(col("redacted"), lit(r.pattern)).cast("long"))
        .withColumn("redacted",
          regexp_replace(col("redacted"), r.pattern, r.replacement))
    }

  // ---------------------------------------------------------------- //
  // Corpus mixture report                                            //
  // ---------------------------------------------------------------- //

  /** The "corpus card" aggregate: per stratum (source/domain), document
    * and token volumes, distinct-content count (exact-dup rate), and
    * mean doc length / quality — the summary every dataset release
    * ships and every mixture decision starts from.
    *
    * One hash-partitioned aggregation over per-row codegen'd metrics.
    * The quality mean is summed as DECIMAL(18,4), not double: decimal
    * addition is exact and therefore order-independent, so the result
    * is bit-reproducible regardless of partitioning (a double sum's
    * last ulps depend on partition order).
    */
  def corpusReport(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      strataCol: String = "source"): DataFrame = {
    val t = col(textCol)
    val perDoc = df.select(
      col(strataCol),
      TextAnalysis.tokenCount(t).cast("long").as("__ntok"),
      TextAnalysis.fingerprint(t).as("__fp"),
      TextAnalysis.qualityScore(t).cast("decimal(18,4)").as("__q"))
    perDoc.groupBy(col(strataCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        count_distinct(col("__fp")).as("n_distinct"),
        sum(col("__q")).as("__qsum"))
      .select(
        col(strataCol),
        col("n_docs"),
        col("n_tokens"),
        col("n_distinct"),
        round(lit(1.0d) - col("n_distinct").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"),
        round(col("n_tokens").cast("double") /
          col("n_docs").cast("double"), 6).as("mean_doc_tokens"),
        round(col("__qsum").cast("double") /
          col("n_docs").cast("double"), 6).as("mean_quality"))
  }

  // ---------------------------------------------------------------- //
  // Quality gate (composed filter with drop-reason audit)            //
  // ---------------------------------------------------------------- //

  /** The composed corpus filter: evaluates every quality rule in ONE
    * pass per document and emits the metrics, a `keep` verdict, and
    * `failed_rules` — the comma-joined names of the rules the document
    * violated, in fixed rule order. Production corpus builds need the
    * audit trail (why was this document dropped, and how many fell to
    * each rule), not just the surviving rows; `keep`-filtering this
    * output IS the filter.
    *
    * All gram/token statistics come from one native
    * [[graft.functions.RepetitionProfile]] call; the mean token length
    * is derived from the whitespace-collapsed text length (tokens are
    * single-space-joined there, so `chars = Σ len + (t − 1)`) — no
    * per-token interpreted fold anywhere.
    *
    * Thresholds compare against the ROUNDED (6-place) metrics that are
    * also emitted, so the decision is bit-reproducible in any engine.
    */
  def qualityGate(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      minTokens: Int = 10,
      maxTokens: Int = 5000,
      minDistinctRatio: Double = 0.3,
      maxDup2Frac: Double = 0.5,
      meanTokenLenRange: (Double, Double) = (2.0, 12.0),
      maxPunctRatio: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import graft.functions.GraftFunctions.fenced
    val toks = TextAnalysis.tokens(TextAnalysis.normalize(col(textCol)))
    val prof = column(graft.functions.RepetitionProfile(expression(toks), Seq(2)))
    // whitespace-collapsed (but case-preserving) text: its length is
    // sum(token lengths) + (tokens - 1)
    val collapsedLen = length(regexp_replace(trim(col(textCol)), "\\s+", " "))
    val unpunctLen = length(regexp_replace(col(textCol), "[\\p{Punct}]", ""))
    // The three expensive per-row computations (tokenize+profile, the
    // two regex passes) are materialized ONCE behind
    // [[graft.functions.PushdownBarrier]]: a caller's
    // `.where(col("keep"))` otherwise lets predicate pushdown inline
    // them into the Filter condition — 13 copies of the profile
    // subtree, measured 8× at sf1 / ~40× at sf10 (round-12 per-stage
    // breakdown of the curation pipeline) — because FilterExec does no
    // subexpression elimination. Everything derived below is cheap
    // field math over these columns.
    val base = df.select(col(idCol), col(textCol),
      fenced(prof).as("_profile"),
      fenced(collapsedLen).as("_clen"),
      fenced(unpunctLen).as("_uplen"))
    val p = col("_profile")
    val tokCnt = p.getField("tok_cnt")
    val metrics = base
      .select(
        col(idCol),
        tokCnt.as("token_cnt"),
        when(tokCnt === 0L, 0.0d)
          .otherwise(round(p.getField("tok_distinct").cast("double") /
            tokCnt.cast("double"), 6)).as("distinct_token_ratio"),
        round(p.getField("dup2").cast("double") /
          p.getField("cnt2").cast("double"), 6).as("dup2_frac"),
        when(tokCnt === 0L, 0.0d)
          .otherwise(round((col("_clen") - tokCnt + 1L).cast("double") /
            tokCnt.cast("double"), 6)).as("mean_token_len"),
        when(length(col(textCol)) === 0, 0.0d)
          .otherwise(round(
            (length(col(textCol)) - col("_uplen")).cast("double") /
            length(col(textCol)).cast("double"), 6)).as("punct_ratio"))
    val failed = concat_ws(",",
      when(col("token_cnt") < minTokens, "too_short"),
      when(col("token_cnt") > maxTokens, "too_long"),
      when(col("distinct_token_ratio") < minDistinctRatio, "low_diversity"),
      when(col("dup2_frac") > maxDup2Frac, "repetitive"),
      when(!col("mean_token_len").between(meanTokenLenRange._1, meanTokenLenRange._2),
        "word_shape"),
      when(col("punct_ratio") > maxPunctRatio, "high_punct"))
    metrics
      .withColumn("failed_rules", failed)
      .withColumn("keep", col("failed_rules") === "")
  }
}
