package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * quality scoring, language id, fingerprinting. All pure Catalyst
  * column expressions (codegen'd; no UDFs), so they pipeline with scans
  * and filters at any scale.
  */
object TextAnalysis {

  /** Whitespace tokens; empty/blank text → empty array (Spark's
    * `split("")` would yield `[""]`).
    */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: words plus intra-word splits on
    * case/digit/punctuation boundaries — a cheap, deterministic proxy
    * for tokenizer budget accounting when no vocab is available.
    */
  def subwordCountEstimate(text: Column): Column =
    size(when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text),
        "\\s+|(?<=[a-z])(?=[A-Z])|(?<=[A-Za-z])(?=\\d)|(?<=\\d)(?=[A-Za-z])|(?=[^\\sA-Za-z0-9])")))

  /** Canonical text normalization shared by fingerprint + exact dedup:
    * lowercase, trim, collapse runs of whitespace.
    */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Stable document fingerprint = md5 of the normalized text.
    * Reproducible in any SQL engine (the oracle uses the same two
    * functions), unlike rolling/content-defined hashes.
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Winnowing fingerprint over a Rabin–Karp rolling hash of the
    * normalized text: sorted distinct window-minimum k-gram hashes
    * (see [[graft.functions.WinnowFingerprint]]). Two documents
    * sharing a normalized substring of length ≥ k + w − 1 share a
    * fingerprint value — the local-match guarantee md5 lacks.
    */
  def winnowFingerprint(text: Column, k: Int = 5, w: Int = 4): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.WinnowFingerprint(
        org.apache.spark.sql.graft.ColumnBridge.expression(normalize(text)), k, w))

  /** Ratio of punctuation characters to total characters (0 for empty). */
  def punctRatio(text: Column): Column = {
    val total = length(text)
    val punct = total - length(regexp_replace(text, "[\\p{Punct}]", ""))
    when(total === 0, 0.0d).otherwise(punct.cast("double") / total.cast("double"))
  }

  private val enStopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "it", "that", "this", "for", "on", "with", "as", "at", "by", "be")

  /** Fraction of tokens that are (English) stopwords — a standard
    * fluency signal: natural prose has a stable stopword rate, keyword
    * spam and boilerplate do not.
    */
  def stopwordRatio(text: Column, stopwords: Seq[String] = enStopwords): Column = {
    val toks = tokens(lower(text))
    val hits = aggregate(toks, lit(0),
      (acc, t) => acc + when(t.isin(stopwords: _*), 1).otherwise(0))
    when(size(toks) === 0, 0.0d)
      .otherwise(hits.cast("double") / size(toks).cast("double"))
  }

  /** Mean token length in characters (0 for empty text). */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    val totalLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    when(size(toks) === 0, 0.0d)
      .otherwise(totalLen.cast("double") / size(toks).cast("double"))
  }

  /** Composite quality heuristic in [0,1]: length sweet-spot, sane
    * punctuation, non-degenerate word shape. Deliberately simple and
    * fully SQL-expressible; thresholds follow common web-text filters
    * (Gopher-style length/punct rules).
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenOk = when(nTok >= 10 && nTok <= 5000, 1.0d)
      .when(nTok > 0, 0.5d).otherwise(0.0d)
    val punctOk = when(punctRatio(text) <= 0.2d, 1.0d).otherwise(0.3d)
    val wordOk = when(meanTokenLen(text).between(2.0d, 12.0d), 1.0d).otherwise(0.4d)
    round((lenOk * 0.4d + punctOk * 0.3d + wordOk * 0.3d), 4)
  }

  /** Public so the SQL oracle derives from the same profiles. */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "las"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "zu"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "it" -> Seq("il", "la", "di", "che", "e", "un", "una", "per", "con", "sono"))

  /** N-gram-free language-id heuristic: score each language by its
    * stopword hit-rate over the token stream and take the argmax
    * (`und` — undetermined — when nothing matches). A real model (e.g.
    * fastText) would slot in behind the same column contract.
    */
  def languageId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scored = stopwordProfiles.toSeq.map { case (lang, words) =>
      val hits = aggregate(toks, lit(0),
        (acc, t) => acc + when(t.isin(words: _*), 1).otherwise(0))
      struct(hits.as("hits"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  /** Per-document top-`k` TF-IDF keywords over the corpus.
    *
    * Three-stage plan, each stage the canonical distributed shape:
    * (doc, token) term frequencies by one hash aggregation; document
    * frequencies by a second aggregation over the (already-distinct)
    * TF pairs — vocabulary-sized, so DF joins back on the token key as
    * a regular shuffle join (a 100 TB corpus has a vocabulary far too
    * large to broadcast); the corpus size rides as a one-row broadcast.
    * The final per-document top-k is a `row_number` window that
    * Spark's `WindowGroupLimit` pre-reduces before the exchange, so
    * no doc's full vocabulary crosses the wire.
    *
    * Scores are `tf · ln((N+1)/(df+1))`, rounded to 6 places BEFORE
    * ranking (ties broken by token) so the ranking is reproducible in
    * any engine regardless of last-ulp `ln` differences.
    */
  def tfidfTopK(df: DataFrame, textCol: String = "text",
                idCol: String = "doc_id", k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol),
      explode(tokens(normalize(col(textCol)))).as("token"))
    val tf = tok.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(docFreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + lit(1.0d)) / (col("df") + lit(1.0d))), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
  }

  /** Corpus-wide adjacent-token-pair counts — the candidate-scoring
    * pass of one BPE merge iteration (Sennrich et al. 2016, "Neural
    * Machine Translation of Rare Words with Subword Units") run as a
    * distributed job; equally the bigram phrase table. One codegen'd
    * `zip_with` of the token array against its own tail (no self-join)
    * feeds one explode plus one hash aggregation with map-side partial
    * combine — the canonical distributed word count, so duplicate
    * pairs collapse before the exchange. Top-k consumers compose
    * `orderBy(cnt desc, pair).limit(k)`, which Spark executes as
    * TakeOrderedAndProject (per-partition heap, never a global sort).
    *
    * Pair generation is the native [[graft.functions.AdjacentPairs]]
    * (pairs are contiguous byte ranges of the normalized buffer →
    * zero-copy slices); the compositional
    * `zip_with(slice, slice, concat)` form measured ~30 s of the 41 s
    * job at the 5 M-doc probe scale.
    */
  def adjacentPairCounts(df: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    df.select(explode(column(graft.functions.AdjacentPairs(
        expression(col(textCol))))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Conf key (default 2 M, 0 forces the distributed loop): largest
    * distinct-word vocabulary [[bpeLearnMerges]] finishes driver-side.
    * The corpus-sized word-count pass is always distributed; the merge
    * loop itself only ever touches the VOCABULARY-sized (word, count)
    * table, and for any realistic tokenizer run that table fits driver
    * memory (2 M words ≈ tens of MB of symbol arrays) — where the
    * standard incremental pair-heap trainer does a 30–50 k-merge run
    * in seconds, vs one distributed aggregation + 1-row collect +
    * localCheckpoint of fixed overhead PER MERGE on the distributed
    * path (hours at real merge counts). Above the cap the loop stays
    * distributed — same merge table either way (spec-pinned).
    */
  val BpeDriverMaxVocabKey = "spark.graft.bpe.driverMaxVocab"
  val BpeDriverMaxVocabDefault: Long = 2000000L

  /** Character-level BPE merge learning (Sennrich et al. 2016) — the
    * step after [[adjacentPairCounts]] in training a tokenizer on a
    * corpus. One distributed pass aggregates word counts (the ONLY
    * corpus-sized job); the merge loop then runs on the
    * vocabulary-sized (word, count) table, driver-side whenever the
    * vocabulary fits [[BpeDriverMaxVocabKey]] (the standard trainer
    * shape: a lazily-invalidated pair max-heap with incremental count
    * updates touching only the words that contain the merged pair),
    * and as an iterative Spark job otherwise: per iteration a weighted
    * symbol-pair count (hash aggregation with map-side combine), a
    * 1-row argmax brought to the driver, and a codegen'd merge
    * application over a localCheckpoint-truncated lineage.
    *
    * Merge application is leftmost-nonoverlapping greedy — on the
    * distributed path via LITERAL replace on a double-space-expanded
    * symbol string (`" x  y "` → `" xy "`): expanding separators to
    * two spaces makes adjacent match sites share no characters, so one
    * consuming left-to-right `replace` pass merges a whole run
    * pairwise — the exact greedy semantics — with no lookaround regex,
    * which keeps the operation reproducible on RE2-based engines (the
    * DuckDB oracle unrolls the same iterations with the same
    * `replace`). The driver path applies the same greedy rule with an
    * explicit left-to-right scan, and breaks count ties by comparing
    * pair strings as UTF-8 bytes — exactly Spark's `asc` on strings —
    * so both paths emit the identical merge sequence (spec-pinned).
    *
    * Ties argmax by (count desc, pair asc) so the merge sequence is
    * deterministic. Returns (step, pair, cnt) — the ordered merge
    * table, `step` starting at 1.
    */
  def bpeLearnMerges(
      df: DataFrame,
      textCol: String = "text",
      numMerges: Int = 8): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df
      .select(explode(tokens(normalize(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      // symbolize: one char per symbol, single-space separated.
      // java.util.regex matches `.` per CODE POINT (surrogate pairs
      // stay one symbol — spec-pinned), same as the oracle's RE2.
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("wc"))
      .cache()
    try {
      val driverMax = spark.conf
        .get(BpeDriverMaxVocabKey, BpeDriverMaxVocabDefault.toString).toLong
      val nVocab = words.count()
      val merges =
        if (driverMax > 0 && nVocab <= driverMax)
          learnMergesDriver(words.as[(String, Long)].collect(), numMerges)
        else learnMergesDistributed(words, numMerges)
      merges.toDF("step", "pair", "cnt")
    } finally words.unpersist()
  }

  /** BPE subword tokens of `text` under a learned merge table — the
    * apply half of the tokenizer story ([[bpeLearnMerges]] is the
    * learn half). Sequential-in-order greedy application, identical
    * to the trainer's own merge loop, so encoding a training word
    * reproduces the trainer's final symbolization exactly
    * (spec-pinned). `merges` is vocabulary-sized driver metadata; the
    * expression ships it once per executor and caches per-word
    * encodings, so corpus-scale encoding costs one pass with a
    * vocab-sized working set — a pure scalar expression, usable in
    * batch and streaming plans alike.
    */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BpeEncodeExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(text), merges))

  /** Exact token-budget accounting under a learned tokenizer: the
    * subword count [[Sampling.budgetSelect]] wants where
    * [[subwordCountEstimate]] only guesses.
    */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    size(bpeEncode(text, merges))

  /** Collect a [[bpeLearnMerges]] result (step, pair, cnt) into the
    * ordered (x, y) table [[bpeEncode]] consumes — vocabulary-sized
    * by the trainer's construction.
    */
  def collectMerges(mergesDf: DataFrame): Seq[(String, String)] = {
    val spark = mergesDf.sparkSession
    import spark.implicits._
    mergesDf.orderBy(col("step"))
      .select(col("pair")).as[String].collect().toSeq
      .map { p =>
        val i = p.indexOf(' ')
        require(i > 0 && i < p.length - 1, s"malformed merge pair '$p'")
        (p.substring(0, i), p.substring(i + 1))
      }
  }

  /** Spark's `asc` on strings is unsigned UTF-8 byte order; the driver
    * trainer's tie-break must match it exactly (Java String.compareTo
    * is UTF-16 code-unit order, which disagrees above the BMP), so
    * compare through the engine's own comparator.
    */
  private def utf8Compare(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Driver-side merge loop over the collected vocabulary: the
    * standard incremental trainer. `stats` holds exact weighted
    * adjacent-pair counts (overlapping occurrences counted, as the
    * distributed pair explode does); `where` indexes which words can
    * contain a pair (never pruned — stale entries are skipped by the
    * containment check); the max-heap is lazily invalidated (an entry
    * is valid iff its count still equals `stats`). Each merge touches
    * only the indexed words, subtracting their old pair contributions
    * and adding the post-merge ones — O(sum of touched word lengths),
    * not O(vocabulary), per merge.
    */
  private[graft] def learnMergesDriver(
      vocab: Array[(String, Long)], numMerges: Int): Seq[(Int, String, Long)] = {
    import scala.collection.mutable
    val syms: Array[Array[String]] = vocab.map(_._1.split(' '))
    val wc: Array[Long] = vocab.map(_._2)
    val stats = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def updatePairs(i: Int, sign: Long, dirty: mutable.Set[(String, String)]): Unit = {
      val s = syms(i)
      val c = wc(i) * sign
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val nv = stats.getOrElse(p, 0L) + c
        if (nv == 0L) stats.remove(p) else stats.update(p, nv)
        if (sign > 0L) where.getOrElseUpdate(p, mutable.HashSet.empty) += i
        dirty += p
        j += 1
      }
    }
    val init = mutable.HashSet.empty[(String, String)]
    syms.indices.foreach(updatePairs(_, 1L, init))
    // max by count, ties broken toward the UTF-8-smallest "x y" string
    implicit val heapOrd: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c
          else utf8Compare(b._2 + " " + b._3, a._2 + " " + a._3)
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)]
    stats.foreach { case ((x, y), c) => heap.enqueue((c, x, y)) }
    val out = mutable.ListBuffer.empty[(Int, String, Long)]
    var step = 1
    while (step <= numMerges && heap.nonEmpty) {
      var chosen: Option[(String, String, Long)] = None
      while (chosen.isEmpty && heap.nonEmpty) {
        val (c, x, y) = heap.dequeue()
        if (stats.get((x, y)).contains(c)) chosen = Some((x, y, c))
      }
      chosen.foreach { case (x, y, cnt) =>
        out += ((step, x + " " + y, cnt))
        val dirty = mutable.HashSet.empty[(String, String)]
        where.getOrElse((x, y), mutable.HashSet.empty).foreach { i =>
          val s = syms(i)
          var has = false
          var j = 0
          while (!has && j < s.length - 1) {
            has = s(j) == x && s(j + 1) == y
            j += 1
          }
          if (has) {
            updatePairs(i, -1L, dirty)
            val merged = new mutable.ArrayBuffer[String](s.length)
            var k = 0
            while (k < s.length) {
              if (k < s.length - 1 && s(k) == x && s(k + 1) == y) {
                merged += x + y
                k += 2
              } else {
                merged += s(k)
                k += 1
              }
            }
            syms(i) = merged.toArray
            updatePairs(i, 1L, dirty)
          }
        }
        dirty.foreach { p =>
          stats.get(p).foreach(c => heap.enqueue((c, p._1, p._2)))
        }
        step += 1
      }
    }
    out.toSeq
  }

  /** Distributed merge loop — the over-cap fallback; see
    * [[bpeLearnMerges]] for the shared semantics.
    */
  private[graft] def learnMergesDistributed(
      words: DataFrame, numMerges: Int): Seq[(Int, String, Long)] = {
    val spark = words.sparkSession
    import spark.implicits._
    var syms = words
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      val toks = split(col("s"), " ")
      val n = size(toks)
      val pairs = when(n < 2, array().cast("array<string>"))
        .otherwise(zip_with(
          slice(toks, lit(1), n - lit(1)),
          slice(toks, lit(2), n - lit(1)),
          (a, b) => concat(a, lit(" "), b)))
      val best = syms.select(col("wc"), explode(pairs).as("p"))
        .groupBy(col("p")).agg(sum(col("wc")).as("cnt"))
        .orderBy(desc("cnt"), asc("p"))
        .limit(1).as[(String, Long)].collect()
      if (best.isEmpty) exhausted = true
      else {
        val (pair, cnt) = best.head
        merges += ((step, pair, cnt))
        val from = " " + pair.replace(" ", "  ") + " "
        val to = " " + pair.replace(" ", "") + " "
        // localCheckpoint truncates the loop-carried lineage: without
        // it, iteration i re-applies all i-1 prior merges from the
        // cached base and Catalyst re-analyzes an O(i)-deep plan —
        // quadratic over a realistic 30k-merge run. The materialized
        // vocab table is executor-resident and vocabulary-sized.
        syms = syms.select(
          trim(regexp_replace(
            replace(
              concat(lit(" "), replace(col("s"), lit(" "), lit("  ")), lit(" ")),
              lit(from), lit(to)),
            "  +", " ")).as("s"),
          col("wc")).localCheckpoint()
        step += 1
      }
    }
    merges.toSeq
  }

  /** Convenience transform attaching the full analysis column set. */
  def analyze(textCol: String = "text"): DataFrame => DataFrame = df => {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_subwords", subwordCountEstimate(t))
      .withColumn("punct_ratio", round(punctRatio(t), 6))
      .withColumn("stopword_ratio", round(stopwordRatio(t), 6))
      .withColumn("mean_token_len", round(meanTokenLen(t), 6))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", languageId(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  /** Char-trigram language-model typicality — the CCNet-style quality
    * signal (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", arXiv:1911.00359, which filters on
    * KenLM perplexity; the n-gram LM here is self-trained on the corpus
    * so low scores flag atypical text: boilerplate, mojibake, codes).
    *
    * Score per doc = mean over positions of
    * `ln((c3 + 0.5) / (c2 + 0.5·V))` — add-k-smoothed trigram
    * conditional likelihood, V = distinct characters in the corpus.
    * Docs with no trigram after normalization are dropped.
    *
    * Fully distributed, no driver-side model: trigram counts are one
    * aggregation; bigram CONTEXT counts derive from them (sum over the
    * third char — no second scan); both are vocabulary-sized (≤ V³
    * rows) and broadcast back onto the position stream, so the corpus
    * is read once and only vocabulary-sized tables cross the wire.
    */
  def typicalityScore(df: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame =
    typicalityScoreAgainst(df, df, textCol, idCol)

  /** CCNet's selection step: per-domain typicality terciles (the paper
    * buckets per LANGUAGE by perplexity into head/middle/tail and keeps
    * head+middle for training — arXiv:1911.00359 §3.3). `ntile` over a
    * window PARTITIONED BY the domain: each domain's ranking sorts
    * independently (the per-language job CCNet runs), never a global
    * single-partition window. Ordering ties break on the id, so bucket
    * assignment is deterministic and engine-portable. bucket 1 = LEAST
    * typical (scores sort ascending, so the highest scores land in
    * bucket `nBuckets`; CCNet's "head" is the LOW-perplexity =
    * HIGH-typicality end, i.e. head = bucket `nBuckets`, tail =
    * bucket 1 — keep-head+middle means dropping bucket 1).
    */
  def typicalityBuckets(
      df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      domainCol: String = "source", nBuckets: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = typicalityScore(df, textCol, idCol)
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col("typicality_r"), col(idCol))
    df.select(col(idCol), col(domainCol))
      .join(scored, Seq(idCol))
      .withColumn("bucket", ntile(nBuckets).over(w).cast("long"))
  }

  /** [[typicalityScore]] in its cross-corpus mode — the actual CCNet
    * setup: the LM trains on a REFERENCE corpus (Wikipedia, in the
    * paper) and scores a different one, so "typical" means "looks like
    * the reference". Trigrams unseen in the reference score through
    * the same add-k smoothing (counts coalesce to 0 — the k mass is
    * exactly what makes unseen events finite).
    */
  def typicalityScoreAgainst(
      df: DataFrame, reference: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val withT = df.select(col(idCol).as("id"), normalize(col(textCol)).as("__t"))
      .where(length(col("__t")) >= 3)
    val refT = reference.select(normalize(col(textCol)).as("__t"))
      .where(length(col("__t")) >= 3)
    // trigrams as packed-codepoint longs (one O(L) native pass; the
    // packing is injective, so long-keyed counts ≡ string-keyed counts
    // and a >>21 shift IS the bigram-context prefix — no second scan)
    val g3 = withT.select(col("id"),
      explode(column(graft.functions.CharNgramCodes(
        expression(col("__t")), 3))).as("g3"))
    // LM tables come from the REFERENCE corpus; V: distinct reference
    // characters = distinct 1-gram codes (one tiny agg, one-row
    // broadcast — the domain-mix scalar pattern)
    val refG3 = refT.select(explode(column(graft.functions.CharNgramCodes(
      expression(col("__t")), 3))).as("g3"))
    val vDf = refT.select(explode(column(graft.functions.CharNgramCodes(
        expression(col("__t")), 1))).as("c1"))
      .agg(countDistinct(col("c1")).as("V"))
    val c3 = refG3.groupBy("g3").agg(count(lit(1)).as("c3"))
    val c2 = c3.groupBy(shiftright(col("g3"), 21).as("g2"))
      .agg(sum(col("c3")).as("c2"))
    // No broadcast hint on c3/c2: their size grows with the reference
    // corpus's DISTINCT trigrams, not just V — for a large multilingual
    // reference a forced broadcast is a driver/executor OOM. AQE sees
    // the actual post-aggregation bytes at runtime and broadcasts only
    // when the table is genuinely small (the monolingual common case),
    // falling back to a shuffle join above the threshold. vDf stays
    // hinted: it is one row by construction.
    g3.join(c3, Seq("g3"), "left")
      .withColumn("g2", shiftright(col("g3"), 21))
      .join(c2, Seq("g2"), "left")
      .crossJoin(broadcast(vDf))
      .groupBy(col("id").as(idCol))
      .agg(round(avg(
        log((coalesce(col("c3"), lit(0L)) + lit(0.5)) /
          (coalesce(col("c2"), lit(0L)) + lit(0.5) * col("V")))), 6)
        .as("typicality_r"))
  }
}
