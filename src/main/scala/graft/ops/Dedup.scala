package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

import graft.functions.{JaccardLong, MinHashFromHashes, MinHashSignature, ShingleHashes, SimHash64}

import org.slf4j.LoggerFactory

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes (the 100 TB story):
  *  - exact dedup is one hash-partitioned aggregation — the canonical
  *    form is `groupBy(fingerprint)`, which AQE handles at any size;
  *  - MinHash/SimHash signatures are computed per-row with native
  *    expressions (no shuffle); only the *candidate generation* join
  *    shuffles, on short band keys whose cardinality (≈ rows × bands)
  *    is controlled, and band buckets are capped to bound worst-case
  *    skew (a degenerate bucket of B identical docs would otherwise
  *    produce B² pairs);
  *  - verification joins fetch only candidate pairs — never a full
  *    cross product.
  */
object Dedup {

  private val log = LoggerFactory.getLogger(getClass)

  def wordShingles(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(TextAnalysis.normalize(text))
    when(size(toks) <= k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - k + 1),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  def minhash_signature(tokens: Column, numHashes: Int = 64, seed: Int = 42): Column =
    column(MinHashSignature(expression(tokens), numHashes, seed))

  def simhash64(tokens: Column, seed: Int = 42): Column =
    column(SimHash64(expression(tokens), seed))

  /** Distinct 64-bit hashes of the word k-shingles of the normalized
    * text — single native pass (see [[graft.functions.ShingleHashes]]).
    */
  def shingle_hashes(text: Column, k: Int, seed: Int = 42): Column =
    column(ShingleHashes(expression(text), k, seed))

  def minhash_from_hashes(hashes: Column, numHashes: Int = 64): Column =
    column(MinHashFromHashes(expression(hashes), numHashes))

  /** Exact Jaccard of two distinct bigint-array sets, natively. */
  def jaccard_long(a: Column, b: Column): Column =
    column(JaccardLong(expression(a), expression(b)))

  /** Exact-duplicate groups keyed by normalized-text fingerprint:
    * one row per distinct content with the canonical (minimum) id and
    * the duplicate count. Single hash aggregation.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Drop exact duplicates, keeping the minimum id per content group.
    * Window-based: one shuffle on the fingerprint, no join back.
    */
  def exactDrop(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(TestAnalysisFingerprint(textCol))
    df.withColumn("__keep", min(col(idCol)).over(w))
      .where(col(idCol) === col("__keep"))
      .drop("__keep")
  }
  private def TestAnalysisFingerprint(textCol: String): Column =
    TextAnalysis.fingerprint(col(textCol))

  /** Incremental ingest dedup: drop every new document whose content
    * fingerprint is already in the ingested corpus' fingerprint index,
    * then dedup the survivors among themselves (min id wins). This is
    * the daily-batch production pattern — the historical corpus is
    * represented ONLY by its fingerprint column (8–32 bytes/doc, the
    * thing you'd keep in a compact index table at 100 TB), never
    * rescanned. Two hash-partitioned operations on the fingerprint:
    * one anti join, one window dedup; AQE sizes both.
    */
  def incrementalExactDedup(
      newDocs: DataFrame,
      knownFingerprints: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      fingerprintCol: String = "fingerprint"): DataFrame = {
    val known = knownFingerprints
      .select(col(fingerprintCol).as("__fp")).distinct()
    exactDrop(
      newDocs.withColumn("__fp", TestAnalysisFingerprint(textCol))
        .join(known, Seq("__fp"), "left_anti")
        .drop("__fp"),
      textCol, idCol)
  }

  /** [[incrementalExactDedup]] with a Bloom-filter pre-filter — the
    * shape the anti-join takes at 100 TB. The fingerprint index is
    * folded ONCE into a compact Bloom filter (distributed treeAggregate
    * build, ~1.2 bytes/entry at 1% fpp; the driver holds only the
    * bitmap), and each new document probes it with a codegen'd native
    * expression:
    *
    *  - `mightContain == false` → DEFINITELY new (no false negatives):
    *    the row skips the anti-join entirely — no shuffle.
    *  - `mightContain == true` → true duplicate OR an fpp-rate false
    *    positive: only this sliver anti-joins the index to resolve.
    *
    * On a daily batch that is mostly-new content, the anti-join
    * exchange shrinks from |batch| rows to |dups| + fpp·|batch| — the
    * filter turns a full-batch shuffle into a sliver shuffle while the
    * result stays EXACTLY [[incrementalExactDedup]]'s (spec-pinned).
    */
  def incrementalExactDedupBloom(
      newDocs: DataFrame,
      knownFingerprints: DataFrame,
      expectedItems: Long,
      fpp: Double = 0.01,
      textCol: String = "text",
      idCol: String = "doc_id",
      fingerprintCol: String = "fingerprint"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    val known = knownFingerprints
      .select(col(fingerprintCol).as("__fp")).distinct()
    val bf = known.stat.bloomFilter("__fp", math.max(1L, expectedItems), fpp)
    val stamped = newDocs.withColumn("__fp", TestAnalysisFingerprint(textCol))
    val maybe = column(graft.functions.BloomMightContain(
      expression(col("__fp")), bf))
    // NULL fingerprint (NULL text) ⇒ maybe is NULL: such rows can never
    // match the index (NULL never equi-joins), so they are definitely
    // "fresh" — coalesce keeps them on the no-shuffle leg instead of
    // silently dropping them from BOTH legs, preserving exact parity
    // with the plain anti-join path.
    val fresh = stamped.where(!coalesce(maybe, lit(false)))
    val resolved = stamped.where(coalesce(maybe, lit(false)))
      .join(known, Seq("__fp"), "left_anti")
    exactDrop(fresh.unionByName(resolved).drop("__fp"), textCol, idCol)
  }

  /** Fixed-width token-window segments of the normalized text — C4's
    * "three-sentence span" (Raffel et al. 2020, §2.3) generalized to
    * `w`-token windows for corpora without sentence boundaries. The
    * final window may be shorter. Empty/blank/NULL text → empty/NULL
    * array (no rows after explode).
    *
    * One native byte-level pass ([[graft.functions.WindowSegments]]).
    * The compositional forms both lose badly at scale: a
    * `transform(sequence, i => slice(toks, ...))` re-evaluates the
    * tokenize+normalize chain per WINDOW (lambda bodies defeat
    * common-subexpression elimination), and the marker-insert-regex
    * rewrite's `((?:\\S+ ){w-1}\\S+) ` pattern alone measured ~24 s
    * over the 5M-doc probe corpus.
    */
  def windowSegments(text: Column, w: Int): Column = {
    require(w >= 1, s"segment width must be >= 1, got $w")
    column(graft.functions.WindowSegments(expression(text), w))
  }

  /** Per-window `xxhash64` values, positionally aligned with
    * [[windowSegments]] and byte-identical to hashing its strings
    * (same bytes, same seed) -- feed this as `segmentHashes` to
    * [[dropDuplicateSegments]] so its occurrence side never allocates
    * segment strings.
    */
  def windowSegmentHashes(text: Column, w: Int): Column = {
    require(w >= 1, s"segment width must be >= 1, got $w")
    column(graft.functions.WindowSegmentHashes(expression(text), w))
  }

  /** Delimiter segments — [[dropDuplicateSegments]]' real-world mode
    * (RefinedWeb-style exact LINE dedup; C4 splits on sentences).
    * Blank segments are removed: an empty line is format, not content,
    * and corpus-wide "first occurrence wins" would otherwise delete
    * every blank line but one across the whole corpus.
    */
  def lineSegments(text: Column, delim: String = "\n"): Column =
    // blank = whitespace-only (trim() strips only 0x20, which would let
    // tab- or CR-only lines survive as corpus-wide "content" segments)
    filter(split(text, java.util.regex.Pattern.quote(delim)),
      s => s.rlike("\\S"))

  /** Corpus-wide duplicate-segment removal — C4 §2.3 ("we discard all
    * but one of any three-sentence span occurring more than once in
    * the data set"; reference scope: pg-bifrost has no text ops — this
    * is part of the training-data surface layered on top). Every
    * occurrence of a segment after the FIRST (ordered by (id, pos))
    * is dropped and documents are reassembled from their surviving
    * segments in order; a document whose every segment was already
    * seen disappears entirely, exactly as in C4.
    *
    * 100 TB shape — segment TEXT never shuffles:
    *  1. explode to (xxhash64(seg), id, pos) triples — ~24-byte rows;
    *  2. one hash aggregation takes min(struct(id, pos)) per hash
    *     (map-side partial collapses duplicates before the exchange);
    *  3. winners regroup into a per-document kept-position list
    *     (second narrow shuffle, ≤ one row per surviving segment);
    *  4. one equi-join back to the docs; reassembly is a positional
    *     `filter` + `concat_ws` over the re-derived segment array —
    *     linear, no second explode.
    * Total wide row movement is 1× corpus text (the doc-side join),
    * vs 2× for the naive window-over-exploded-segments formulation.
    * Segment identity is the 64-bit hash, as in C4 itself: a collision
    * wrongly merges two distinct segments with probability ≈ n²/2⁶⁵.
    *
    * `packed` (default on, the span-family posting convention) packs
    * each occurrence into ONE non-negative long `(id << 30) | pos`, so
    * the first-occurrence aggregation runs as a primitive-buffer
    * HashAggregate — a struct min/min_by falls back to SortAggregate,
    * which per-partition SORTS the whole exploded occurrence stream
    * (the measured span-family bottleneck class). The packed range is
    * ids < 2^33 (~8.6 B docs; one bit narrower than pack_id_pos so the
    * sign bit stays clear and SIGNED min == (id, pos) order) and
    * positions < 2^30; out-of-range FAILS LOUDLY — full-range ids must
    * pass `packed = false` for the struct layout.
    *
    * CONTRACT: `segments` (and `segmentHashes`, which must be the
    * positionally aligned content hashes of `segments`) must be
    * DETERMINISTIC expressions. The plan evaluates `segments` in two
    * independent subtrees — the occurrence stream that elects first
    * winners and the reassembly side that re-derives the segment
    * array per document — so a nondeterministic expression (random
    * salt, unstable UDF, non-deterministic source ordering feeding a
    * positional segmenter) would silently desync the kept positions
    * from the array they index, corrupting `text_dedup` rather than
    * failing. Both shipped segmenters ([[windowSegments]]/
    * [[lineSegments]] and their hash twins) are pure functions of the
    * text value and satisfy this by construction.
    *
    * Returns (id, text_dedup, n_kept, n_dropped).
    */
  def dropDuplicateSegments(
      df: DataFrame,
      textCol: String,
      idCol: String,
      segments: Column,
      sep: String = " ",
      packed: Boolean = true,
      segmentHashes: Option[Column] = None,
      reassemblyHint: Option[String] = None): DataFrame = {
    val base = df.select(col(idCol), segments.as("__segs"))
    // `segmentHashes` (positionally aligned content hashes of
    // `segments`, e.g. [[windowSegmentHashes]]) lets the occurrence
    // side skip segment-string allocation entirely; the generic path
    // hashes the exploded strings.
    val occ = segmentHashes match {
      case Some(h) =>
        df.select(col(idCol), posexplode(h).as(Seq("__pos", "__h")))
          .select(col("__h"), col(idCol), col("__pos"))
      case None =>
        base
          .select(col(idCol), posexplode(col("__segs")).as(Seq("__pos", "__seg")))
          .select(xxhash64(col("__seg")).as("__h"), col(idCol), col("__pos"))
    }
    if (packed) {
      // non-integral id types must fail loudly, not cast to NULL and
      // silently empty the result (the repeatedSpans contract)
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val idType = df.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
        s"dropDuplicateSegments packed mode needs an integral id column; " +
          s"$idCol is $idType — pre-map string ids or pass packed = false")
    }
    val kept = (if (packed) {
      val id = col(idCol).cast("long")
      val packedOcc = when(
        id.isNull || id < 0L || id >= lit(1L << 33) || col("__pos") >= lit(1 << 30),
        raise_error(concat(
          lit("dropDuplicateSegments packed overflow: id="),
          coalesce(id.cast("string"), lit("NULL")),
          lit(" pos="), col("__pos").cast("string"),
          lit(" (ids must be non-null, in [0, 2^33), positions in [0, 2^30); " +
            "pass packed = false for the full-range struct layout)"))))
        .otherwise(shiftleft(id, 30).bitwiseOR(col("__pos").cast("long")))
      occ.select(col("__h"), packedOcc.as("__occ"))
        .groupBy(col("__h"))
        .agg(min(col("__occ")).as("__first"))
        .groupBy(shiftrightunsigned(col("__first"), 30).as(idCol))
        .agg(sort_array(collect_list(
          col("__first").bitwiseAND(lit((1L << 30) - 1)).cast("int"))).as("__keep"))
    } else {
      occ.groupBy(col("__h"))
        .agg(min_by(struct(col(idCol), col("__pos")),
          struct(col(idCol), col("__pos"))).as("__first"))
        .groupBy(col("__first")(idCol).as(idCol))
        .agg(sort_array(collect_list(col("__first")("__pos"))).as("__keep"))
    })
    // reassembly walks the SORTED kept-position list and indexes the
    // segment array — O(n_kept), vs the filter+array_contains form's
    // O(n_segs · n_kept) rescan per document. The join defaults to
    // Spark's pick (sort-merge once the kept side outgrows broadcast:
    // safe, spillable — its cost is sorting the document text side).
    // `reassemblyHint = Some("shuffle_hash")` builds a hash on the
    // narrow kept side instead, skipping that sort — but SHJ cannot
    // spill its build, so only use it where per-partition build size
    // is bounded (the 50 M-doc single-JVM probe: SMJ 126 s stable;
    // forced SHJ failed outright at 8 g heap/32 partitions and ran
    // unstably at 32 g — evidence/tokenizer_linededup/).
    val keptSide = reassemblyHint.fold(kept)(kept.hint(_))
    base.join(keptSide, Seq(idCol))
      .select(
        col(idCol),
        concat_ws(sep, transform(col("__keep"),
          i => element_at(col("__segs"), i + 1))).as("text_dedup"),
        size(col("__keep")).cast("long").as("n_kept"),
        (size(col("__segs")) - size(col("__keep"))).cast("long").as("n_dropped"))
  }

  /** MinHash-LSH candidate duplicate pairs.
    *
    * shingle → signature (native expression, no shuffle) → split the
    * signature into `bands` bands → explode to (bandIdx, bandKey) →
    * self-join on the band key → distinct (a,b) pairs with a < b,
    * annotated with exact shingle-set Jaccard for thresholding.
    *
    * `maxBucketSize` caps pathological buckets (boilerplate that hashes
    * thousands of docs into one band) to bound the pair blow-up.
    */
  /** (id, hs, sig) per document — the persisted form of a corpus for
    * incremental near-dedup: `hs` (distinct 64-bit shingle hashes)
    * feeds exact-Jaccard verification, `sig` regenerates band keys
    * without reparsing text. Write it once per corpus; each ingest
    * batch joins against it via [[incrementalNearDedup]].
    */
  def nearDedupIndex(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, shingleSize: Int = 3, seed: Int = 42): DataFrame =
    df.select(
      col(idCol).as("id"),
      shingle_hashes(col(textCol), shingleSize, seed).as("hs"))
      .withColumn("sig", minhash_from_hashes(col("hs"), numHashes))

  /** Band rows carry only (id, band, bandKey) — never the shingle
    * arrays, which would otherwise ride through the self-join and the
    * distinct (the dominant cost at scale).
    */
  private def bandRows(sigDf: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    sigDf.select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bandKey")
  }

  def minhashCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      seed: Int = 42,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")

    val withSig = nearDedupIndex(df, textCol, idCol, numHashes, shingleSize, seed)
    val banded = bandRows(withSig.select(col("id"), col("sig")), numHashes, bands)

    // Cap bucket size to bound the quadratic pair expansion per bucket.
    val wBucket = Window.partitionBy("band", "bandKey").orderBy("id")
    val capped = banded
      .withColumn("__rn", row_number().over(wBucket))
      .where(col("__rn") <= maxBucketSize)
      .drop("__rn")

    val a = capped.select(col("band"), col("bandKey"), col("id").as("id_a"))
    val b = capped.select(col("band"), col("bandKey"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "bandKey"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    // Verify on 64-bit shingle hashes: set operations over longs, not
    // strings (same jaccard modulo ~2^-64 collision probability).
    val sets = withSig.select(col("id"), col("hs"))
    pairs
      .join(sets.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("jaccard", round(jaccard_long(col("hs_a"), col("hs_b")), 6))
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash duplicate pairs above a Jaccard threshold. */
  def minhashDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, seed: Int = 42): DataFrame =
    minhashCandidates(df, textCol, idCol, numHashes, bands, shingleSize, seed)
      .where(col("jaccard") >= threshold)

  /** Incremental MinHash near-dedup: the pairs [[minhashDuplicates]]
    * would emit on `history ∪ newBatch`, restricted to pairs whose
    * NEWER side is in the batch — computed WITHOUT re-pairing history
    * against itself. `index` is [[nearDedupIndex]] over the history
    * corpus (persisted once, appended per batch).
    *
    * Contract: every history id precedes every batch id (the natural
    * ingest ordering). Under it the result is EXACTLY the batch run's
    * restriction — including `maxBucketSize` semantics, because history
    * rows outrank batch rows in every bucket just as they do in the
    * union (spec-pinned).
    *
    * The 100 TB shape: batch band keys are batch-sized, so the touched
    * bucket set broadcasts and the history side is scan+filter — the
    * index never shuffles on the banding leg. History `hs` arrays are
    * fetched only for verified-candidate ids (a broadcast-able pair
    * list), so the heavy column never crosses an exchange either.
    */
  def incrementalNearDedup(
      newBatch: DataFrame, textCol: String, idCol: String, index: DataFrame,
      threshold: Double = 0.8, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, seed: Int = 42,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // Materialize the BATCH signature table once (eager
    // localCheckpoint): the plan reads it three times — banding (sig), the
    // verification sets union (hs), and the id_b join-back (hs) — so
    // left lazy the batch text is scanned, shingled and minhashed 3×
    // per run (the r21 plan dump showed exactly this). Batch-sized
    // rows (the daily-ingest batch, not the corpus), so the
    // materialization is bounded at any scale; the corpus-sized
    // `index` is deliberately NOT materialized — its two reads are
    // column-pruned scans (sig-only and hs-only) of the persisted
    // index table, which a materialization would un-prune.
    val newIdx =
      nearDedupIndex(newBatch, textCol, idCol, numHashes, shingleSize, seed)
        .localCheckpoint()
    val newBands = bandRows(newIdx.select(col("id"), col("sig")), numHashes, bands)
      .withColumn("src", lit(1))
    val touched = newBands.select(col("band"), col("bandKey")).distinct()
    val histBands = bandRows(index.select(col("id"), col("sig")), numHashes, bands)
      .join(broadcast(touched), Seq("band", "bandKey"), "leftsemi")
      .withColumn("src", lit(0))

    // Union-cap reproduction: ordering by id ranks every history row in
    // a bucket ahead of every batch row (the id contract), so the rows
    // admitted here are the rows the batch run admits.
    val w = Window.partitionBy("band", "bandKey").orderBy("id")
    val capped = histBands.unionByName(newBands)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxBucketSize)
      .drop("__rn")

    val aSide = capped.select(col("band"), col("bandKey"), col("id").as("id_a"))
    val bSide = capped.where(col("src") === 1)
      .select(col("band"), col("bandKey"), col("id").as("id_b"))
    // Materialize (eager): the candidate pairs feed BOTH the
    // min/max probe below and the verification join — left lazy, the
    // whole banding/window/self-join subplan would execute twice
    // (measured at 100×: the double discovery alone made incremental
    // ingest slower than full recompute). Batch-bounded rows; blocks
    // are reclaimed by the ContextCleaner once the result is dropped.
    val pairs = aSide.join(bSide, Seq("band", "bandKey"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
      .localCheckpoint()

    // Fetch history `hs` only for CANDIDATE ids: the fat shingle-hash
    // column is the index's dominant bytes, and a plain join reads it
    // for the whole corpus (the broadcast prunes rows after the scan,
    // not the scan itself — measured: incremental discovery tied full
    // recompute at 100× because of exactly this). The candidate set is
    // batch-bounded (band collisions, bucket-capped), so push its
    // driver-side [min, max] as a 2-literal scan FILTER — parquet
    // row-group stats on `id` prune the untouched corpus's hs bytes
    // when the index is written id-sorted;
    // a large IN list pushes down as exactly this range anyway, so the
    // O(1) plan loses nothing — and exact row membership rides a
    // broadcast semi-join instead of 50 k inlined literals.
    val mm = pairs.agg(
      min(col("id_a")).as("lo"), max(col("id_a")).as("hi")).head
    val histSets =
      if (mm.isNullAt(0)) // no candidates: skip the history fetch
        index.select(col("id"), col("hs")).where(lit(false))
      else
        index.select(col("id"), col("hs"))
          .where(col("id").between(mm.getLong(0), mm.getLong(1)))
          .join(broadcast(pairs.select(col("id_a").as("id")).distinct()),
            Seq("id"), "leftsemi")
    val sets = histSets.unionByName(newIdx.select(col("id"), col("hs")))
    pairs
      .join(sets.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(newIdx.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("jaccard", round(jaccard_long(col("hs_a"), col("hs_b")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash near-duplicate pairs: block on 16-bit bands of the 64-bit
    * fingerprint (any pair within Hamming distance 3 shares at least
    * one of the 4 bands), then verify the true Hamming distance.
    */
  def simhashDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, seed: Int = 42): DataFrame = {
    val withHash = df.select(
      col(idCol).as("id"),
      simhash64(TextAnalysis.tokens(TextAnalysis.normalize(col(textCol))), seed).as("simhash"))

    val bandExprs = (0 until 4).map(b =>
      shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)))
    val banded = withHash.select(col("id"), col("simhash"),
      posexplode(array(bandExprs: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandKey")

    val a = banded.select(col("band"), col("bandKey"),
      col("id").as("id_a"), col("simhash").as("h_a"))
    val b = banded.select(col("band"), col("bandKey"),
      col("id").as("id_b"), col("simhash").as("h_b"))

    a.join(b, Seq("band", "bandKey"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "h_a", "h_b").distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .where(col("hamming") <= maxHamming)
      .drop("h_a", "h_b")
  }

  /** Streaming exact dedup: drop later re-arrivals of the same
    * normalized content within the watermark horizon — Structured
    * Streaming's state-backed `dropDuplicatesWithinWatermark` keyed by
    * the content fingerprint, so state is bounded by the horizon
    * (SURVEY §7 step 8).
    */
  def streamingExactDedup(
      df: DataFrame, textCol: String, tsCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming twin of [[dropDuplicateSegments]] — ingest-time C4
    * line dedup. Each arriving document is cut into `w`-token windows
    * (native [[windowSegments]]/[[windowSegmentHashes]] pair); a
    * segment survives iff its content hash was not already claimed
    * within the watermark horizon (`dropDuplicatesWithinWatermark`
    * keyed on the 64-bit hash — state is one long per distinct
    * surviving segment, horizon-bounded); the document re-emits
    * reassembled from its surviving segments once the watermark
    * passes its event time (documents whose every segment was claimed
    * disappear, as in batch). Two stateful operators in one append
    * query — the banded streaming near-dup precedent.
    *
    * Contract vs batch: batch's first-occurrence winner is the
    * minimum (id, pos); streaming's is the first ARRIVAL. The kept
    * segment SET therefore equals the batch distinct-segment set
    * under any arrival order (each distinct segment's first arrival
    * survives), while per-document attribution follows arrival order —
    * the same order-invariant contract the streaming media twins pin.
    */
  def streamingSegmentDedup(
      df: DataFrame, textCol: String, idCol: String, tsCol: String,
      w: Int = 20, sep: String = " ",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val kept = df
      .withWatermark(tsCol, watermarkDelay)
      // materialize the zip ONCE into an attribute before the explode:
      // size() in the same projection as the generator input would run
      // the native segmentation pass twice per document
      .select(col(idCol), col(tsCol),
        arrays_zip(
          windowSegments(col(textCol), w),
          windowSegmentHashes(col(textCol), w)).as("__zip"))
      .select(col(idCol), col(tsCol),
        size(col("__zip")).as("__n_segs"),
        posexplode(col("__zip")).as(Seq("__pos", "__z")))
      .select(col(idCol), col(tsCol), col("__n_segs"), col("__pos"),
        col("__z")("0").as("__seg"), col("__z")("1").as("__h"))
      .dropDuplicatesWithinWatermark("__h")
    kept
      .groupBy(col(idCol), col(tsCol))
      .agg(
        sort_array(collect_list(struct(col("__pos"), col("__seg")))).as("__ps"),
        max(col("__n_segs")).as("__n"))
      .select(
        col(idCol), col(tsCol),
        concat_ws(sep, transform(col("__ps"), p => p("__seg"))).as("text_dedup"),
        size(col("__ps")).cast("long").as("n_kept"),
        (col("__n") - size(col("__ps"))).cast("long").as("n_dropped"))
  }

  /** Streaming NEAR-dup dedup: drop documents whose full MinHash
    * signature equals an earlier document's within the watermark
    * horizon. Full-signature equality is the strictest banding — every
    * band agrees — so this catches token-set-preserving edits
    * (reordering, whitespace/case noise) that exact content dedup
    * misses, while staying a single keyed `dropDuplicatesWithin
    * Watermark`: state is one signature per surviving doc, bounded by
    * the horizon, no stream-stream join. For threshold-tunable batch
    * near-dup, use [[minhashDuplicates]]; streams wanting looser
    * matching lower `numHashes` (coarser signatures collide more).
    */
  def streamingNearDedup(
      df: DataFrame, textCol: String, tsCol: String,
      watermarkDelay: String = "10 minutes",
      shingleSize: Int = 3, numHashes: Int = 64): DataFrame =
    df.withColumn("__sig",
        minhash_from_hashes(shingle_hashes(col(textCol), shingleSize), numHashes))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")

  /** Streaming near-dup dedup with BATCH-EQUIVALENT banding. The
    * full-signature variant above is the strictest banding (all bands
    * must agree): an edit that preserves 15/16 bands — which batch
    * [[minhashDuplicates]] flags — slips through. This one re-blocks
    * the stream exactly like the batch path: each arrival explodes
    * into `(band, bandKey)` rows built by the SAME expression as
    * [[minhashCandidates]], `dropDuplicatesWithinWatermark` makes the
    * FIRST arrival the owner of each band key, and a doc survives iff
    * it owns ALL `bands` of its keys — any stolen band means an
    * earlier doc collided there, i.e. a banded near-dup.
    *
    * Transitivity matches the batch cluster rule: a dropped doc still
    * owns its non-colliding band keys, so a later doc colliding with
    * THOSE is dropped too (batch: same cluster via the middle doc).
    * Within one micro-batch, which of two colliding docs owns a key is
    * arrival-order-arbitrary — same contract as
    * `dropDuplicatesWithinWatermark` itself; exactly one survives.
    *
    * Two chained stateful operators (dedup, then windowed count), so
    * kept rows emit when the watermark passes their `windowDuration`
    * window — a bounded-delay curation stream, vs the immediate-emit
    * exact variant. State: one row per live band key + one per open
    * (window, doc), both watermark-bounded.
    */
  def streamingNearDedupBanded(
      df: DataFrame, textCol: String, idCol: String, tsCol: String,
      watermarkDelay: String = "10 minutes",
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Int = 42, windowDuration: String = "1 minute"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val banded = df
      .withColumn("__sig", minhash_from_hashes(
        shingle_hashes(col(textCol), shingleSize, seed), numHashes))
      .select(col("*"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws("_",
            slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bandKey")
      .drop("__sig")
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__band", "__bandKey")
    val payload = df.columns.filter(_ != idCol).toSeq
    val aggs = count(lit(1)).as("__owned") +:
      payload.map(c => first(col(c)).as(c))
    banded
      .groupBy(window(col(tsCol), windowDuration), col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .where(col("__owned") === bands)
      .select(df.columns.map(col).toSeq: _*)
  }

  /** Embedding near-duplicate pairs, exact: all pairs above a cosine
    * threshold. Quadratic — use on bounded candidate sets (a shard, a
    * bucket, a sampled audit); [[embeddingDuplicatesLsh]] is the scale
    * path.
    */
  def embeddingDuplicatesExact(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(graft.functions.GraftFunctions.cosine_similarity(col("v_a"), col("v_b")), 6))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Embedding near-duplicate pairs at scale: random-hyperplane LSH
    * buckets (near-identical vectors collide on all sign bits with
    * high probability), pairs generated within buckets only, cosine
    * verified exactly. Candidate volume ≈ n²/2^nBits per band — the
    * scaling law that makes a FIXED nBits superlinear: 10× the corpus
    * into the same 2^nBits buckets is 100× the within-bucket pairs
    * (measured: 3.6× time per 10× data at nBits=8 on the benchmark
    * corpus). `nBits < 0` (the default) self-sizes from the corpus:
    * nBits = ⌈log2(n / 16)⌉ keeps expected bucket occupancy ~16 and
    * candidate volume ~8n per band — linear in n. Bucket-occupancy
    * recall stays threshold-driven: candidates are exact-verified, and
    * near-identical vectors collide on ALL bits at any nBits, so
    * shrinking buckets trades only far-pair recall (which a ≥0.9
    * cosine threshold discards anyway) for linearity.
    */
  def embeddingDuplicatesLsh(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, dim: Int = 64,
      nBits: Int = -1, bands: Int = 4, seed: Long = 42L): DataFrame = {
    val bits = if (nBits >= 0) nBits else adaptiveLshBits(df.count())
    // All bands' sign-bit buckets come from ONE native expression call
    // (plane matrices ride as a referenced object, not plan literals) —
    // the unrolled per-bit column trees cost ~100 kB of plan and
    // seconds of Janino compilation per query.
    val withBuckets = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      posexplode(graft.functions.GraftFunctions.hyperplane_buckets(
        col(vecCol), dim, bits, bands, seed)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

    val x = withBuckets.select(col("band"), col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val y = withBuckets.select(col("band"), col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    x.join(y, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "v_a", "v_b").distinct()
      .withColumn("cosine",
        round(graft.functions.GraftFunctions.cosine_similarity(col("v_a"), col("v_b")), 6))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Corpus-adaptive hyperplane-bit count: smallest width that keeps
    * expected bucket occupancy ≈16 (so per-band candidate volume ≈8n,
    * linear in n), clamped to [4, 24]. Exposed so callers that need
    * the chosen width — e.g. to materialize a first-principles oracle
    * over the same plane matrix — compute it once driver-side and pass
    * it back as an explicit `nBits`.
    */
  def adaptiveLshBits(n: Long): Int =
    math.max(4, math.min(24,
      math.ceil(math.log(math.max(1.0, n / 16.0)) / math.log(2.0)).toInt))

  /** Semantic near-duplicate pairs, SemDeDup-style (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means the embedding space
    * into clusters, then compare pairs WITHIN a cluster only —
    * semantically redundant documents land in the same cluster, so the
    * cluster assignment is the blocking structure and the candidate
    * volume is Σ|cluster|² instead of n².
    *
    * The 100 TB story: centroids are fit once on a bounded sample
    * (driver-side Lloyd's, [[Similarity.fitCentroids]]) and broadcast;
    * assignment is one codegen'd argmin per row (no shuffle); only the
    * within-cluster self-join shuffles, keyed by cluster id. Choose
    * k ≈ n / desired-cluster-size to bound the quadratic term — the
    * paper runs k = 11k on 5B embeddings for ~450k-wide clusters,
    * pruned further by comparing only against the cluster's centroid
    * neighborhood; here every within-cluster pair is verified exactly.
    */
  def semanticDedup(
      df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Double]], threshold: Double): DataFrame = {
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      element_at(graft.functions.GraftFunctions.nearest_cells(
        col(vecCol), centroids, 1), 1).as("cluster"))
    val a = assigned.select(col("cluster"), col("id").as("id_a"), col("v").as("v_a"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(graft.functions.GraftFunctions.cosine_similarity(col("v_a"), col("v_b")), 6))
      .where(col("cosine") >= threshold)
      .select("cluster", "id_a", "id_b", "cosine")
  }

  /** N-gram-Jaccard duplicate pairs with inverted-index blocking:
    * explode distinct shingles, join docs sharing a shingle (rare
    * shingles only — frequent shingles are stopword-like and explode
    * the candidate set), verify exact Jaccard.
    */
  def ngramJaccardDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, threshold: Double = 0.5,
      maxShingleFreq: Int = 100): DataFrame = {
    // Work on 64-bit shingle hashes end-to-end: one native pass per doc
    // builds the distinct hash set, the inverted index shuffles longs
    // instead of ~20-char strings, and the verification intersects long
    // arrays (identical jaccard modulo ~2^-64 hash collisions).
    //
    // Materialize (eager localCheckpoint): the plan below reads `sh`
    // FOUR times (the inverted index feeds both the frequency cut and
    // the blocked stream, and each verification join-back leg
    // re-evaluates it), so without materialization the corpus is
    // scanned and shingled 4× — the dominant cost at every scale. One
    // eager pass + 3 block reads instead; blocks are
    // ContextCleaner-released once the result frame drops (no
    // CacheManager entry — a .cache() here would pin the shingle table
    // for the session). Same eager-materialization contract as
    // duplicateClusters. NOTE the failure semantics of localCheckpoint:
    // lineage is CUT, so a lost executor makes the blocks
    // unrecoverable and FAILS the query (it does NOT recompute) — safe
    // in local mode, a reliability trade on clusters with
    // decommissioning.
    val sh = df.select(col(idCol).as("id"),
        shingle_hashes(col(textCol), shingleSize).as("hs"))
      .localCheckpoint()
    val inv = sh.select(col("id"), explode(col("hs")).as("shingle"))
    val rare = inv.groupBy("shingle").count().where(col("count") <= maxShingleFreq)
    val blocked = inv.join(rare.select("shingle"), Seq("shingle"))
    val pairs = blocked.as("x").join(blocked.as("y"), Seq("shingle"))
      .where(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b")).distinct()
    pairs
      .join(sh.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("jaccard", round(jaccard_long(col("hs_a"), col("hs_b")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-document repeated-span detection — the scalable shape of
    * exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499, which uses a
    * corpus suffix array; a distributed suffix array is replaced here
    * by hash blocking + diagonal merge):
    *
    *  1. one native pass stamps every k-gram of the normalized text
    *     with (position, rolling hash) ([[graft.functions.GramPositionHashes]]);
    *  2. an inverted index pairs positions sharing a gram hash across
    *     documents — RARE grams only (global frequency in
    *     [2, maxGramFreq]): boilerplate grams are stopword-like and
    *     would explode the candidate set, same blocking rationale as
    *     [[ngramJaccardDuplicates]]. Pairing is posting-list expansion
    *     (group by hash, explode the ≤ maxGramFreq list twice in-row),
    *     not a self-join — one pass over the gram stream, no merge;
    *  3. hits on the same (doc pair, diagonal pos_a − pos_b) at
    *     consecutive positions are one shared span: classic
    *     gaps-and-islands (`pos − row_number` per diagonal, windows
    *     partitioned by pair+diagonal — no global window), merged to
    *     maximal spans of length `run + k − 1 ≥ minLen`.
    *
    * Output: (id_a, id_b, start_a, start_b, span_len) per maximal
    * shared span (1-based starts into the NORMALIZED text); ids are
    * returned as longs (the id column must be integral). Spans whose
    * interior crosses a blocked (ubiquitous) gram split into
    * fragments — the documented cost of bounding step 2's pairing.
    * With `includeSelf = true`, same-document repeats (a doc repeating
    * its own template/chrome — the within-document half of Lee et
    * al.'s ExactSubstr) are also emitted, as id_a = id_b rows with
    * start_a < start_b (one row per mirrored diagonal pair).
    *
    * The 100 TB story: the gram stream shuffles ONCE, keyed on the
    * 64-bit-ish gram hash, and what ships is map-side-combined partial
    * posting states (≤ maxGramFreq+1 entries per gram per partition),
    * not raw occurrences — frequency cutoff, posting-list build, and
    * pair expansion all ride that one exchange with NO sort of the
    * gram stream anywhere; candidate volume is bounded by maxGramFreq²
    * per gram value; the span merge touches only actual cross-doc hits.
    */
  def repeatedSpans(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 20, minLen: Int = 40, maxGramFreq: Int = 50,
      includeSelf: Boolean = false,
      strategy: String = SpanIndexAuto): DataFrame =
    repeatedSpans(df, textCol, idCol, k, minLen, maxGramFreq, includeSelf,
      strategy, WinnowLimits())

  /** [[repeatedSpans]] with explicit winnow-prefilter limits. */
  private[graft] def repeatedSpans(
      df: DataFrame, textCol: String, idCol: String,
      k: Int, minLen: Int, maxGramFreq: Int,
      includeSelf: Boolean, strategy: String,
      winnowLimits: WinnowLimits): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = df.schema(df.schema.fieldIndex(idCol)).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"repeatedSpans requires an integral $idCol (got $idType): the " +
        "bounded posting-list aggregate stores ids as 64-bit longs")
    // Null ids can't participate in span pairing (the old join form
    // dropped them via null-propagating id comparisons; the aggregate
    // also guards, but filtering here skips gram generation entirely).
    val base = df.where(col(idCol).isNotNull)
    // Winnowed anchor prefilter (conf, default off): gate the posting
    // index to candidate documents found by a winnowing pass, plus the
    // full-corpus over-cap gram set that keeps maxGramFreq semantics
    // exact — see [[SpanWinnowPrefilterKey]] for the full contract.
    val winnow = resolveWinnowPrefilter(base, textCol, idCol, k, minLen,
      maxGramFreq, includeSelf, winnowLimits)
    val corpus = winnow.map(_._1).getOrElse(base)
    def gramStream = spanGramStream(corpus, textCol, idCol, k)
    lazy val g = gramStream
      .select(col("id"), col("g.pos").as("pos"), col("g.h").as("h"))
    // Winnow-path cap correction: drop grams whose FULL-corpus count
    // exceeds maxGramFreq before the (candidate-subset) aggregate sees
    // them. Without it the subset aggregate would band a gram whose
    // occurrences beyond the candidate set push it over the cap —
    // emitting merged spans the ungated index fragments. With it the
    // subset counts of surviving grams are ≤ their full counts ≤ cap,
    // so the aggregate's own cap never fires and banding reduces to
    // minSize = 2 — bit-identical output (see SpanWinnowEquivalence
    // spec's over-cap adversarial corpus).
    def blockedGuard(s: DataFrame): DataFrame = winnow match {
      case Some((_, blockedH)) => s.join(blockedH, Seq("h"), "left_anti")
      case None => s
    }
    // Inverted-index build + frequency cutoff, strategy-selected (the
    // measured crossover is documented in SCALE.md; `auto` picks by
    // estimated input size — see [[resolveSpanStrategy]]):
    //
    //  - `bounded` (the winner from ~sf1 up — r17 A/B, SELECTOR_AB_r17
    //    measured it 1.3–1.7× faster already at sf1): ONE aggregation
    //    ([[graft.functions.BoundedPostingList]]) whose per-group state
    //    is hard-capped at maxGramFreq+1 postings — out-of-band grams
    //    (singletons and ubiquitous boilerplate) evaluate to NULL — so
    //    the gram stream needs NO global sort and aggregates map-side
    //    before its single shuffle (duplicate grams combine per
    //    partition; the exchange ships partial posting states, not raw
    //    occurrences). At sf10 this is −27 %/−8 % vs the window form
    //    and, unlike it, never builds an unbounded collect_list.
    //  - `window` (the small-corpus winner, ≤ ~sf0.1): count-over-window on
    //    h then collect_list — ONE codegen'd sort of the gram stream,
    //    which beats the object-aggregate's per-partition fallback
    //    sorts while everything fits in memory (~2× at sf0.1). The
    //    collect_list is memory-safe only BECAUSE it runs after the
    //    frequency filter (≤ maxGramFreq entries per group).
    val posts = resolveSpanStrategy(df, textCol, idCol, strategy) match {
      case SpanIndexBounded
          if df.sparkSession.conf.get(SpanPackedPostingsKey, "true").toBoolean =>
        // Packed layout (the default): the sort-based fallback sorts and
        // spills the chars-proportional gram stream per partition, so
        // row WIDTH is the bill — one packed long instead of (id, pos)
        // drops a field from every sorted row and serializes postings
        // at 8 bytes instead of 12. pack_id_pos fails loudly on ids ≥
        // 2^34 (see its scaladoc); the conf routes full-range ids to
        // the unpacked branch below.
        blockedGuard(gramStream
          .select(column(graft.functions.PackIdPos(
              expression(col("id")), expression(col("g.pos")))).as("p"),
            col("g.h").as("h")))
          .groupBy("h")
          .agg(column(graft.functions.BoundedPostingList(
              expression(col("p")), maxGramFreq, minSize = 2)
            .toAggregateExpression()).as("ps"))
          .where(col("ps").isNotNull)
      case SpanIndexBounded =>
        blockedGuard(g)
          .groupBy("h")
          .agg(column(graft.functions.BoundedPostingList(
              expression(struct(col("id"), col("pos"))), maxGramFreq, minSize = 2)
            .toAggregateExpression()).as("ps"))
          .where(col("ps").isNotNull)
      case SpanIndexWindow =>
        val wH = Window.partitionBy("h")
        blockedGuard(g).withColumn("cnt", count(lit(1)).over(wH))
          .where(col("cnt") >= 2 && col("cnt") <= maxGramFreq)
          .groupBy("h")
          .agg(collect_list(struct(col("id"), col("pos"))).as("ps"))
    }
    // (id, pos) carries exactly one hash, so hit rows are already
    // distinct; d identifies the alignment diagonal. Cross-doc pairs
    // order by id; same-doc pairs (ExactSubstr's within-document
    // boilerplate case, Lee et al. §4.1) order by position — pos_a <
    // pos_b keeps one of each mirrored diagonal pair and makes side A
    // the EARLIER occurrence, which the keep-first surgery relies on.
    val pairCond =
      if (includeSelf)
        col("a.id") < col("o.id") ||
          (col("a.id") === col("o.id") && col("a.pos") < col("o.pos"))
      else col("a.id") < col("o.id")
    val hits = posts
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("o"))
      .where(pairCond)
      .select(col("a.id").as("id_a"), col("o.id").as("id_b"),
        col("a.pos").as("pos_a"), col("o.pos").as("pos_b"),
        (col("a.pos") - col("o.pos")).as("d"))
    val wOrd = Window.partitionBy("id_a", "id_b", "d").orderBy("pos_a")
    hits.withColumn("island", col("pos_a") - row_number().over(wOrd))
      .groupBy("id_a", "id_b", "d", "island")
      .agg(min(col("pos_a")).as("start_a"),
        (max(col("pos_a")) - min(col("pos_a")) + k).cast("long").as("span_len"))
      .where(col("span_len") >= minLen)
      .select(col("id_a"), col("id_b"), col("start_a"),
        (col("start_a") - col("d")).as("start_b"), col("span_len"))
  }

  /** [[repeatedSpans]] index strategies: `auto` selects by estimated
    * input size, `bounded`/`window` force one side of the measured
    * crossover (SCALE.md, round 11–12 A/B at three decades).
    */
  val SpanIndexAuto = "auto"
  val SpanIndexBounded = "bounded"
  val SpanIndexWindow = "window"

  /** The auto-select threshold: estimated
    * (id, text) input bytes at or above which `auto` uses the bounded
    * posting-list aggregate. Recalibrated in round 17
    * (SELECTOR_AB_r17.json): the original 16 MiB value predated the
    * packed-posting bounded path and misrouted mid-scale corpora — the
    * same-day A/B measured WINDOW 1.4–1.6× faster at a ~255 KB
    * estimate (sf0.1) and BOUNDED 1.3–1.7× faster at a ~2.5 MB
    * estimate (sf1, confirming the r14 FLOORS observation), so the
    * threshold sits at the log-midpoint of that bracket. Note the
    * estimate is compressed-parquet-based and column-pruned — ~1 MiB
    * estimated ≈ 20 MB of decoded text. Above the bracket the choice
    * compounds: the bounded form degrades gracefully while the window
    * form's global sort degrades catastrophically (the sf10 OOM,
    * SCALE.md round 11), and unknown-size sources estimate
    * conservatively LARGE, which lands on the scale-safe side.
    *
    * Resolution happens at DataFrame-CONSTRUCTION time (a
    * `repeatedSpans` call reads Catalyst's size estimate once, eagerly).
    */
  val SpanBoundedMinBytes: Long = 1L * 1024 * 1024

  /** Conf key (default `true`): pack each bounded-strategy posting as
    * one [[graft.functions.PackIdPos]] long — narrower sorted/spilled
    * rows and 8-byte shipped postings, at the cost of a range
    * restriction (ids < 2^34, positions < 2^30; out-of-range FAILS
    * LOUDLY). Set `false` for full-64-bit ids (e.g. xxhash64-derived).
    * Like the strategy itself, resolved at construction time.
    */
  val SpanPackedPostingsKey = "spark.graft.span.packedPostings"

  /** Conf key (default `false`): winnowed anchor prefilter for
    * [[repeatedSpans]] — gate the expensive posting index to CANDIDATE
    * documents found by a winnowing fingerprint pass (Schleimer et
    * al., SIGMOD'03), so corpora where most documents share no long
    * span never push their gram streams through the posting
    * aggregate's shuffle/sort/spill at all.
    *
    * Phase 0 (eager, at DataFrame construction): every document's
    * gram-hash stream is winnowed with window `w = minLen − k + 1`
    * ([[graft.functions.WinnowAnchorHashes]] — anchor volume ≈ 2/(w+1)
    * of the gram stream). By the winnowing guarantee, any two
    * documents whose hash streams share a run of ≥ w consecutive
    * equal hashes — precisely the shape of every span the index can
    * emit at `span_len ≥ minLen` — share an anchor VALUE, and a
    * document repeating such a run internally emits the value at ≥ 2
    * anchor positions (the rightmost-tie selection is content-
    * deterministic). Candidates = documents holding an anchor value
    * seen in ≥ 2 documents, plus (under `includeSelf`) documents
    * holding one at ≥ 2 positions. The candidate set can only
    * over-approximate (hash collisions, sub-minLen runs blocked or
    * fragmented later) — never miss an emitted span's endpoints.
    *
    * Phase 1 (the returned plan): the existing strategy-selected
    * posting index over candidate documents only, with one exactness
    * correction: a full-corpus hash-only count pass computes the
    * over-cap gram set (`count > maxGramFreq` — the blocked
    * boilerplate, a SMALL value set) and anti-joins it off the
    * candidate gram stream, so cap semantics stay corpus-wide.
    * Output is bit-identical to the ungated index for every strategy
    * and `includeSelf` setting (SpanWinnowEquivalenceSpec).
    *
    * Degrade guards: if `minLen − k + 1 < 2` the prefilter cannot
    * help (w = 1 anchors every gram) and the base path runs; if
    * phase 0 finds candidates ≥ [[DefaultWinnowMaxCandidateFrac]] of
    * the corpus (duplicate-saturated corpora, e.g. ×N-amplified bench
    * sets) the base path runs and only the winnow pass was spent.
    * Candidate sets ≤ [[DefaultWinnowDriverMaxIds]] are collected and
    * re-broadcast (8 B/id — the phase-0 jobs then run exactly once);
    * larger sparse sets fall back to a lazy semi-join whose lineage
    * recomputes the anchor pass (≤ 2×) at execution.
    *
    * CONTRACT (conf-on path only):
    * the input's lineage must be DETERMINISTIC — phase 0 and phase 1
    * evaluate it in separate jobs — and building the DataFrame runs
    * EAGER Spark jobs (the winnow pass + candidate counts).
    */
  val SpanWinnowPrefilterKey = "spark.graft.span.winnowPrefilter"

  /** Candidate-document fraction at or above which the winnow
    * prefilter bails out to the ungated path — gating most of the
    * corpus would add the winnow + count passes on top of a posting
    * pass that barely shrank. At or above 1 the guard is off.
    */
  val DefaultWinnowMaxCandidateFrac = 0.5

  /** Document fraction (0 disables) for the density PRE-PROBE that
    * bails out of the prefilter BEFORE the full anchor pass on
    * duplicate-saturated corpora. The full guard
    * ([[DefaultWinnowMaxCandidateFrac]]) is exact but pays a complete
    * winnow+count pass just to discover the corpus is dense; the
    * pre-probe runs the same candidate test WITHIN a sampled slice
    * first. Within-sample candidacy implies full-corpus candidacy
    * (a shared anchor inside the sample is shared in the corpus;
    * self-repeats are sample-invariant) — PER SAMPLED DOC the test is
    * conservative, i.e. conservative in expectation; sampling variance
    * can still land a sampled fraction above the true corpus fraction
    * on borderline densities, in which case the probe bails where the
    * exact guard would not (result-identical either way — only the
    * prefilter speedup is forfeited on that corpus). A corpus the
    * probe lets through still faces the exact full guard. Either way the emitted
    * spans are unchanged (the prefilter is result-identical,
    * spec-pinned); only which passes run differs. Samples smaller
    * than [[WinnowDensitySampleMinDocs]] docs skip the probe
    * (too noisy to act on).
    */
  val DefaultWinnowDensitySampleFrac = 0.01
  val WinnowDensitySampleMinDocs = 500L

  /** Largest candidate id set the winnow prefilter collects to the
    * driver (8 B/id → ≤ 32 MB) and ships back as a broadcast
    * semi-join — which makes the whole phase-0 pipeline run exactly
    * once, eagerly. Above it the candidate set stays distributed (lazy
    * semi-join, anchor pass recomputed at execution). 0 forces the
    * lazy semi-join.
    */
  val DefaultWinnowDriverMaxIds: Long = 4000000L

  /** Memory ceiling for the winnow prefilter's over-cap Bloom filter,
    * which gates the full-corpus over-cap count pass on the CANDIDATE
    * gram-hash set. Counting stays corpus-wide — the map side still
    * scans every document — but only hashes the candidates can
    * actually hold shuffle into the count aggregate, so on sparse
    * corpora the correction pass's exchange collapses with the posting
    * pass's. Bloom false positives only ADD counted hashes (harmless:
    * `blockedH` is consumed by an anti-join); false negatives are
    * impossible for inserted values, so cap semantics stay exact.
    *
    * The filter is always SIZED to the measured candidate char volume
    * (its true item upper bound) at 1% fpp ≈ 1.2 B/item; this ceiling
    * only bounds how large that sizing may grow — candidate volumes up
    * to [[DefaultWinnowBloomMaxItems]] (≈ 447 M chars) stay gated. The
    * static 32 M-item cap this replaces cliff-ed the round-19 5 M-doc
    * sparse probe into the un-Bloomed count pass (measured ~2.35×
    * slower at 500 k docs) the moment candidate volume outgrew a
    * number chosen at 500 k. Past the ceiling the count pass degrades
    * to the full un-Bloomed shuffle LOUDLY (a warning names the volume
    * and the ceiling).
    */
  val WinnowBloomMaxBytes: Long = 512L << 20

  /** ~9.6 bits/item at the 1% fpp the gate builds with. */
  private val BloomBytesPerItem = 1.2

  /** Item cap of the over-cap Bloom (0 disables it): the byte ceiling
    * [[WinnowBloomMaxBytes]] at [[BloomBytesPerItem]].
    */
  val DefaultWinnowBloomMaxItems: Long = (WinnowBloomMaxBytes / BloomBytesPerItem).toLong

  /** The winnow prefilter's tuning limits. [[repeatedSpans]] always
    * runs with the defaults; specs pass other values to reach the
    * bail-out, probe, lazy semi-join and un-Bloomed arms.
    */
  private[graft] final case class WinnowLimits(
      maxCandidateFrac: Double = DefaultWinnowMaxCandidateFrac,
      densitySampleFrac: Double = DefaultWinnowDensitySampleFrac,
      driverMaxIds: Long = DefaultWinnowDriverMaxIds,
      bloomMaxItems: Long = DefaultWinnowBloomMaxItems)

  /** The repeated-span k-gram stream of `src`: one (id, pos, h) per
    * k-gram of the normalized text, ids cast to long.
    */
  private def spanGramStream(
      src: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    src.select(col(idCol).cast("long").as("id"),
      explode(column(graft.functions.GramPositionHashes(
        expression(TextAnalysis.normalize(col(textCol))), k))).as("g"))

  /** Winnow-prefilter phase 0 (see [[SpanWinnowPrefilterKey]]):
    * resolve the candidate corpus and the full-corpus over-cap gram
    * set, or `None` when the prefilter is off, can't help (w < 2), or
    * bails out on candidate density. `base` must already be filtered
    * to non-null ids.
    */
  private def resolveWinnowPrefilter(
      base: DataFrame, textCol: String, idCol: String,
      k: Int, minLen: Int, maxGramFreq: Int,
      includeSelf: Boolean, limits: WinnowLimits): Option[(DataFrame, DataFrame)] = {
    val spark = base.sparkSession
    val w = minLen - k + 1
    if (!spark.conf.get(SpanWinnowPrefilterKey, "false").toBoolean || w < 2)
      return None
    val WinnowLimits(frac, probeFrac, driverMax, bloomMax) = limits
    // density pre-probe: run the candidate test on a sampled slice
    // first — on a duplicate-saturated corpus it reaches the bail
    // decision at ~the sample's cost instead of a full anchor pass
    // (see [[DefaultWinnowDensitySampleFrac]] for why bailing on the
    // sample is conservative). frac >= 1 disables the density guard
    // entirely (the equivalence specs' setting) — a probe that can
    // never bail is pure overhead
    if (probeFrac > 0 && probeFrac < 1.0 && frac < 1.0) {
      val sample = base.sample(withReplacement = false, probeFrac, seed = 42L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nS = sample.count()
        if (nS >= WinnowDensitySampleMinDocs) {
          val nCandS = winnowCandidateIds(
            winnowPerDocAnchors(sample, textCol, idCol, k, w), includeSelf)
            .count()
          if (nCandS >= frac * nS) {
            log.info(s"winnow prefilter: density pre-probe measured " +
              s"$nCandS/$nS sampled candidates (>= $frac) — corpus is " +
              "duplicate-saturated, bailing to the ungated path before " +
              "the full anchor pass")
            return None
          }
        }
      } finally sample.unpersist()
    }
    val perDocH = winnowPerDocAnchors(base, textCol, idCol, k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cand = winnowCandidateIds(perDocH, includeSelf)
      val nCand = cand.count()
      val nDocs = base.select(col(idCol)).count()
      if (nDocs == 0L || nCand >= frac * nDocs) return None
      val candCorpus =
        if (nCand <= driverMax) {
          val ids = cand.collect().map(_.getLong(0))
          val local = spark.createDataset(ids.toSeq)(
            org.apache.spark.sql.Encoders.scalaLong).toDF("__winnow_cand_id")
          base.join(broadcast(local),
            base(idCol).cast("long") === col("__winnow_cand_id"), "left_semi")
        } else
          // lazy fallback: the semi-join's lineage re-runs the anchor
          // pass (≤ 2×: the shared-hash semi-join diamond) at execution
          base.join(cand, base(idCol).cast("long") === cand("id"), "left_semi")
      val fullH = spanGramStream(base, textCol, idCol, k)
        .select(col("g.h").as("h"))
      // Bloom-gate the over-cap count's SHUFFLE on the candidate gram
      // set (see [[WinnowBloomMaxBytes]] — exactness
      // preserved: no false negatives, false positives only add
      // counted hashes the anti-join never matches). Candidate gram
      // volume is upper-bounded by candidate text chars; the filter is
      // SIZED to that measured volume under the byte ceiling. The
      // candChars probe EXECUTES candCorpus; in lazy semi-join mode
      // (nCand > driverMax) that re-runs the whole anchor pass just to
      // decide a Bloom gate that a corpus too big to driver-collect
      // would almost surely exceed anyway — skip straight to fullH
      // there, keeping the documented ≤2× lineage-recompute bound
      val candChars: Long =
        if (bloomMax <= 0 || nCand > driverMax) Long.MaxValue
        else Option(candCorpus
          .select(sum(length(col(textCol).cast("string"))).cast("long"))
          .first().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      val gatedH =
        if (candChars > bloomMax) {
          if (bloomMax > 0 && candChars != Long.MaxValue)
            log.warn(s"winnow prefilter: candidate gram volume $candChars " +
              s"chars exceeds the Bloom ceiling $bloomMax items " +
              s"(~${(bloomMax * BloomBytesPerItem).toLong} B) — the over-cap " +
              "count pass degrades to the full un-Bloomed shuffle (~2.35x " +
              "slower measured at 500k docs)")
          fullH
        } else {
          val bf = spanGramStream(candCorpus, textCol, idCol, k)
            .select(col("g.h").as("h"))
            .stat.bloomFilter("h", math.max(1L, candChars), 0.01)
          fullH.where(column(graft.functions.BloomMightContainLong(
            expression(col("h")), bf)))
        }
      val blockedH = gatedH
        .groupBy("h").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > maxGramFreq)
        .select("h")
      Some((candCorpus, blockedH))
    } finally perDocH.unpersist()
  }

  /** Per-(document, anchor-hash) multiplicities of the winnowed gram
    * stream — the phase-0 intermediate both candidate tests read.
    */
  private[graft] def winnowPerDocAnchors(
      base: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int): DataFrame =
    base.select(col(idCol).cast("long").as("id"),
        explode(column(graft.functions.WinnowAnchorHashes(
          expression(TextAnalysis.normalize(col(textCol))), k, w))).as("h"))
      .groupBy("id", "h").agg(count(lit(1)).as("c"))

  /** Distinct candidate document ids from the per-doc anchor
    * multiplicities: docs holding an anchor hash seen in ≥ 2 docs,
    * plus (under `includeSelf`) docs holding one at ≥ 2 positions.
    */
  private[graft] def winnowCandidateIds(
      perDocH: DataFrame, includeSelf: Boolean): DataFrame = {
    val shared = perDocH.groupBy("h").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("h")
    val cross = perDocH.join(shared, Seq("h"), "left_semi").select("id")
    val all =
      if (includeSelf) cross.union(perDocH.where(col("c") >= 2).select("id"))
      else cross
    all.distinct()
  }

  private def resolveSpanStrategy(
      df: DataFrame, textCol: String, idCol: String, strategy: String): String =
    strategy match {
      case SpanIndexBounded | SpanIndexWindow => strategy
      case SpanIndexAuto =>
        // Catalyst's own size estimate of the pruned (id, text)
        // projection — no job runs; unknown-size sources estimate
        // conservatively LARGE, which picks the scale-safe bounded form.
        val bytes = df.select(col(idCol), col(textCol))
          .queryExecution.optimizedPlan.stats.sizeInBytes
        if (bytes >= SpanBoundedMinBytes) SpanIndexBounded else SpanIndexWindow
      case other => throw new IllegalArgumentException(
        s"unknown span index strategy '$other' (auto|bounded|window)")
    }

  /** Apply [[repeatedSpans]]: remove each repeated span from every
    * document EXCEPT its first occurrence (lowest doc id — the
    * keep-first policy of Lee et al.'s ExactSubstr dedup), returning
    * the corpus with a `text_deduped` column.
    *
    * By default `text_deduped` is over the NORMALIZED text (the
    * coordinate space spans are measured in — reproducible in ANSI
    * SQL, hence the value oracle). With `preserveRaw = true` the cut
    * intervals are instead mapped back onto the ORIGINAL text by
    * [[graft.functions.ApplyNormalizedCuts]], so surviving characters
    * keep their raw case and spacing and a document with zero cuts
    * comes back byte-identical — the behavior a curation pipeline
    * wants (the reference ExactSubstr edits raw text).
    *
    * Per doc: collect its cut intervals (spans where it is the LATER
    * side), sort, and fold once — the accumulator carries (next uncut
    * position, output so far); overlapping and nested intervals merge
    * naturally through the running max-end. Chains behave like the
    * paper: a span shared by docs a < b < c survives only in a. With
    * `includeSelf`, a document repeating its own boilerplate also
    * keeps only the FIRST (lowest-position) occurrence — the later
    * copies arrive as same-id cut intervals and fold through the
    * identical machinery.
    *
    * Zero extra shuffles beyond [[repeatedSpans]] + one groupBy(doc)
    * of the span rows and a (broadcastable) join back to the corpus.
    */
  def dropRepeatedSpans(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 20, minLen: Int = 40, maxGramFreq: Int = 50,
      includeSelf: Boolean = false,
      strategy: String = SpanIndexAuto,
      preserveRaw: Boolean = false): DataFrame = {
    val spans = repeatedSpans(df, textCol, idCol, k, minLen, maxGramFreq,
      includeSelf, strategy)
    val cuts = spans.select(col("id_b").as("__cut_id"),
        struct(col("start_b").as("s"), col("span_len").cast("int").as("l")).as("c"))
      .groupBy("__cut_id").agg(sort_array(collect_list(col("c"))).as("__cs"))
    val joined = df.join(cuts, df(idCol) === cuts("__cut_id"), "left")
    if (preserveRaw) {
      // one native pass per doc-with-cuts: rebuild the normalization
      // position map and excise the corresponding raw ranges
      joined
        .withColumn("text_deduped",
          when(col("__cs").isNull, col(textCol))
            .otherwise(column(graft.functions.ApplyNormalizedCuts(
              expression(col(textCol)), expression(col("__cs"))))))
        .drop("__cut_id", "__cs")
    } else {
      val normed = joined.withColumn("__t", TextAnalysis.normalize(col(textCol)))
      val folded = aggregate(col("__cs"),
        struct(lit(1).as("pos"), lit("").as("out")),
        (acc, c) => struct(
          greatest(acc("pos"), c("s") + c("l")).as("pos"),
          concat(acc("out"),
            when(c("s") > acc("pos"),
              col("__t").substr(acc("pos"), c("s") - acc("pos")))
              .otherwise(lit(""))).as("out")),
        acc => concat(acc("out"),
          when(acc("pos") <= length(col("__t")),
            col("__t").substr(acc("pos"), length(col("__t")) - acc("pos") + 1))
            .otherwise(lit(""))))
      normed
        .withColumn("text_deduped",
          when(col("__cs").isNull, col("__t")).otherwise(folded))
        .drop("__cut_id", "__cs", "__t")
    }
  }

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    * components over the pair graph, each node labeled with the
    * minimum id in its component (the canonical document). This is the
    * step that turns pair detection into an actual dedup decision —
    * transitivity matters: A~B and B~C must collapse to ONE survivor
    * even when A~C was never emitted as a pair.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Each
    * round rewrites the edge set with two grouped joins and converges
    * in O(log d) rounds (d = component diameter) to a forest of stars
    * centered at each component's minimum id — unlike plain min-label
    * propagation, which needs O(d) rounds and melts on a mirror chain
    * of depth 1000. Every round is fully distributed (hash shuffles on
    * node ids, the same scaling as the candidate join that produced
    * the pairs); the driver only ever sees a one-row checksum.
    *
    * Input: (`id_a`, `id_b`) pair rows (any extra columns ignored).
    * Output: (`doc_id`, `cluster_id`) for every node that appears in
    * at least one pair; singleton documents are absent (their cluster
    * is trivially themselves). Empty pair input yields an empty result.
    * If the edge set still hasn't reached its star fixpoint at
    * `maxIters` (astronomically deep components), the partial labels
    * are returned with a WARN — or, under `strict = true`, an
    * `IllegalStateException`.
    */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 20,
                        strict: Boolean = false,
                        driverMaxEdges: Long = DefaultDriverCcMaxEdges): DataFrame =
    duplicateClustersWithRounds(pairs, maxIters, strict, driverMaxEdges)._1

  /** Edge-count ceiling for the driver-side connected-components fast
    * path: ≤ this many pairs are collected (bounded — ~16 B/edge, so
    * the default is ~8 MB) and labeled with an in-memory union-find
    * instead of the distributed star loop. Near-dup pair graphs are
    * slivers of the corpus (25.6 k pairs on the 100×-amplified bench
    * corpus), and the star loop's per-round job latency — not bytes —
    * dominates them: measured 8.2 s distributed vs <0.5 s driver-side
    * for those 25.6 k pairs, identical labels. Graphs above the
    * ceiling (e.g. the 4 M-edge synthetic regime) run the distributed
    * loop unchanged. 0 forces the loop (specs pin its round counts).
    */
  val DefaultDriverCcMaxEdges = 500000L

  /** [[duplicateClusters]] plus the number of star rounds executed —
    * exposed so specs can pin the O(log d) convergence bound (0 for
    * the driver fast path, which is exact and always converged).
    */
  private[graft] def duplicateClustersWithRounds(
      pairs: DataFrame, maxIters: Int = 20,
      strict: Boolean = false,
      driverMaxEdges: Long = DefaultDriverCcMaxEdges): (DataFrame, Int) = {
    // materialize the pair list ONCE: everything downstream would
    // otherwise re-evaluate the (expensive) upstream dedup pipeline
    val raw = pairs.select(col("id_a").cast("long"), col("id_b").cast("long")).cache()
    val pairCount = raw.count() // also warms the cache before the loop
    if (pairCount <= driverMaxEdges) {
      val spark = raw.sparkSession
      val labels = driverConnectedComponents(raw.collect().map(r => (r.getLong(0), r.getLong(1))))
      raw.unpersist()
      import spark.implicits._
      // same contract as the loop path: returned labels are cached in
      // the caller's session and materialized, caller unpersists
      val df = spark.createDataset(labels).toDF("doc_id", "cluster_id").cache()
      df.count()
      return (df, 0)
    }
    // Size the loop's shuffle width to the graph, not the session: each
    // star round is several grouped shuffles over an edge set that is
    // usually a sliver of the corpus (near-dup pairs), and a round over
    // a few thousand edges split 32 ways is pure task-scheduling
    // overhead (measured ~3 s of a 5 s sf0.1 run). ~2M edges (~32 MB)
    // per reducer, capped at the session setting — at real scale the
    // width is unchanged, on small graphs the rounds collapse to
    // single-task stages. AQE alone does not do this: with
    // parallelismFirst (the default) it refuses to coalesce below the
    // session parallelism.
    val spark = raw.sparkSession
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions")
    val loopWidth = math.max(1L,
      math.min(sessionWidth.toLong, pairCount / 2000000L + 1L)).toString
    // Run the loop in a CHILD session so the narrowed width is invisible
    // to everything else on this SparkSession: mutating the session-
    // global conf here would leak the narrow width into any concurrently
    // planned query (streaming jobs, parallel callers), and overlapping
    // invocations would restore each other's stale values. The child
    // shares the SparkContext (and so the block-manager cache holding
    // `raw`) but has its own SQLConf; the bridge via raw.rdd reads the
    // already-cached pair blocks, no recompute of the upstream pipeline.
    val loopSession = spark.newSession()
    // newSession() starts from SparkConf defaults, NOT the parent's
    // runtime SQLConf: carry the parent's runtime-set entries (AQE
    // flags, session timezone, ANSI mode, …) into the child so the loop
    // plans under the caller's semantics, THEN narrow the width. Static
    // confs refuse runtime set — skip them, they are process-global
    // anyway and already shared via the SparkContext.
    spark.conf.getAll.foreach { case (k, v) =>
      try loopSession.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    loopSession.conf.set("spark.sql.shuffle.partitions", loopWidth)
    val rawLoop = loopSession.createDataFrame(raw.rdd, raw.schema)
    val (labels, iters) = duplicateClustersLoop(rawLoop, raw, maxIters, strict)
    // hand the labels back in the caller's session, re-cached THERE so
    // the caller's `unpersist()` actually releases them — unpersisting
    // a frame bridged from a child-session cache is a silent no-op
    // (CacheManager matches on the plan, and the bridge plan differs)
    val bridged = spark.createDataFrame(labels.rdd, labels.schema).cache()
    bridged.count() // copy out of the child cache before dropping it
    labels.unpersist()
    (bridged, iters)
  }

  /** In-memory union-find over a bounded edge list: labels every node
    * appearing in any pair with its component MINIMUM — exactly the
    * star-fixpoint labeling of the distributed loop. Self-pairs label
    * themselves, matching the loop's nodes-with-left-join semantics.
    */
  private def driverConnectedComponents(
      edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
    edges.foreach { case (a, b) =>
      nodes += a; nodes += b
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union under the smaller root keeps roots = minima
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
    }
    nodes.iterator.map(n => (n, find(n))).toSeq
  }

  private def duplicateClustersLoop(
      raw: DataFrame, cachedSource: DataFrame,
      maxIters: Int, strict: Boolean): (DataFrame, Int) = {
    // every node that appears in any pair (including degenerate
    // self-pairs) must receive a label row in the output
    val nodes = raw.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct().cache()
    // canonical undirected edges: u < v, no self-loops, no duplicates
    var edges = raw
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v")).distinct().cache()

    // large-star: group the symmetric edge list by node; each node
    // links its LARGER neighbors to the minimum of its neighborhood.
    // Keeps edge count non-increasing while halving long chains.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u").as("src"), col("v").as("dst"))
        .union(e.select(col("v").as("src"), col("u").as("dst")))
      val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      // emitted (dst, m) always has m <= src < dst: already canonical.
      // No distinct here: the following smallStar aggregates by v with
      // min(u) (duplicates cannot change a min, and its map-side
      // combine collapses them before the shuffle) and its own output
      // IS distinct — dropping the exchange saves a whole shuffle per
      // round without growing what crosses the wire meaningfully.
      sym.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("m").as("u"), col("dst").as("v"))
    }

    // small-star: group by the larger endpoint; link all smaller
    // neighbors (and the center itself) to the neighborhood minimum.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("v").agg(min(col("u")).as("m"))
      val members = e.join(mins, "v")
        .where(col("u") =!= col("m"))
        .select(col("m").as("u"), col("u").as("v"))
      val centers = mins.select(col("m").as("u"), col("v"))
      members.union(centers).distinct()
    }

    // fixpoint test: the star forest is stable under both operations,
    // so an unchanged (count, hash-xor) pair ⟺ converged. The xor of
    // per-edge 64-bit hashes is order-independent and overflow-free
    // (ANSI mode rejects a wrapping sum); an aliased collision would
    // need two DISTINCT edge sets with equal counts AND equal xors
    // (~2^-64). coalesce: the aggregate over ZERO edges is one NULL
    // row (empty pair input — a normal clean-corpus outcome), which
    // must read as 0, not NPE.
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }

    var prev = checksum(edges)
    var converged = prev._1 == 0L // no edges: trivially a (empty) star forest
    var iter = 0
    while (!converged && iter < maxIters) {
      // Materialize (not cache): each round's plan references the
      // previous round ~9 times, so an uncut lineage grows 9^rounds and
      // OOMs the driver just STRINGIFYING the plan. Materializing makes
      // every round a constant-size plan over a materialized leaf;
      // dropped rounds are reclaimed by the ContextCleaner. Lazy, so
      // the checksum action right below both materializes the
      // round and folds the convergence probe in ONE job per
      // round instead of two.
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val cur = checksum(next)
      edges.unpersist()
      // rounds > 1: the retired frame is a localCheckpoint whose blocks
      // Dataset.unpersist does NOT release — drop them at the RDD level
      // (deterministic, instead of waiting on ContextCleaner GC)
      org.apache.spark.sql.graft.RddBridge.unpersistLocalCheckpoint(edges)
      edges = next
      converged = cur == prev
      prev = cur
      iter += 1
    }

    // at the star fixpoint every non-root appears as `v` of exactly one
    // edge whose `u` is the component minimum; roots and self-pair-only
    // nodes label themselves. Before convergence (maxIters hit) this
    // reads the partial per-node minimum — documented partial labels.
    val memberLabels = edges.groupBy(col("v").as("doc_id"))
      .agg(min(col("u")).as("member_min"))
    val labels = nodes.join(memberLabels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("member_min"), col("doc_id")).as("cluster_id"))
      .cache()
    labels.count() // materialize before dropping the upstream caches
    cachedSource.unpersist()
    nodes.unpersist()
    edges.unpersist()
    org.apache.spark.sql.graft.RddBridge.unpersistLocalCheckpoint(edges)
    if (!converged) {
      // star fixpoint not reached: labels are only partially
      // propagated, so extra survivors would leak through silently
      val msg = s"duplicateClusters did not converge within $maxIters iterations; " +
        "labels are partial (raise maxIters, or components are pathologically deep)"
      if (strict) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    (labels, iter)
  }

  /** Incremental duplicate-cluster maintenance: merge a new batch's
    * pair graph into an EXISTING converged `(doc_id, cluster_id)`
    * labeling without recomputing components from scratch — the
    * daily-ingest complement of [[incrementalExactDedupBloom]].
    *
    * Key fact: a converged labeling is a connectivity-preserving
    * compression of the graph that produced it — replacing a
    * component's original edges by its star edges (`doc → cluster
    * min`) keeps the node set and the connectivity (and therefore the
    * component minimum) identical. So only components the new batch
    * TOUCHES need to iterate:
    *
    *  1. touched clusters = labels of nodes named by any new pair;
    *  2. those clusters' star edges ∪ the new pairs feed one
    *     [[duplicateClusters]] run — a subgraph sized to the touched
    *     components + batch, not the corpus;
    *  3. every other label row passes through verbatim (one anti-join,
    *     zero iteration).
    *
    * Result ≡ `duplicateClusters(oldPairs ∪ newPairs)` — the oracle
    * query pins exactly this equivalence. Precondition: `existing` is
    * a CONVERGED labeling (the normal output of [[duplicateClusters]];
    * partial labels from a maxIters bailout would compress wrongly).
    *
    * Scale shape: a daily batch touches a sliver of a 100 TB corpus's
    * clusters — the expensive star loop runs over that sliver, the
    * untouched bulk is a single anti-join scan (no shuffle of the
    * label table beyond the hash on cluster_id, and the touched-id
    * side is batch-sized, broadcastable by AQE).
    */
  def mergeDuplicateClusters(existing: DataFrame, newPairs: DataFrame,
                             maxIters: Int = 20,
                             strict: Boolean = false,
                             driverMaxEdges: Long = DefaultDriverCcMaxEdges): DataFrame =
    mergeDuplicateClustersWithRounds(
      existing, newPairs, maxIters, strict, driverMaxEdges)._1

  /** [[mergeDuplicateClusters]] plus the star rounds executed over the
    * touched subgraph — exposed so specs can pin that untouched
    * components stay out of the loop (rounds scale with the BATCH).
    */
  private[graft] def mergeDuplicateClustersWithRounds(
      existing: DataFrame, newPairs: DataFrame,
      maxIters: Int = 20, strict: Boolean = false,
      driverMaxEdges: Long = DefaultDriverCcMaxEdges): (DataFrame, Int) = {
    val labels = existing
      .select(col("doc_id").cast("long"), col("cluster_id").cast("long"))
    val np = newPairs
      .select(col("id_a").cast("long"), col("id_b").cast("long")).cache()
    val touchedNodes = np
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    // clusters the batch can reach — only these can change. Tiny
    // (bounded by 2×batch), cached because both the seed-edge join and
    // the pass-through anti-join key on it; materialized by the
    // duplicateClusters run below, and kept cached after return because
    // the pass-through leg of the (lazy) result still reads it —
    // without it, consuming the result would re-evaluate the new-pair
    // PIPELINE (np is unpersisted below once the merged labels
    // materialize).
    val touchedClusters = labels.join(touchedNodes, Seq("doc_id"))
      .select("cluster_id").distinct().cache()
    // star-edge compression of the touched components: node sets and
    // connectivity (hence component minima) are preserved, row count is
    // exactly the touched label rows. Self-rows (root → root) ride
    // along as self-pairs, which duplicateClusters already handles.
    val seedEdges = labels.join(touchedClusters, Seq("cluster_id"))
      .select(col("doc_id").as("id_a"), col("cluster_id").as("id_b"))
    val (merged, iters) =
      duplicateClustersWithRounds(
        seedEdges.unionByName(np), maxIters, strict, driverMaxEdges)
    np.unpersist() // merged + touchedClusters are materialized; np is done
    val untouched = labels.join(touchedClusters, Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
    (untouched.unionByName(merged.select("doc_id", "cluster_id")), iters)
  }

  /** Persisted cluster-label store: the converged `(doc_id,
    * cluster_id)` labeling written once per corpus, so daily ingest
    * runs [[mergeDuplicateClusters]] against DISK state instead of
    * re-deriving the precondition — the same operational pattern as
    * [[nearDedupIndex]] (near-dup) and `Similarity.appendCellPartitioned`
    * (ANN). Plain parquet: splittable, schema-checked on read, and the
    * merge's untouched-label leg stays a pure scan of it.
    */
  def writeClusterLabelStore(labels: DataFrame, path: String): Unit =
    labels.select(col("doc_id").cast("long"), col("cluster_id").cast("long"))
      .write.mode("overwrite").parquet(path)

  def readClusterLabelStore(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("doc_id"), col("cluster_id"))

  /** Merge a batch's pair graph into the labeling persisted at `path`.
    * Returns the merged labeling (≡ a from-scratch run over old ∪ new
    * pairs); the caller decides when to write it back — write to a NEW
    * versioned path and swap, never overwrite a store a lazy plan may
    * still be reading.
    */
  def mergeClusterLabelStore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newPairs: DataFrame, maxIters: Int = 20,
      strict: Boolean = false): DataFrame =
    mergeDuplicateClusters(
      readClusterLabelStore(spark, path), newPairs, maxIters, strict)

  /** Apply cluster resolution: drop every non-canonical member, keep
    * canonical docs and untouched singletons — the end-to-end dedup.
    */
  def dropDuplicateClusters(df: DataFrame, pairs: DataFrame,
                            idCol: String): DataFrame = {
    val losers = duplicateClusters(pairs)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}
