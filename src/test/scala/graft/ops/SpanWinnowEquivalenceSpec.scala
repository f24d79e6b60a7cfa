package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{WinnowAnchorHashes, WinnowFingerprint}

/** The winnowed anchor prefilter ([[Dedup.SpanWinnowPrefilterKey]])
  * must be RESULT-INVISIBLE: `repeatedSpans` with the prefilter on is
  * bit-identical to the ungated index for every strategy, both
  * `includeSelf` settings, and both candidate-set shipping modes
  * (driver-collected broadcast and the lazy distributed semi-join).
  *
  * Three layers:
  *  1. the [[WinnowAnchorHashes]] expression against a direct
  *     sliding-window-minimum reference (rightmost tie, record on
  *     index change) plus its two load-bearing properties — the
  *     winnowing guarantee (shared substring ≥ w + k − 1 ⇒ shared
  *     anchor VALUE) and self-repeat multiplicity (the same substring
  *     twice in one doc ⇒ the value at ≥ 2 anchor entries);
  *  2. the candidate-derivation unit (cross-doc and self gating);
  *  3. end-to-end equivalence on random corpora, including the
  *     over-cap adversarial corpus: a gram whose FULL-corpus count is
  *     over `maxGramFreq` only because of occurrences in docs the
  *     prefilter discards — the case where skipping the full-corpus
  *     cap correction would emit a merged span the ungated index
  *     fragments.
  */
class SpanWinnowEquivalenceSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def withWinnow[A](on: Boolean)(f: => A): A = {
    spark.conf.set(Dedup.SpanWinnowPrefilterKey, on.toString)
    try f finally spark.conf.unset(Dedup.SpanWinnowPrefilterKey)
  }

  /** The spec's default limits: the candidate-fraction guard off (1.1,
    * which also skips the density probe), both shipping modes and the
    * Bloom at values the small corpora below stay under.
    */
  private def limits(frac: Double = 1.1, probeFrac: Double = 0.01,
                     driverMax: Long = 4000000L,
                     bloomMax: Long = 32000000L): Dedup.WinnowLimits =
    Dedup.WinnowLimits(frac, probeFrac, driverMax, bloomMax)

  // ---- layer 1: the expression ------------------------------------

  private def polyHashes(s: String, k: Int, base: Long): Array[Long] = {
    val cps = s.codePoints().toArray
    if (cps.length < k) return Array.emptyLongArray
    Array.tabulate(cps.length - k + 1) { i =>
      var h = 0L
      for (j <- 0 until k)
        h = (h * base + cps(i + j)) % WinnowFingerprint.Mod
      h
    }
  }

  /** Direct reference: per window the RIGHTMOST index of the minimum
    * 31-bit h1; emit the 62-bit pack `(h1 << 31) | h2` whenever the
    * selected index changes (h2 = the independent base-263 roll).
    */
  private def refAnchors(s: String, k: Int, w: Int): Seq[Long] = {
    val hashes = polyHashes(s, k, WinnowFingerprint.Base)
    val h2s = polyHashes(s, k, WinnowAnchorHashes.Base2)
    def packed(i: Int): Long = (hashes(i) << 31) | h2s(i)
    val g = hashes.length
    if (g == 0) return Seq.empty
    if (g <= w) {
      var sel = 0
      for (i <- 1 until g) if (hashes(i) <= hashes(sel)) sel = i
      return Seq(packed(sel))
    }
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var last = -1
    for (e <- (w - 1) until g) {
      var sel = e - w + 1
      for (i <- (e - w + 2) to e) if (hashes(i) <= hashes(sel)) sel = i
      if (sel != last) { last = sel; out += packed(sel) }
    }
    out.toSeq
  }

  private def anchors(s: String, k: Int, w: Int): Seq[Long] = {
    val r = WinnowAnchorHashes.compute(UTF8String.fromString(s), k, w)
    r.toLongArray().toSeq
  }

  test("WinnowAnchorHashes matches the direct reference on random strings") {
    val rnd = new scala.util.Random(7)
    val alpha = "abc d"
    for (trial <- 0 until 200) {
      val n = rnd.nextInt(60)
      val s = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
      val k = 1 + rnd.nextInt(6)
      val w = 1 + rnd.nextInt(8)
      assert(anchors(s, k, w) == refAnchors(s, k, w),
        s"trial=$trial k=$k w=$w s='$s'")
    }
  }

  test("WinnowAnchorHashes high-31-bit parts equal the WinnowFingerprint set") {
    // selection is keyed on the same 31-bit h1 as WinnowFingerprint, so
    // projecting the packed values back to h1 recovers exactly the
    // fingerprint's distinct window-minimum set — pins that the 62-bit
    // widening changed only the VALUE space, not which grams win
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 50) {
      val s = Seq.fill(30 + rnd.nextInt(200))("abcdef "(rnd.nextInt(7))).mkString
      val k = 4; val w = 5
      val fp = WinnowFingerprint.compute(UTF8String.fromString(s), k, w)
        .toLongArray().toSet
      assert(anchors(s, k, w).map(_ >>> 31).toSet == fp)
      // and the low 31 bits are the base-263 roll of the same gram
      val h1 = polyHashes(s, k, WinnowFingerprint.Base)
      val h2 = polyHashes(s, k, WinnowAnchorHashes.Base2)
      val validPacks = h1.indices.map(i => (h1(i) << 31) | h2(i)).toSet
      assert(anchors(s, k, w).forall(validPacks.contains))
    }
  }

  test("guarantee: a shared substring of length k+w-1 shares an anchor value; a self-repeat doubles one") {
    val rnd = new scala.util.Random(13)
    val k = 5; val w = 7; val t = k + w - 1
    for (trial <- 0 until 100) {
      def rand(n: Int) = Seq.fill(n)("ghijklmnopqrstuvwxyz"(rnd.nextInt(20))).mkString
      val shared = rand(t)
      val a = rand(20 + rnd.nextInt(40)) + shared + rand(20 + rnd.nextInt(40))
      val b = rand(20 + rnd.nextInt(40)) + shared + rand(20 + rnd.nextInt(40))
      assert(anchors(a, k, w).toSet.intersect(anchors(b, k, w).toSet).nonEmpty,
        s"trial=$trial: cross-doc guarantee violated")
      val self = rand(10 + rnd.nextInt(30)) + shared +
        rand(10 + rnd.nextInt(30)) + shared + rand(10)
      val counts = anchors(self, k, w).groupBy(identity)
      assert(counts.values.exists(_.size >= 2),
        s"trial=$trial: self-repeat multiplicity violated")
    }
  }

  // ---- layer 2: candidate derivation ------------------------------

  test("winnowCandidateIds gates exactly: sharing docs in, loners out, self only under includeSelf") {
    val k = 4; val w = 6 // threshold t = 9
    val shared = "qwertzuiopasd" // 13 ≥ t
    val docs = Seq(
      (1L, "aaa " + shared + " bbb"),
      (2L, "ccc " + shared + " ddd"),
      (3L, "loner text with nothing in common xyzxyzxy"),
      (4L, "eee " + "mnbvcxylkjhgf" + " fff " + "mnbvcxylkjhgf" + " ggg"))
      .toDF("doc_id", "text")
    val perDoc = Dedup.winnowPerDocAnchors(docs, "text", "doc_id", k, w)
    val cross = Dedup.winnowCandidateIds(perDoc, includeSelf = false)
      .as[Long].collect().toSet
    assert(cross == Set(1L, 2L))
    val withSelf = Dedup.winnowCandidateIds(perDoc, includeSelf = true)
      .as[Long].collect().toSet
    assert(withSelf == Set(1L, 2L, 4L))
  }

  // ---- layer 3: end-to-end equivalence ----------------------------

  /** Random corpus with planted shared pieces (as SpanBruteForceSpec)
    * plus digit-alphabet loner docs that share nothing — so the
    * prefilter actually discards documents and the equality check
    * would catch a wrongly-discarded candidate.
    */
  private def corpus(seed: Int, nDocs: Int, nLoners: Int,
                     allowSelf: Boolean): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val alpha = "abcdef "
    def rand(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    val base = Array.tabulate(nDocs)(_ => new StringBuilder(rand(60 + rnd.nextInt(120))))
    for (_ <- 0 until 2 * nDocs) {
      val src = rnd.nextInt(nDocs)
      val dst = if (allowSelf && rnd.nextBoolean()) src else rnd.nextInt(nDocs)
      if ((src != dst || allowSelf) && base(src).length > 40) {
        val s = base(src).toString
        val from = rnd.nextInt(s.length - 40)
        val piece = s.substring(from, from + 12 + rnd.nextInt(25))
        base(dst).insert(rnd.nextInt(base(dst).length), piece)
      }
    }
    val shared = base.zipWithIndex.map { case (sb, i) => ((i + 1).toLong, sb.toString) }
    val loners = (1 to nLoners).map { i =>
      // digits never appear in the shared alphabet: no cross-gram hits
      ((nDocs + i).toLong, Seq.fill(80)("0123456789"(rnd.nextInt(10))).mkString)
    }
    (shared ++ loners).toSeq
  }

  private def spans(docs: org.apache.spark.sql.DataFrame, k: Int, minLen: Int,
                    maxFreq: Int, includeSelf: Boolean, strategy: String,
                    lim: Dedup.WinnowLimits = limits()):
      Set[(Long, Long, Int, Int, Long)] =
    Dedup.repeatedSpans(docs, "text", "doc_id", k, minLen, maxFreq,
      includeSelf, strategy, lim)
      .as[(Long, Long, Int, Int, Long)].collect().toSet

  test("winnow prefilter is result-identical on random corpora (strategies x includeSelf x shipping modes)") {
    val k = 4; val minLen = 9; val maxFreq = 12
    for {
      seed <- Seq(31, 32)
      includeSelf <- Seq(false, true)
      strategy <- Seq(Dedup.SpanIndexWindow, Dedup.SpanIndexBounded)
      driverMax <- Seq(4000000L, 0L) // broadcast mode and lazy semi-join mode
      bloomMax <- Seq(32000000L, 0L) // Bloom-gated and full count pass
    } {
      val docs = corpus(seed, 10, 6, allowSelf = includeSelf)
        .toDF("doc_id", "text").repartition(5)
      val want = withWinnow(on = false) {
        spans(docs, k, minLen, maxFreq, includeSelf, strategy)
      }
      assert(want.nonEmpty, s"seed=$seed planted no spans — fixture too weak")
      val got = withWinnow(on = true) {
        spans(docs, k, minLen, maxFreq, includeSelf, strategy,
          lim = limits(driverMax = driverMax, bloomMax = bloomMax))
      }
      assert(got == want,
        s"seed=$seed self=$includeSelf strategy=$strategy driverMax=$driverMax bloomMax=$bloomMax")
    }
  }

  test("over-cap cap semantics stay corpus-wide: blocked-gram fragmentation is reproduced") {
    val k = 4; val minLen = 9; val maxFreq = 12
    // A and B share S = left + "wxyz" + right (all >= minLen pieces);
    // "wxyz" also occurs once in each of 20 digit-loner docs, with <
    // k+w-1 shared context, so the loners are NOT candidates. Full
    // count of gram "wxyz" = 22 > maxFreq -> the ungated index blocks
    // it and the A-B span fragments into two islands. A prefilter that
    // recounted only candidate docs would see count 2, band it, and
    // emit ONE merged span instead.
    val rnd = new scala.util.Random(41)
    def rand(n: Int) = Seq.fill(n)("abcdef"(rnd.nextInt(6))).mkString
    val left = rand(14); val right = rand(14)
    val s = left + "wxyz" + right
    val docs = (Seq(
      (1L, rand(30) + s + rand(30)),
      (2L, rand(25) + s + rand(25))) ++
      (1 to 20).map { i =>
        ((100 + i).toLong,
          Seq.fill(30)("0123456789"(rnd.nextInt(10))).mkString + "wxyz" +
            Seq.fill(30)("0123456789"(rnd.nextInt(10))).mkString)
      }).toDF("doc_id", "text").repartition(4)

    for {
      strategy <- Seq(Dedup.SpanIndexWindow, Dedup.SpanIndexBounded)
      // the Bloom-gated count must still see the loner docs' over-cap
      // occurrences (it gates on hash VALUES, never on documents), and
      // the ungated pass is the reference
      bloomMax <- Seq(32000000L, 0L)
    } {
      val want = withWinnow(on = false) {
        spans(docs, k, minLen, maxFreq, includeSelf = false, strategy = strategy)
      }
      // the fixture must actually fragment: two rows for the (1,2) pair
      assert(want.count(r => r._1 == 1L && r._2 == 2L) == 2,
        s"fixture did not fragment as designed: $want")
      val got = withWinnow(on = true) {
        spans(docs, k, minLen, maxFreq, includeSelf = false, strategy = strategy,
          lim = limits(bloomMax = bloomMax))
      }
      assert(got == want, s"strategy=$strategy bloomMax=$bloomMax")
    }
  }

  test("dense-corpus bailout and the w<2 guard leave results unchanged") {
    val k = 4; val minLen = 9; val maxFreq = 12
    val docs = corpus(51, 10, 0, allowSelf = false).toDF("doc_id", "text")
    val want = withWinnow(on = false) {
      spans(docs, k, minLen, maxFreq, includeSelf = false, Dedup.SpanIndexBounded)
    }
    // frac = 0.0: every corpus is "dense", phase 0 must bail to base
    val bailed = withWinnow(on = true) {
      spans(docs, k, minLen, maxFreq, includeSelf = false, Dedup.SpanIndexBounded,
        lim = limits(frac = 0.0))
    }
    assert(bailed == want)
    // minLen == k: w = 1, the prefilter cannot help and must step aside
    val wantTight = withWinnow(on = false) {
      spans(docs, k, minLen = k, maxFreq, includeSelf = false, Dedup.SpanIndexBounded)
    }
    val gotTight = withWinnow(on = true) {
      spans(docs, k, minLen = k, maxFreq, includeSelf = false, Dedup.SpanIndexBounded)
    }
    assert(gotTight == wantTight)
  }

  test("density pre-probe: result-identical on corpora large enough to trip it") {
    val k = 4; val minLen = 9; val maxFreq = 2000
    val rnd = new scala.util.Random(7)
    def rand(n: Int) =
      Seq.fill(n)("abcdefghijklmnopqrstuvwxyz0123456789"(rnd.nextInt(36))).mkString
    val shared = rand(40)
    // saturated: every doc embeds one shared 40-char span -> the
    // sampled slice measures ~100% candidates and the pre-probe bails
    // BEFORE the full anchor pass; sparse: random texts, the probe
    // measures a low fraction and lets the full (exact) guard decide
    val saturated = (0 until 600).map(i => (i.toLong, shared + rand(6)))
      .toDF("doc_id", "text").repartition(5)
    val sparse = (0 until 600).map(i => (i.toLong, rand(40)))
      .toDF("doc_id", "text").repartition(5)
    for (docs <- Seq(saturated, sparse)) {
      val want = withWinnow(on = false) {
        spans(docs, k, minLen, maxFreq, includeSelf = false, Dedup.SpanIndexBounded)
      }
      // probeFrac 0.9 so the 600-doc sample clears the 500-doc noise
      // floor; frac 0.5 (not limits()'s guard-disabling 1.1 default)
      // so the probe can actually bail on the saturated corpus
      val got = withWinnow(on = true) {
        spans(docs, k, minLen, maxFreq, includeSelf = false, Dedup.SpanIndexBounded,
          lim = limits(frac = 0.5, probeFrac = 0.9))
      }
      assert(got == want)
    }
  }

  test("bloom item cap: derived from the byte ceiling") {
    // 512 MiB at 1.2 B per item (1% fpp): ~447 M candidate chars stay gated
    assert(Dedup.WinnowBloomMaxBytes == (512L << 20))
    assert(Dedup.DefaultWinnowBloomMaxItems == ((512L << 20) / 1.2).toLong)
    assert(Dedup.WinnowLimits().bloomMaxItems == Dedup.DefaultWinnowBloomMaxItems)
  }
}
