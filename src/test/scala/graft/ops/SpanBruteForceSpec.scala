package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Randomized cross-check of [[Dedup.repeatedSpans]] and
  * [[Dedup.dropRepeatedSpans]] against a direct per-pair reference.
  *
  * The fixed fixture in OpsSpec and the DuckDB oracle pin a handful of
  * hand-constructed cases; this spec pins the ALGEBRA — gram-band
  * blocking by total occurrence count, per-(pair, diagonal) island
  * merge, keep-first interval surgery with overlap/nesting — on random
  * corpora with planted shared substrings, where blocking fragments
  * and overlapping cuts actually occur, under BOTH index strategies
  * (window and bounded must be result-identical everywhere — the
  * auto-select is a pure performance decision). The reference uses
  * string k-gram equality where the implementation uses Rabin–Karp
  * hashes; agreement also bounds the collision exposure on realistic
  * gram volumes.
  */
class SpanBruteForceSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** (label, strategy, packedPostings): all physical layouts — window,
    * bounded with packed 8-byte postings (the default), and bounded
    * with the full-range unpacked struct layout — must be
    * result-identical everywhere.
    */
  private val variants = Seq(
    ("window", Dedup.SpanIndexWindow, true),
    ("bounded-packed", Dedup.SpanIndexBounded, true),
    ("bounded-unpacked", Dedup.SpanIndexBounded, false))

  private def withPacked[A](packed: Boolean)(f: => A): A = {
    spark.conf.set(Dedup.SpanPackedPostingsKey, packed.toString)
    try f finally spark.conf.unset(Dedup.SpanPackedPostingsKey)
  }

  /** Reference spans over already-normalized strings: grams with total
    * corpus occurrence count in [2, maxFreq] pair across documents —
    * and, with `includeSelf`, across position pairs WITHIN a document
    * (earlier position is side A); runs of consecutive positions on
    * one (pair, diagonal) merge into maximal spans of run + k - 1
    * chars. 1-based positions, matching `gram_position_hashes`.
    */
  private def refSpans(norm: Map[Long, String], k: Int, minLen: Int,
                       maxFreq: Int, includeSelf: Boolean = false):
      Set[(Long, Long, Int, Int, Long)] = {
    def grams(s: String): Array[String] =
      if (s.length < k) Array.empty[String]
      else Array.tabulate(s.length - k + 1)(i => s.substring(i, i + k))
    val g = norm.map { case (id, s) => id -> grams(s) }
    val cnt = g.values.flatten.toSeq.groupBy(identity)
      .map { case (x, xs) => x -> xs.size }
    def inBand(x: String) = { val c = cnt(x); c >= 2 && c <= maxFreq }
    val out = scala.collection.mutable.Set[(Long, Long, Int, Int, Long)]()
    val ids = norm.keys.toSeq.sorted

    def mergeDiagonals(a: Long, b: Long,
                       pairs: Iterator[(Int, Int)]): Unit = {
      val byDiag = scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[Int]]()
      for ((pa, pb) <- pairs)
        byDiag.getOrElseUpdate(pa - pb, scala.collection.mutable.ArrayBuffer.empty) += pa
      for ((d, psRaw) <- byDiag) {
        val ps = psRaw.sorted
        var i = 0
        while (i < ps.size) {
          var j = i
          while (j + 1 < ps.size && ps(j + 1) == ps(j) + 1) j += 1
          val len = ps(j) - ps(i) + k
          if (len >= minLen)
            out += ((a, b, ps(i) + 1, ps(i) - d + 1, len.toLong))
          i = j + 1
        }
      }
    }

    for {
      ai <- ids.indices
      bi <- (ai + 1) until ids.size
    } {
      val a = ids(ai); val b = ids(bi)
      val ga = g(a); val gb = g(b)
      mergeDiagonals(a, b, for {
        pa <- ga.indices.iterator if inBand(ga(pa))
        pb <- gb.indices.iterator if ga(pa) == gb(pb)
      } yield (pa, pb))
    }
    if (includeSelf) for (a <- ids) {
      val ga = g(a)
      mergeDiagonals(a, a, for {
        pa <- ga.indices.iterator if inBand(ga(pa))
        pb <- (pa + 1) until ga.length if ga(pa) == ga(pb)
      } yield (pa, pb))
    }
    out.toSet
  }

  /** Reference keep-first surgery: excise the merged cut intervals
    * (1-based [start, start+len)) from the normalized text — the same
    * sorted fold `dropRepeatedSpans` runs as a Catalyst `aggregate`.
    */
  private def refCut(s: String, cuts: Seq[(Int, Long)]): String = {
    val sb = new StringBuilder
    var pos = 1
    for ((st, l) <- cuts.sorted) {
      if (st > pos) sb.append(s.substring(pos - 1, st - 1))
      pos = math.max(pos, st + l.toInt)
    }
    if (pos <= s.length) sb.append(s.substring(pos - 1))
    sb.toString
  }

  /** Random docs over a small alphabet (so band blocking actually
    * bites) with planted cross-document substrings (so spans actually
    * exist); with `allowSelf`, ~half the insertions copy a piece of a
    * doc into ITSELF (so within-document repeats exist too). Spaces
    * exercise normalize's whitespace collapse — the reference reads the
    * NORMALIZED text back from Spark, so positions stay aligned by
    * construction.
    */
  private def corpus(seed: Int, nDocs: Int,
                     allowSelf: Boolean = false): Seq[(Long, String)] = {
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
    base.zipWithIndex.map { case (sb, i) => ((i + 1).toLong, sb.toString) }.toSeq
  }

  test("repeatedSpans + dropRepeatedSpans match the direct reference on random corpora") {
    val k = 4; val minLen = 9; val maxFreq = 12
    for (seed <- Seq(1, 2, 3); (label, strategy, packed) <- variants) {
      val docs = corpus(seed, 10).toDF("doc_id", "text").repartition(5)
      val norm = docs.select(col("doc_id"),
        TextAnalysis.normalize(col("text")).as("n"))
        .as[(Long, String)].collect().toMap

      val got = withPacked(packed) {
        Dedup.repeatedSpans(docs, "text", "doc_id", k, minLen, maxFreq,
          strategy = strategy)
      }.as[(Long, Long, Int, Int, Long)].collect().toSet
      val want = refSpans(norm, k, minLen, maxFreq)
      assert(got == want, s"seed=$seed variant=$label")
      assert(want.nonEmpty, s"seed=$seed planted no spans — fixture too weak")

      val gotCut = withPacked(packed) {
        Dedup.dropRepeatedSpans(docs, "text", "doc_id", k, minLen, maxFreq,
          strategy = strategy)
      }.select("doc_id", "text_deduped").as[(Long, String)].collect().toMap
      for ((id, s) <- norm) {
        val cuts = want.collect { case (_, b, _, sb, l) if b == id => (sb, l) }.toSeq
        assert(gotCut(id) == refCut(s, cuts), s"seed=$seed variant=$label doc=$id")
      }
      // the point of the random fixture: blocking and overlap must occur
      val anyCut = norm.keys.exists(id => want.exists(_._2 == id))
      assert(anyCut, s"seed=$seed produced no cut side")
    }
  }

  /** Independent reference for raw-preserving surgery: re-derive the
    * normalized→raw position map (trim strips only spaces; a \s run is
    * one normalized space at the run's start; letters map 1:1 on this
    * ASCII corpus) and excise the mapped raw ranges with the same
    * running-max-end fold as [[refCut]].
    */
  private def refCutRaw(raw: String, cuts: Seq[(Int, Long)]): String = {
    val ws = " \t\n\f\r"
    var a = 0; while (a < raw.length && raw(a) == ' ') a += 1
    var b = raw.length; while (b > a && raw(b - 1) == ' ') b -= 1
    val norm2raw = scala.collection.mutable.ArrayBuffer[Int]()
    var i = a
    while (i < b) {
      norm2raw += i
      if (ws.contains(raw(i))) { while (i < b && ws.contains(raw(i))) i += 1 }
      else i += 1
    }
    def rawAt(norm0: Int): Int = if (norm0 >= norm2raw.size) b else norm2raw(norm0)
    val sb = new StringBuilder
    var cursor = 0
    var pos = 1
    for ((st, l) <- cuts.sorted) {
      val cs = math.max(st, pos)
      val ce = st + l.toInt
      if (ce > cs) {
        val rs = rawAt(cs - 1)
        if (rs > cursor) sb.append(raw.substring(cursor, rs))
        cursor = math.max(cursor, rawAt(ce - 1))
        pos = ce
      }
    }
    if (cursor < raw.length) sb.append(raw.substring(cursor))
    sb.toString
  }

  /** Re-case and re-space the corpus WITHOUT changing its normalized
    * text: random uppercasing and random whitespace-run inflation
    * (' ' → tabs/newlines/multi-space) are both identities under
    * normalize, so the spans of the decorated corpus are exactly the
    * spans of the base corpus — while the raw texts differ everywhere.
    */
  private def decorate(s: String, rnd: scala.util.Random): String = {
    val sb = new StringBuilder
    for (c <- s) {
      if (c == ' ') sb.append(Seq(" ", "  ", "\t", " \n", "\t ")(rnd.nextInt(5)))
      else sb.append(if (rnd.nextBoolean()) c.toUpper else c)
    }
    sb.toString
  }

  test("preserveRaw: cuts land on the original text; uncut docs come back byte-identical") {
    val k = 4; val minLen = 9; val maxFreq = 12
    for (seed <- Seq(21, 22); (label, strategy, packed) <- variants) {
      val rnd = new scala.util.Random(seed * 1000)
      val raws = corpus(seed, 10).map { case (id, s) => (id, decorate(s, rnd)) }
      val docs = raws.toDF("doc_id", "text").repartition(5)
      val norm = docs.select(col("doc_id"),
        TextAnalysis.normalize(col("text")).as("n"))
        .as[(Long, String)].collect().toMap
      val want = refSpans(norm, k, minLen, maxFreq)
      assert(want.nonEmpty, s"seed=$seed planted no spans — fixture too weak")

      val gotCut = withPacked(packed) {
        Dedup.dropRepeatedSpans(docs, "text", "doc_id", k, minLen, maxFreq,
          strategy = strategy, preserveRaw = true)
      }.select("doc_id", "text_deduped").as[(Long, String)].collect().toMap
      val rawById = raws.toMap
      var uncut = 0
      for ((id, raw) <- rawById) {
        val cuts = want.collect { case (_, b, _, sb, l) if b == id => (sb, l) }.toSeq
        assert(gotCut(id) == refCutRaw(raw, cuts),
          s"seed=$seed variant=$label doc=$id")
        if (cuts.isEmpty) {
          assert(gotCut(id) == raw, s"uncut doc $id must be byte-identical")
          uncut += 1
        }
      }
      assert(uncut > 0, s"seed=$seed left no uncut doc — fixture too weak")
    }
  }

  test("includeSelf: within-document repeats match the reference, and surgery keeps only the first occurrence") {
    val k = 4; val minLen = 9; val maxFreq = 12
    for (seed <- Seq(11, 12, 13); (label, strategy, packed) <- variants) {
      val docs = corpus(seed, 8, allowSelf = true).toDF("doc_id", "text").repartition(5)
      val norm = docs.select(col("doc_id"),
        TextAnalysis.normalize(col("text")).as("n"))
        .as[(Long, String)].collect().toMap

      val got = withPacked(packed) {
        Dedup.repeatedSpans(docs, "text", "doc_id", k, minLen, maxFreq,
          includeSelf = true, strategy = strategy)
      }.as[(Long, Long, Int, Int, Long)].collect().toSet
      val want = refSpans(norm, k, minLen, maxFreq, includeSelf = true)
      assert(got == want, s"seed=$seed variant=$label")
      val selfRows = want.filter(r => r._1 == r._2)
      assert(selfRows.nonEmpty, s"seed=$seed planted no SELF repeats — fixture too weak")
      // every self row pairs an earlier occurrence with a later one
      assert(selfRows.forall(r => r._3 < r._4), "self rows must have start_a < start_b")

      val gotCut = withPacked(packed) {
        Dedup.dropRepeatedSpans(docs, "text", "doc_id", k, minLen, maxFreq,
          includeSelf = true, strategy = strategy)
      }.select("doc_id", "text_deduped").as[(Long, String)].collect().toMap
      for ((id, s) <- norm) {
        val cuts = want.collect { case (_, b, _, sb, l) if b == id => (sb, l) }.toSeq
        assert(gotCut(id) == refCut(s, cuts), s"seed=$seed variant=$label doc=$id")
      }
    }
  }
}
