package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[TextAnalysis.bpeLearnMerges]] against an independent list-based
  * reference: same symbolization, same (count desc, pair asc) argmax,
  * same leftmost-nonoverlapping greedy merge application.
  */
class BpeSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def refBpe(words: Map[String, Long], numMerges: Int): Seq[(Int, String, Long)] = {
    var vocab: List[(List[String], Long)] =
      words.toList.map { case (w, c) => (w.map(_.toString).toList, c) }
    val out = scala.collection.mutable.ListBuffer.empty[(Int, String, Long)]
    var step = 1
    var done = false
    while (step <= numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.zip(syms.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + c
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((x, y), cnt) = counts.minBy { case ((a, b), c) => (-c, a + " " + b) }
        out += ((step, s"$x $y", cnt))
        def apply(l: List[String]): List[String] = l match {
          case a :: b :: rest if a == x && b == y => (a + b) :: apply(rest)
          case a :: rest                          => a :: apply(rest)
          case Nil                                => Nil
        }
        vocab = vocab.map { case (syms, c) => (apply(syms), c) }
        step += 1
      }
    }
    out.toSeq
  }

  test("merge table matches reference on the Sennrich-style corpus") {
    // token counts: low×5, lower×2, newest×6, widest×3, aaaa×2 (run case)
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 3L, "aaaa" -> 2L)
    val text = words.toSeq.sortBy(_._1)
      .flatMap { case (w, c) => Seq.fill(c.toInt)(w) }.mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    // word COUNTS inside bpeLearnMerges come from token occurrences,
    // which the text above reproduces exactly
    val got = TextAnalysis.bpeLearnMerges(df, "text", numMerges = 10)
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
    val want = refBpe(words, 10)
    assert(got == want)
    // the run word exercises pairwise greedy merging: "a a" must merge
    // to "aa aa", never "aa a a" — the reference enforces it, equality
    // above carries it over; sanity-pin the first run-derived merge
    assert(want.exists(_._2 == "a a"))
  }

  test("exhaustion stops early: single-char vocab has no pairs") {
    val df = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeLearnMerges(df, "text", numMerges = 5)
      .as[(Int, String, Long)].collect()
    assert(got.isEmpty) // every word is one symbol: no pairs at all
  }

  test("tie-break is deterministic: equal counts pick lexicographic pair") {
    val df = Seq((1L, "xy xy zw zw")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeLearnMerges(df, "text", numMerges = 1)
      .as[(Int, String, Long)].collect()
    assert(got.toSeq == Seq((1, "x y", 2L)))
  }

  test("driver-path merge sequence ≡ distributed-path merge sequence") {
    // run-heavy + tie-heavy corpus so both the greedy-overlap rule and
    // the (count desc, pair asc) tie-break are loop-carried through
    // enough steps to catch any divergence
    val df = Seq(
      (1L, "low lower lowest newest newest widest aaaa aaaa abab"),
      (2L, "banana bandana low newest xy xy zw zw aaaa"),
      (3L, "mississippi riverbank banana abab abab")).toDF("doc_id", "text")
    val driver = TextAnalysis.bpeLearnMerges(df, "text", numMerges = 25)
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
    val dist = TextAnalysis.bpeLearnMerges(df, "text", numMerges = 25, driverMaxVocab = 0)
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
    assert(driver == dist)
    assert(driver.nonEmpty)
    // and both still match the independent list-based reference
    val words = Map("low" -> 2L, "lower" -> 1L, "lowest" -> 1L,
      "newest" -> 3L, "widest" -> 1L, "aaaa" -> 3L, "abab" -> 3L,
      "banana" -> 2L, "bandana" -> 1L, "xy" -> 2L, "zw" -> 2L,
      "mississippi" -> 1L, "riverbank" -> 1L)
    assert(driver == refBpe(words, 25))
  }

  /** Naive sequential-in-order merge application — the encoder's
    * semantic reference (and exactly what the trainer does to its
    * vocabulary, word by word).
    */
  private def refEncode(w: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: List[String] = w.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toList
    for ((x, y) <- merges) {
      def app(l: List[String]): List[String] = l match {
        case a :: b :: rest if a == x && b == y => (a + b) :: app(rest)
        case a :: rest                          => a :: app(rest)
        case Nil                                => Nil
      }
      syms = app(syms)
    }
    syms
  }

  test("bpeEncode: parity with the trainer's merge order on seen and unseen words") {
    val df = Seq(
      (1L, "low lower lowest newest newest widest aaaa aaaa abab banana"))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.collectMerges(
      TextAnalysis.bpeLearnMerges(df, "text", numMerges = 15))
    assert(merges.nonEmpty)
    val words = Seq("low", "lower", "lowest", "newest", "widest", "aaaa",
      "abab", "banana", "unseen", "lowly", "aaaaaaa", "bananana")
    val got = words.toDF("w")
      .select(TextAnalysis.bpeEncode(col("w"), merges).as("e"))
      .as[Seq[String]].collect().toSeq
    assert(got == words.map(w => refEncode(w, merges)))
    // document-level: tokenize like the trainer, concat per-word syms
    val gotDoc = Seq("Lowest  Banana\tunseen").toDF("w")
      .select(TextAnalysis.bpeEncode(col("w"), merges))
      .as[Seq[String]].collect().head
    assert(gotDoc ==
      Seq("lowest", "banana", "unseen").flatMap(w => refEncode(w, merges)))
    // blank text encodes to zero tokens
    val blank = Seq("", "   \t").toDF("w")
      .select(TextAnalysis.bpeEncode(col("w"), merges))
      .as[Seq[String]].collect()
    assert(blank.forall(_.isEmpty))
    // astral chars are one symbol even with no merges
    val clef = new String(Character.toChars(0x1D11E))
    val ast = Seq(s"a$clef").toDF("w")
      .select(TextAnalysis.bpeEncode(col("w"), Nil))
      .as[Seq[String]].collect().head
    assert(ast == Seq("a", clef))
  }

  test("bpeEncode: sequential order is honored, never the rank-heap shortcut") {
    // rank 2 recreates rank 0's pair (x, abc): sequential application
    // must NOT revisit the rank-0 merge - the result stays two symbols
    val tricky = Seq(("x", "abc"), ("b", "c"), ("a", "bc"))
    val got = Seq("xabc").toDF("w")
      .select(TextAnalysis.bpeEncode(col("w"), tricky))
      .as[Seq[String]].collect().head
    assert(got == Seq("x", "abc"))
    assert(refEncode("xabc", tricky) == Seq("x", "abc"))
    // duplicate pair entries (rank lists) stay consistent with the
    // sequential reference
    val dup = Seq(("b", "c"), ("a", "bc"), ("b", "c"))
    val got2 = Seq("bcabc").toDF("w")
      .select(TextAnalysis.bpeEncode(col("w"), dup))
      .as[Seq[String]].collect().head
    assert(got2 == refEncode("bcabc", dup) && got2 == Seq("bc", "abc"))
  }

  test("symbolization is code-point aware: astral chars stay one symbol") {
    // java.util.regex `.` matches per code point (verified behavior the
    // implementation relies on): U+1D11E must symbolize as ONE symbol,
    // never a lone-surrogate pair — its first merge joins it to a BMP
    // neighbor as a whole character
    val clef = new String(Character.toChars(0x1D11E))
    val df = Seq((1L, s"a$clef a$clef")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeLearnMerges(df, "text", numMerges = 1)
      .as[(Int, String, Long)].collect().toSeq
    assert(got == Seq((1, s"a $clef", 2L)))
  }

  test("pair keys with NUL inside symbols never collide (space-joined keys)") {
    // NUL is NOT whitespace, so it can legally sit inside a symbol; a
    // NUL-joined pair key collided ("a\u0000","b") with ("a","\u0000b")
    // (both rendered "a\u0000\u0000b"). Sequence: rank 0 merges
    // \u0000+b, making pair ("a","\u0000b") present; its true rank is
    // 2, but under the colliding key the encoder saw [1, 2], burned
    // rank 1 on the not-present ("a\u0000","b") merge, and — because a
    // failed merge never re-pushes — stranded the word as two symbols.
    // Space-joined keys are collision-free (symbols can never contain
    // whitespace: the tokenizer splits on \s+ runs).
    val nul = "\u0000"
    val merges = Seq((nul, "b"), (s"a$nul", "b"), ("a", s"${nul}b"))
    val codec = new graft.functions.BpeCodec(merges)
    assert(codec.encodeWord(s"a${nul}b").toSeq == Seq(s"a${nul}b"))
  }
}
