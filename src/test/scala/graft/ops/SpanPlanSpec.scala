package graft.ops

import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Structural pin for the span family's scale claim (PLANS.md): the
  * gram explode — the expensive native pass — is computed and shuffled
  * ONCE, and candidate pairs come from posting-list expansion, not a
  * self-join, under BOTH index strategies.
  *
  * History: rounds ≤10 used an h-keyed self-join whose two sides AQE
  * collapsed onto one ReusedExchange, but each side still paid its own
  * sort+window pass and the SortMergeJoin merged them (measured
  * 14.66×/decade at 10× interleaved — the repo's worst exponent).
  * Round 11 replaced the join with posting-list expansion and the
  * window count with the bounded aggregate; round 12 made the index
  * build strategy-selected (`window` wins ≤ ~sf1 in-memory, `bounded`
  * wins the spill regime — crossover A/B'd at three decades in
  * SCALE.md), with `auto` choosing by estimated input size.
  */
class SpanPlanSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def docs = (1L to 50L).map(i => (i, ("tok" + i + " ") * 30 +
    "shared repeated span body that is long enough to matter here "))
    .toDF("doc_id", "text")

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so the AQE final plan is decided
    val plan = df.queryExecution.executedPlan.toString
    plan.substring(0, plan.indexOf("== Initial Plan ==") match {
      case -1 => plan.length
      case i  => i
    })
  }

  test("bounded strategy: ONE gram pass, no join, no extra exchange, no gram sort window") {
    val p = finalPlan(Dedup.repeatedSpans(docs, "text", "doc_id",
      strategy = Dedup.SpanIndexBounded))
    val explodes = "gram_position_hashes".r.findAllIn(p).size
    assert(explodes == 1,
      s"expected ONE materialized gram explode, saw $explodes:\n${p.take(4000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"expected posting-list expansion, found a join:\n${p.take(4000)}")
    // exactly two hash exchanges end-to-end: the gram shuffle on h and
    // the island window's shuffle on (id_a, id_b, d) — the posting-list
    // aggregation must NOT introduce a third
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2,
      s"expected 2 hash exchanges (gram h + island window), saw $exchanges:\n${p.take(4000)}")
    // the frequency cutoff lives inside bounded_posting_list — there
    // must be no count-over-window on h (only the island-merge window)
    assert(p.contains("bounded_posting_list"),
      s"expected the bounded posting-list aggregate:\n${p.take(4000)}")
    val windows = "Window ".r.findAllIn(p).size
    assert(windows == 1,
      s"expected ONE window (island merge), saw $windows:\n${p.take(4000)}")
  }

  test("window strategy: ONE gram pass, no join, count window rides the same exchange as collect_list") {
    val p = finalPlan(Dedup.repeatedSpans(docs, "text", "doc_id",
      strategy = Dedup.SpanIndexWindow))
    val explodes = "gram_position_hashes".r.findAllIn(p).size
    assert(explodes == 1,
      s"expected ONE materialized gram explode, saw $explodes:\n${p.take(4000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"expected posting-list expansion, found a join:\n${p.take(4000)}")
    // two hash exchanges: gram h (count window + collect_list share it)
    // and the island window
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2,
      s"expected 2 hash exchanges (gram h + island window), saw $exchanges:\n${p.take(4000)}")
    assert(!p.contains("bounded_posting_list"),
      s"window strategy must not use the bounded aggregate:\n${p.take(4000)}")
    val windows = "Window ".r.findAllIn(p).size
    assert(windows == 2,
      s"expected TWO windows (h count + island merge), saw $windows:\n${p.take(4000)}")
  }

  test("auto picks window below the size threshold and bounded above it") {
    // a 50-doc LocalRelation is far below the 1 MiB threshold
    val small = Dedup.repeatedSpans(docs, "text", "doc_id")
    assert(!small.queryExecution.executedPlan.toString.contains("bounded_posting_list"),
      "tiny input must take the window form")
    // a 256 k-row range estimates above it (Catalyst sizes Range from
    // its row count); only the plan is built, no job runs
    val large = spark.range(0L, 1L << 18)
      .select(col("id").as("doc_id"), concat(lit("doc "), col("id").cast("string")).as("text"))
    assert(large.queryExecution.optimizedPlan.stats.sizeInBytes >= Dedup.SpanBoundedMinBytes,
      "fixture must estimate above the threshold")
    val big = Dedup.repeatedSpans(large, "text", "doc_id")
    assert(big.queryExecution.executedPlan.toString.contains("bounded_posting_list"),
      "above-threshold input must take the bounded form")
  }
}
