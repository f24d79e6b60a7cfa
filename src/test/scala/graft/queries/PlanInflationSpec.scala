package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Partitioner, Router}
import graft.streaming.{CdcConfig, CdcPipeline}

/** Guard against the expression-inflation disease class found in round
  * 12: Catalyst's predicate pushdown substitutes projected aliases
  * into Filter conditions, and `FilterExec` performs NO subexpression
  * elimination — so a verdict column derived from N references to one
  * expensive native expression re-evaluates it N times per row on all
  * rows. The quality gate had `repetition_profile` inlined 13× (8×
  * slowdown at sf1, ~40× at sf10) before `PushdownBarrier` fenced it.
  *
  * This spec pins, for EVERY declared query, how many times each
  * expensive native expression appears in the live optimized plan
  * (structural count — traversal stops at InMemoryRelation, whose
  * recorded text does not execute again). Bounds are the round-12
  * calibrated values; a future refactor that re-opens an inlining hole
  * fails here with the query and symbol named. Multi-occurrence
  * entries are audited shapes, not bugs: the ngram pipeline's
  * inverted-index legs share one shuffle via ReuseExchange and its
  * join-backs are candidate-pruned.
  */
class PlanInflationSpec extends AnyFunSuite {
  import TestSpark.spark

  private val bounds = Map(
    "shingle_hashes" -> 14, // q_dedup_ngram: inv legs (exchange-reused) + 2 join-backs
    "char_ngram_codes" -> 4,
    "simhash64" -> 4,
    "nearest_cells" -> 4,
    "bloom_contains" -> 3,
    "hyperplane_buckets" -> 3,
    "jaccard_long" -> 2,
    "cosine_sim" -> 2,
    "minhash_from_hashes" -> 2,
    "minhash_signature" -> 2,
    "marshal_json" -> 1,
    "pq_adc_score" -> 1,
    "pq_lut" -> 1,
    "pq_encode" -> 1,
    "parse_test_decoding" -> 2, // prelude + full parse are distinct exprs; allow both
    "winnow_fingerprint" -> 1,
    "gram_position_hashes" -> 1,
    "bounded_posting_list" -> 1,
    "pack_id_pos" -> 1,
    "repetition_profile" -> 1)

  private def liveCounts(df: org.apache.spark.sql.DataFrame): Map[String, Int] = {
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    df.queryExecution.optimizedPlan.foreach { node =>
      node.expressions.foreach(_.foreach { e =>
        val n = e.prettyName
        if (bounds.contains(n)) counts(n) += 1
      })
    }
    counts.toMap
  }

  test("no declared query inflates an expensive native expression beyond its pinned bound") {
    val dir = "/root/testdata/sf0.001"
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((q, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      for ((n, c) <- liveCounts(fn(spark, dir)) if c > bounds(n))
        violations += s"$q: $n x$c (bound ${bounds(n)})"
    }
    assert(violations.isEmpty,
      "expression inflation detected (pushdown inlining? un-fenced filter " +
        s"on a derived column?):\n  ${violations.mkString("\n  ")}")
  }

  test("the quality gate's filtered consumption evaluates the profile exactly once") {
    // the round-12 regression in miniature: .where(col("keep")) used to
    // inline repetition_profile 13x into the Filter condition
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val filtered = graft.ops.Curation
      .qualityGate(docs, "text", "doc_id", 20, 5000, 0.45, 0.12)
      .where(col("keep")).select(col("doc_id"))
    val c = liveCounts(filtered)
    assert(c.getOrElse("repetition_profile", 0) == 1,
      s"profile must appear exactly once in the filtered plan, got $c")
  }

  test("the production CDC plan parses and marshals once per row, with or without GraftExtensions") {
    // `Main`'s replicate session and cdcbench add `where(json IS NOT
    // NULL)` after `transform`; unfenced, pushdown inlines that filter
    // into 6 parses and 2 marshals per row
    val plain = org.apache.spark.sql.graft.PlainSession.of(spark)
    assert(spark.catalog.functionExists("prelude_relation") &&
      !plain.catalog.functionExists("prelude_relation"),
      "the plain session must carry no GraftExtensions")
    val filteredFanout = CdcConfig(
      filterTables = Seq("public.t03", "public.t07", "public.t11", "public.t16"),
      whitelist = true,
      partitionMethod = Partitioner.TransactionBucket(16),
      workers = 4,
      routing = Router.Partition)
    val found = for (
        (sessionName, s) <- Seq("TestSpark" -> spark, "no extensions" -> plain);
        (cfgName, cfg) <- Seq("CdcConfig()" -> CdcConfig(), "filtered_fanout" -> filteredFanout)) yield {
      // the graft-wal source's columns; a computed (not literal) line
      // keeps the parse from being constant-folded out of the plan
      val lines = s.range(4).select(
        concat(lit("table public.t03: INSERT: id[integer]:"), col("id").cast("string")).as("line"),
        col("id").as("walStart"), col("id").as("serverWalEnd"), lit(0L).as("serverTimeMs"),
        lit("7").as("txn"), lit("7-0").as("timeBasedKey"))
      val out = CdcPipeline.transform(lines, cfg).where(col("json").isNotNull)
      assert(out.count() == 4, s"$sessionName, $cfgName")
      (s"$sessionName, $cfgName", liveCounts(out))
    }
    val inflated = found.filterNot { case (_, c) =>
      c.getOrElse("marshal_json", 0) == 1 &&
        c.getOrElse("parse_test_decoding", 0) <= bounds("parse_test_decoding")
    }
    assert(inflated.isEmpty, inflated.map { case (k, c) => s"$k: $c" }.mkString("\n  ", "\n  ", ""))
  }
}
