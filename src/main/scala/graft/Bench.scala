package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR with full materialization (internal-row scan, so
  * projections/JSON rendering are actually computed — a bare `count()`
  * would let Catalyst prune all the work away) and prints the one-line
  * JSON the driver records as BENCH_r{N}.json.
  */
object Bench {
  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** The positional per-query line: trimmed means in ascending name
    * order, `null` for a query with no successful rep, so a parser reads
    * a failure as missing instead of averaging a -1.0 sentinel.
    */
  private[graft] def perQueryLine(results: Seq[(String, Double)]): String = {
    val values = results.map { case (_, v) => if (v >= 0) f3(v) else "null" }
    s"""{"metric":"per_query","unit":"sec","order":"name_asc","n":${results.size},""" +
      s""""values":${values.mkString("[", ",", "]")}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
    // A/B experiment hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" layers
    // extra session confs for one-off plan comparisons (planner
    // toggles, memory knobs) without editing the harness; the driver
    // never sets it, so recorded BENCH_rN runs stay canonical.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => builder.config(k.trim, v.trim)
        case _ => ()
      }
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def evalFully(df: DataFrame): Long = df.queryExecution.toRdd.count()

    // Warm the JVM/codegen paths once so the first measured query isn't
    // paying one-time session costs. The CDC automaton + marshal path
    // is JIT-dominated (16× slower on first execution), so warm it with
    // a small synthetic corpus — standard JVM bench practice; measured
    // per-query times then reflect steady-state throughput.
    evalFully(spark.range(1000000).selectExpr("sum(id) as s"))
    def cdcWarmFrame(): DataFrame = {
      import org.apache.spark.sql.functions._
      val lines = spark.range(0, 200000).select(
        concat(lit("table public.w"), pmod(col("id"), lit(3)),
          lit(": INSERT: id[bigint]:"), col("id"),
          lit(" name[text]:'u "), col("id"), lit("''x' v[double precision]:'1.00'")).as("line"),
        col("id").cast("string").as("txn"))
        .withColumn("timeBasedKey", concat(col("txn"), lit("-0")))
        .withColumn("ord", col("txn").cast("long"))
      graft.streaming.CdcPipeline.transform(
        graft.fixtures.CdcFixture.withSourceMeta(lines),
        graft.streaming.CdcConfig(
          filterTables = Seq("public.w0"), whitelist = false,
          partitionMethod = graft.operators.Partitioner.TableName))
    }
    // local-iteration escape hatch: SPARK_GRAFT_BENCH_ONLY=q_a,q_b
    // times just those queries (the driver never sets it); resolved up
    // here so the warmup block can skip media-fixture materialization
    // when the filtered set contains no media query
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    locally {
      evalFully(cdcWarmFrame())
      // Touch every input table once so measured queries reflect
      // steady-state scan cost, not whichever query alphabetically
      // absorbs the cold footer/page-cache reads.
      Option(new java.io.File(sfDir).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .foreach { f =>
          try evalFully(spark.read.parquet(f.getAbsolutePath))
          catch { case _: Throwable => () } // nanos-ts tables handled per-query
        }
      // Materialize the synthetic media corpora up front (a no-op when
      // the per-sf cache already exists) so rep 1 of the media queries
      // prices decode+hash+pairing like every later rep, not the
      // one-time fixture ENCODE+write — with the default warmup of 0
      // the generation would otherwise land inside the first measured
      // pass and lean on the trimmed mean to absorb it.
      // ...but only the kinds some selected query actually reads: a
      // BENCH_ONLY span run over a fresh corpus shouldn't pay four
      // PNG/WAV/AIFF/GIF encode+write passes it never scans.
      val mediaKindQueries = Map(
        "png" -> Set("q_dedup_image_phash", "q_dedup_streaming_media"),
        "wav" -> Set("q_dedup_audio_fp"),
        "aiff" -> Set("q_dedup_audio_fp_aiff"),
        "gif" -> Set("q_dedup_video_frames", "q_dedup_streaming_video"))
      graft.ops.MediaFixtures.Kinds
        .filter(k => only.forall(sel =>
          mediaKindQueries.get(k).forall(_.exists(sel.contains))))
        .foreach { kind =>
          try graft.ops.MediaFixtures.table(spark, sfDir, kind)
          catch { case e: Throwable =>
            System.err.println(s"[bench] media fixture $kind skipped: $e")
          }
        }
    }
    // CALIBRATION PROBE: a fixed, sf-independent CPU+shuffle workload
    // (the 200k-line CDC warm pipeline, already JIT-warm at this
    // point), timed as the median of 3. The number rides the output
    // line as "cal" so HOST-SPEED DRIFT between recorded rounds is
    // self-evident from the artifacts: round 14's +64% "regression"
    // was pure machine drift and cost a four-run forensic
    // reconstruction to prove — a calibration delta (cal_r14/cal_r13)
    // would have shown it in one division.
    // This PRE-RUN probe doubles as the final JIT warm for the cal
    // workload; the HEADLINE cal_sec is the median of the per-rep
    // stamps below (the same measurement the artifact ships — r18's
    // headline 0.292 sat outside its own cal_per_rep spread of
    // 0.303-0.566, so cross-round normalization keyed off a number no
    // recorded pass actually saw).
    val calPrerun = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        evalFully(cdcWarmFrame())
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }

    // n repetitions per query, interleaved (rep-major) so a machine
    // hiccup lands on different queries each pass instead of biasing
    // one; the reported time is the per-query TRIMMED MEAN (min and max
    // samples dropped) — round 5 recorded a phantom 7.7× "regression"
    // because a contention spike landed inside a 3-rep median window.
    // All samples are emitted for variance analysis.
    val reps = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5")
      val n = try raw.toInt catch {
        case _: NumberFormatException =>
          System.err.println(s"[bench] bad SPARK_GRAFT_BENCH_REPS '$raw', using 5"); 5
      }
      math.max(1, n) // 0/negative would leave samples empty and break stats
    }
    // regression-gate self-test hook: SPARK_GRAFT_BENCH_SLEEP=q_name:ms
    // injects a real measured slowdown into one query, so the gate's
    // detect→isolate→reproduce path can be exercised end-to-end
    // (the driver never sets it)
    val seededSleep: Map[String, Long] = sys.env.get("SPARK_GRAFT_BENCH_SLEEP")
      .map(_.split(",").flatMap { kv =>
        kv.split(":") match {
          case Array(q, ms) => scala.util.Try(q.trim -> ms.trim.toLong).toOption
          case _ => None
        }
      }.toMap).getOrElse(Map.empty)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // SPARK_GRAFT_BENCH_GC=1: System.gc() between reps (untimed) so the
    // ContextCleaner can delete shuffle files whose RDDs are dead — a
    // long multi-query run at high SF otherwise accumulates every rep's
    // spill on local disk until the JVM exits (observed: ENOSPC at
    // ~sf10 with 27 interleaved query-reps in one JVM)
    val gcBetween = sys.env.get("SPARK_GRAFT_BENCH_GC").contains("1")
    // SPARK_GRAFT_BENCH_WARMUP=N: run N untimed rep-major passes first.
    // The session-level warmup above covers scans and the shared CDC
    // path, but each query's own codegen'd loops still need ~2
    // executions to reach C2 steady state — in a SMALL BENCH_ONLY set
    // there are no sibling queries to absorb that, and an isolated
    // span-family run at sf1 measured 48.5→15.4→10.5 s across reps
    // purely from JIT (the 63-query driver run is warm by interleave,
    // so its default stays 0).
    val warmupReps = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "0")
      try math.max(0, raw.toInt) catch { case _: NumberFormatException => 0 }
    }
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val failures = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    // SPARK_GRAFT_BENCH_HEAP=1: after each measured rep (+GC), record
    // retained heap and block-manager state — the long-running-session
    // leak probe behind the one-JVM Context-Cleaner OOM investigation
    // (SCALE.md). Each entry: query, used-heap MB after back-to-back
    // GCs, persistent RDD count, tracked blocks, storage MB, broadcast
    // blocks. Emitted as one [bench-heap] stderr JSON line.
    // The probe PERTURBS timings: the forced full-GC pairs between reps
    // slow the following query 10-45 % (measured at sf0.1). Leak
    // diagnosis and profile_gate only — never enable on an official
    // bench run (the gate's base/current are both recorded with it on,
    // so its comparisons stay apples-to-apples).
    val heapProbe = sys.env.get("SPARK_GRAFT_BENCH_HEAP").contains("1")
    val heapSeries =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long, Int, Long, Long, Long)]
    def probeState(tag: String): Unit = if (heapProbe) {
      // Caller-owned result caches (curate's packedTrain/split, the
      // incremental-cluster pair frame) are a KNOWN ~1-RDD-per-call
      // constant; release them like Verify does so the retention
      // ceilings measure unowned growth, not the documented contract.
      // Probe runs only (never official timing), so the cache loss
      // cannot distort a recorded bench number.
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(100); System.gc(); Thread.sleep(100)
      val rt = Runtime.getRuntime
      val usedMb = (rt.totalMemory - rt.freeMemory) / (1024 * 1024)
      val rdds = spark.sparkContext.getPersistentRDDs.size
      val (blocks, memBytes, bcast) =
        org.apache.spark.graft.StateProbe.blockState(spark.sparkContext)
      heapSeries += ((tag, usedMb, rdds, blocks, memBytes / (1024 * 1024), bcast))
    }
    for (_ <- 1 to warmupReps; (name, fn) <- names) {
      try evalFully(fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: $e")
      }
      if (gcBetween) System.gc()
    }
    // Per-PASS calibration stamps: one untrimmed cdcWarmFrame timing at
    // the head of each measured rep-major pass, emitted as
    // "cal_per_rep" in the detail file. A random host stall inside one
    // pass (r17 recorded a 191 s video rep against a 15.5 s median) is
    // then attributable from the artifact alone — the stalled pass
    // carries its own inflated stamp — instead of requiring a manual
    // re-run to distinguish host regime from a code-level outlier.
    // bench_gate.py annotates (never discards) passes whose stamp is
    // > 1.5x the run median.
    val calPerRep = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (rep <- 1 to reps) {
      calPerRep += {
        val t0 = System.nanoTime()
        evalFully(cdcWarmFrame())
        (System.nanoTime() - t0) / 1e9
      }
      for ((name, fn) <- names) {
        val t0 = System.nanoTime()
        // a failed rep records NO sample — its elapsed time is
        // time-to-failure, not query time, and silently averaging it in
        // once produced a plausible-looking number for a rep that died
        // on a full disk
        try {
          evalFully(fn(spark, sfDir))
          seededSleep.get(name).foreach(Thread.sleep)
          samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          failures(name) = failures(name) + 1
        }
        if (gcBetween) System.gc()
        probeState(name)
      }
    }
    if (heapProbe) {
      probeState("final")
      // registered names are identifier-style today, but an unescaped
      // quote/backslash would silently break profile_gate's json.loads
      def esc(s: String): String =
        s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
      val entries = heapSeries.map { case (q, mb, rdds, blocks, storMb, bc) =>
        s"""{"q":"${esc(q)}","heap_mb":$mb,"rdds":$rdds,"blocks":$blocks,"storage_mb":$storMb,"broadcasts":$bc}"""
      }.mkString("[", ",", "]")
      System.err.println(s"""[bench-heap] {"series":$entries}""")
    }
    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // headline calibration = median of the per-rep stamps, so
    // cross-round normalization keys off the same measurement the
    // artifact carries (cal_per_rep); the pre-run probe rides the
    // detail file as cal_prerun for continuity with r14-r18 artifacts
    val calSec = if (calPerRep.nonEmpty) median(calPerRep.toVector) else calPrerun
    // trimmed mean: drop the single min and max sample (when >=3 reps),
    // average the rest — one contention spike can no longer move the
    // recorded number, unlike a median over 3 where it shifts the
    // middle sample
    def trimmedMean(xs: Vector[Double]): Double = {
      val s = xs.sorted
      val t = if (s.size >= 3) s.slice(1, s.size - 1) else s
      if (t.isEmpty) -1.0 else t.sum / t.size
    }
    val results = names.map { case (name, _) => name -> trimmedMean(samples(name)) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val all = names.map { case (name, _) =>
      "\"" + name + "\":" + samples(name).map(f3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val meds = names.map { case (name, _) =>
      "\"" + name + "\":" + f3(median(samples(name)))
    }.mkString("{", ",", "}")
    // a query with no successful rep reports the -1.0 sentinel; keep it
    // out of the suite total (r9's recorded total was ~2 s low because
    // two sentinels rode the sum)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // failed-rep counts ride both outputs so a contaminated run is
    // visible in the recorded evidence, not just in a discarded stream
    val failedJson =
      if (failures.isEmpty) ""
      else failures.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(",\"failed_reps\":{", ",", "}")
    // The recorder keeps only a ~2000-char TAIL of stdout (with sbt's
    // [success] line appended after) and parses the JSON line out of
    // that window. At 72 queries the old per-query line hit 1,942
    // chars and the round-14 artifact came back truncated
    // ("parsed": null) — per-query data now lives in BENCH_DETAIL.json
    // (full precision, every sample) and on the [bench-samples] stderr
    // line (unwindowed), while the stdout line stays O(100) chars
    // FOREVER regardless of registry growth: total, calibration,
    // query count, failures.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    val calReps = calPerRep.map(f3).mkString("[", ",", "]")
    val detailJson =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","cal_sec":${f3(calSec)},""" +
        s""""cal_per_rep":$calReps,"cal_prerun":${f3(calPrerun)},""" +
        s""""reps":$reps,"stat":"trimmed_mean","queries":$qs,"medians":$meds,""" +
        s""""samples":$all$failedJson,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(detailJson) finally w.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $detailPath: $e")
    }
    System.err.println(s"""[bench-samples] {"reps":$reps,"stat":"trimmed_mean","samples":$all,"medians":$meds}""")
    val sfShort = new java.io.File(sfDir).getName
    // COMPLETE per-query data inside the recorder's 2000-char tail
    // window (round-21 PERF ask): the sum of the 83 query NAMES alone
    // is ~1.4 kB, so a named JSON map can never fit next to the total
    // line — emit the trimmed means POSITIONALLY instead, in ascending
    // name order (the same sorted order `names` iterates everywhere;
    // cross-reference against CORRECTNESS_rN.json's sorted keys or the
    // "queries" map in BENCH_DETAIL.json). ~600 chars for 83 queries,
    // so this line + the total line + sbt's [success] line all fit the
    // window uncut. Additions-only: timing and the final total-line
    // contract are unchanged.
    println(perQueryLine(results))
    // cal_normalized_total = suite total expressed in calibration-probe
    // units (value / cal_sec): host-speed drift multiplies both the
    // numerator and the probe, so cross-round comparisons of this ratio
    // self-adjudicate the drift the r21 verdict had to reconstruct
    // manually (identical tree measured 1.24x slower on a slower host).
    val calNorm = if (calSec > 0) f3(total / calSec) else "-1.0"
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","cal_sec":${f3(calSec)},"cal_normalized_total":$calNorm,"n_queries":${names.size},"detail":"$detailPath"$failedJson,"sf":"$sfShort"}""")
    spark.stop()
  }
}
