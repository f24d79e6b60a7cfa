package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.fixtures.CdcFixture
import graft.fixtures.CdcFixture.Col
import graft.functions.GraftFunctions
import graft.operators._
import graft.ops.{Asof, Curation, Dedup, MediaFixtures, Multimodal, RangeJoin, Sampling, Sessionize, Similarity, Skew, TextAnalysis}
import graft.streaming.{CdcConfig, CdcPipeline}

/** The declared query inventory (SURVEY §2.1 Q1–Q10 plus the
  * training-data operators), each expressed through the engine's
  * operator layer over the driver's testdata tables, with an ANSI-SQL
  * oracle where the semantics are SQL-expressible.
  *
  * CDC operators are driven through real `test_decoding` wire lines
  * rendered from the tables (so the parser is on the hot path of every
  * CDC query), and the oracle recomputes the expected result from the
  * original columns.
  */
object EntryQueries {

  private def T(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is TIMESTAMP(NANOS), which Spark 4 refuses to read
    // unless nanosAsLong is on — set it defensively (runtime conf) so
    // the queries work under any caller's session, then normalize the
    // long back to a microsecond timestamp.
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** [[graft.ops.ScanFanout.fanOutSmallScan]] applied SELECTIVELY: the
    * testdata tables are 1 file / 1 row group each, so a scan is ONE
    * task and every per-row expression downstream runs on one core.
    * Fanning out pays one exchange of the scanned rows, so it is only
    * applied where the per-row compute dwarfs that exchange (wire-line
    * render+parse, media decode+hash, text scoring: measured 1.7-5×)
    * — a blanket fan-out in T() was measured REGRESSING the cheap
    * aggregation queries 1.5-16× (the exchange shuffles full payloads
    * into a groupBy that map-side-combines anyway, and re-evaluated
    * multi-consumer plans like ngramJaccardDuplicates pay it per leg).
    * No-op on production-sized inputs (scan partitions ≥ parallelism).
    */
  private def fan(df: DataFrame): DataFrame =
    graft.ops.ScanFanout.fanOutSmallScan(df)

  private def esc(c: Column): Column = regexp_replace(c.cast("string"), "'", "''")

  // ---------------------------------------------------------------- CDC

  /** events rendered as INSERT wire lines; relation = public.<event_type>. */
  private def eventLines(spark: SparkSession, dir: String): DataFrame = {
    val ev = fan(T(spark, dir, "events"))
    val line = CdcFixture.insertLine(
      concat(lit("public."), col("event_type")),
      Seq(
        Col("event_id", "bigint", col("event_id"), quoted = false),
        Col("user_id", "bigint", col("user_id"), quoted = false),
        Col("event_type", "text", col("event_type")),
        Col("value", "double precision", format_string("%.2f", col("value"))),
        Col("props", "jsonb", col("props"))))
    ev.select(col("event_id"), col("user_id"), line.as("line"))
  }

  private def parsedEvents(spark: SparkSession, dir: String): DataFrame =
    eventLines(spark, dir)
      .select(col("event_id"), col("user_id"),
        GraftFunctions.parse_test_decoding(col("line")).as("p"))
      .select(col("event_id"), col("user_id"), col("p.*"))

  def qParseRoundtrip(spark: SparkSession, dir: String): DataFrame =
    parsedEvents(spark, dir).select(
      col("event_id"),
      col("relation"),
      col("operation"),
      element_at(col("columns"), "event_id").getField("v").as("event_id_v"),
      element_at(col("columns"), "event_type").getField("v").as("event_type_v"),
      element_at(col("columns"), "value").getField("v").as("value_v"),
      element_at(col("columns"), "props").getField("v").as("props_v"),
      element_at(col("columns"), "props").getField("q").as("props_q"))

  val qParseRoundtripSql: String =
    """SELECT event_id, 'public.' || event_type AS relation, 'INSERT' AS operation,
      | CAST(event_id AS VARCHAR) AS event_id_v, event_type AS event_type_v,
      | printf('%.2f', value) AS value_v, props AS props_v, true AS props_q
      |FROM events""".stripMargin

  /** Filter on the cheap prelude parse BEFORE the full parse (the
    * reference's two-phase design): pushdown duplicates only the
    * prelude; the full column parse runs once, on survivors only.
    */
  private def preludeFiltered(spark: SparkSession, dir: String, tf: TableFilter): DataFrame =
    eventLines(spark, dir)
      .where(tf.predicate(
        GraftFunctions.prelude_relation(col("line")),
        GraftFunctions.prelude_operation(col("line"))))
      .select(col("event_id"), col("user_id"),
        GraftFunctions.parse_test_decoding(col("line")).as("p"))
      .select(col("event_id"), col("user_id"), col("p.*"))

  def qFilterWhitelist(spark: SparkSession, dir: String): DataFrame =
    preludeFiltered(spark, dir, TableFilter(Seq("public.purchase", "public.view")))
      .select("event_id", "relation")

  val qFilterWhitelistSql: String =
    """SELECT event_id, 'public.' || event_type AS relation FROM events
      |WHERE event_type IN ('purchase', 'view')""".stripMargin

  def qFilterRegexBlacklist(spark: SparkSession, dir: String): DataFrame =
    preludeFiltered(spark, dir,
      TableFilter(Seq("^public\\.(click|error)$"), whitelist = false, regex = true))
      .select("event_id", "relation")

  val qFilterRegexBlacklistSql: String =
    """SELECT event_id, 'public.' || event_type AS relation FROM events
      |WHERE NOT regexp_matches('public.' || event_type, '^public\.(click|error)$')""".stripMargin

  def qPartitionKeys(spark: SparkSession, dir: String): DataFrame = {
    val base = parsedEvents(spark, dir)
      .withColumn("txn", col("user_id").cast("string"))
    base.select(
      col("event_id"),
      Partitioner.keyExpr(Partitioner.NoKey, col("relation"), col("txn")).as("pk_none"),
      Partitioner.keyExpr(Partitioner.TableName, col("relation"), col("txn")).as("pk_tablename"),
      Partitioner.keyExpr(Partitioner.Transaction, col("relation"), col("txn")).as("pk_txn"))
  }

  val qPartitionKeysSql: String =
    """SELECT event_id, '' AS pk_none, 'public.' || event_type AS pk_tablename,
      | CAST(user_id AS VARCHAR) AS pk_txn FROM events""".stripMargin

  def qPartitionBucketMd5(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "events").select(
      col("event_id"),
      Partitioner.keyExpr(
        Partitioner.TransactionBucket(8, Partitioner.Md5),
        lit(""), col("user_id").cast("string")).as("bucket"))

  val qPartitionBucketMd5Sql: String =
    """SELECT event_id,
      | CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS UBIGINT) % 8 AS VARCHAR) AS bucket
      |FROM events""".stripMargin

  /** Reference-faithful crc32 bucketing. DuckDB has no crc32 builtin,
    * so the oracle computes CRC-32 (IEEE) from first principles: the
    * 256-entry table as a literal, `list_reduce` over the key's bytes
    * with the standard `table[(crc ^ b) & 0xFF] ^ (crc >> 8)` step.
    */
  private val crc32TableSql: String =
    (0 until 256).map { n =>
      var c = n.toLong
      (0 until 8).foreach(_ => c = if ((c & 1) == 1) 0xEDB88320L ^ (c >>> 1) else c >>> 1)
      c
    }.mkString("[", ",", "]")

  val qPartitionBucketCrc32Sql: String =
    s"""WITH s AS (SELECT event_id, CAST(user_id AS VARCHAR) AS k FROM events)
       |SELECT event_id, CAST(
       |  xor(list_reduce(
       |        [CAST(4294967295 AS BIGINT)] ||
       |          list_transform(generate_series(1, length(k)),
       |            i -> CAST(unicode(substring(k, CAST(i AS INTEGER), 1)) AS BIGINT)),
       |        (acc, b) -> xor($crc32TableSql[CAST(xor(acc, b) & 255 AS INTEGER) + 1], acc >> 8)),
       |      4294967295) % 8 AS VARCHAR) AS bucket
       |FROM s""".stripMargin

  def qPartitionBucketCrc32(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "events").select(
      col("event_id"),
      Partitioner.keyExpr(
        Partitioner.TransactionBucket(8),
        lit(""), col("user_id").cast("string")).as("bucket"))

  /** UPDATE lines from customer exercising the full merge matrix:
    * unchanged cols, changed col (acctbal+100), TOAST sentinel on
    * every third row, NULL→value injection (new-only c_flag) on every
    * fifth row.
    */
  def qMarshalUpdate(spark: SparkSession, dir: String): DataFrame = {
    val c = fan(T(spark, dir, "customer")) // render+parse+merge per row
    val oldBal = format_string("%.2f", col("c_acctbal"))
    val newBal = format_string("%.2f", col("c_acctbal") + 100.0d)
    val oldPart = concat(
      lit("c_custkey[bigint]:"), col("c_custkey"),
      lit(" c_name[text]:'"), esc(col("c_name")), lit("'"),
      lit(" c_acctbal[numeric]:'"), oldBal, lit("'"),
      lit(" c_mktsegment[text]:'"), esc(col("c_mktsegment")), lit("'"))
    val segNew = when(pmod(col("c_custkey"), lit(3)) === 0,
      lit("c_mktsegment[text]:unchanged-toast-datum"))
      .otherwise(concat(lit("c_mktsegment[text]:'"), esc(col("c_mktsegment")), lit("'")))
    val flagNew = when(pmod(col("c_custkey"), lit(5)) === 0, lit(" c_flag[integer]:1"))
      .otherwise(lit(""))
    val newPart = concat(
      lit("c_custkey[bigint]:"), col("c_custkey"),
      lit(" c_name[text]:'"), esc(col("c_name")), lit("'"),
      lit(" c_acctbal[numeric]:'"), newBal, lit("'"),
      lit(" "), segNew, flagNew)
    val line = concat(lit("table public.customer: UPDATE: old-key: "),
      oldPart, lit(" new-tuple: "), newPart)

    val parsed = c.select(col("c_custkey"),
      GraftFunctions.parse_test_decoding(line).as("p"))
    parsed.select(col("c_custkey"),
      explode(Marshaller.mergedColumns(
        col("p.operation"), col("p.columns"), col("p.oldColumns"),
        noMarshalOldValue = false)).as(Seq("colname", "pair")))
      .select(
        col("c_custkey"), col("colname"),
        col("pair.new.v").as("new_v"), col("pair.new.q").as("new_q"),
        col("pair.old.v").as("old_v"), col("pair.old.q").as("old_q"))
  }

  val qMarshalUpdateSql: String =
    """SELECT c_custkey, 'c_custkey' AS colname, CAST(c_custkey AS VARCHAR) AS new_v,
      |  'false' AS new_q, CAST(NULL AS VARCHAR) AS old_v, CAST(NULL AS VARCHAR) AS old_q FROM customer
      |UNION ALL SELECT c_custkey, 'c_name', c_name, 'true', NULL, NULL FROM customer
      |UNION ALL SELECT c_custkey, 'c_acctbal', printf('%.2f', c_acctbal + 100.0), 'true',
      |  printf('%.2f', c_acctbal), 'true' FROM customer
      |UNION ALL SELECT c_custkey, 'c_mktsegment', c_mktsegment, 'true',
      |  CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment END,
      |  CASE WHEN c_custkey % 3 = 0 THEN 'true' END FROM customer
      |UNION ALL SELECT c_custkey, 'c_flag', '1', 'false', 'null', 'false'
      |  FROM customer WHERE c_custkey % 5 = 0""".stripMargin

  def qMarshalDelete(spark: SparkSession, dir: String): DataFrame = {
    val s = fan(T(spark, dir, "supplier")) // render+parse+merge per row
    val line = CdcFixture.deleteLine(lit("public.supplier"), Seq(
      Col("s_suppkey", "bigint", col("s_suppkey"), quoted = false),
      Col("s_name", "text", col("s_name"))))
    s.select(col("s_suppkey"), GraftFunctions.parse_test_decoding(line).as("p"))
      .select(col("s_suppkey"),
        explode(Marshaller.mergedColumns(
          col("p.operation"), col("p.columns"), col("p.oldColumns"),
          noMarshalOldValue = false)).as(Seq("colname", "pair")))
      .select(col("s_suppkey"), col("colname"),
        col("pair.new.v").as("new_v"),
        col("pair.old.v").as("old_v"), col("pair.old.q").as("old_q"))
  }

  val qMarshalDeleteSql: String =
    """SELECT s_suppkey, 's_suppkey' AS colname, CAST(NULL AS VARCHAR) AS new_v,
      |  CAST(s_suppkey AS VARCHAR) AS old_v, 'false' AS old_q FROM supplier
      |UNION ALL SELECT s_suppkey, 's_name', NULL, s_name, 'true' FROM supplier""".stripMargin

  /** Per-transaction Seen accounting over a synthetic txn stream:
    * txn = l_orderkey, one INSERT per lineitem, one COMMIT per order
    * at LSN = orderkey.
    */
  def qTxnCounts(spark: SparkSession, dir: String): DataFrame = {
    val li = T(spark, dir, "lineitem")
    val data = li.select(
      col("l_orderkey").cast("string").as("txn"),
      concat(col("l_orderkey"), lit("-0")).as("timeBasedKey"),
      lit("INSERT").as("operation"),
      col("l_orderkey").as("walStart"))
    val commits = li.select(col("l_orderkey")).distinct().select(
      col("l_orderkey").cast("string").as("txn"),
      concat(col("l_orderkey"), lit("-0")).as("timeBasedKey"),
      lit("COMMIT").as("operation"),
      col("l_orderkey").as("walStart"))
    Batcher.seenCounts(data.unionAll(commits))
      .select("txn", "totalMsgs", "commitWalStart")
  }

  val qTxnCountsSql: String =
    """SELECT CAST(l_orderkey AS VARCHAR) AS txn, count(*) AS totalMsgs,
      | l_orderkey AS commitWalStart
      |FROM lineitem GROUP BY l_orderkey""".stripMargin

  /** Contiguous-ack frontier: "written" = lineitems with quantity <= 25;
    * the ack LSN is the last orderkey of the longest fully-written
    * prefix in orderkey order.
    */
  def qContiguousAck(spark: SparkSession, dir: String): DataFrame = {
    val li = T(spark, dir, "lineitem")
    val seen = li.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("totalMsgs"))
      .select(
        col("l_orderkey").as("ord"),
        concat(col("l_orderkey"), lit("-0")).as("timeBasedKey"),
        col("totalMsgs"),
        col("l_orderkey").as("commitWalStart"))
    val written = li.where(col("l_quantity") <= 25)
      .select(concat(col("l_orderkey"), lit("-0")).as("timeBasedKey"), lit(1L).as("count"))
    ProgressLedger.contiguousAck(seen, written)
  }

  val qContiguousAckSql: String =
    """WITH c AS (
      |  SELECT l_orderkey, count(*) AS total,
      |         sum(CASE WHEN l_quantity <= 25 THEN 1 ELSE 0 END) AS written
      |  FROM lineitem GROUP BY l_orderkey),
      |m AS (SELECT min(l_orderkey) AS first_bad FROM c WHERE written <> total)
      |SELECT max(CASE WHEN c.written = c.total AND (m.first_bad IS NULL OR c.l_orderkey < m.first_bad)
      |  THEN c.l_orderkey END) AS ackLsn
      |FROM c, m""".stripMargin

  /** 60-second tumbling stats windows over the events stream. */
  def qStatsWindow(spark: SparkSession, dir: String): DataFrame = {
    val stats = T(spark, dir, "events").select(
      lit("events").as("component"),
      lit("count").as("statType"),
      col("event_type").as("statName"),
      lit("n").as("unit"),
      round(col("value") * 100, 0).cast("long").as("value"),
      col("ts"))
    StatsAggregator.aggregate(stats)
      .select(
        // TIMESTAMP_NTZ: wall-clock UTC, matching the oracle's
        // timezone-less time_bucket output dtype exactly
        col("windowStart").cast("timestamp_ntz").as("windowStart"), col("statName"),
        col("total"), col("samples"), col("min").as("vmin"), col("max").as("vmax"))
      .withColumn("vavg", round(col("total").cast("double") / col("samples"), 6))
  }

  val qStatsWindowSql: String =
    """SELECT CAST(time_bucket(INTERVAL '60 seconds', ts) AS TIMESTAMP) AS windowStart,
      | event_type AS statName,
      | CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS total,
      | count(*) AS samples,
      | min(CAST(round(value * 100, 0) AS BIGINT)) AS vmin,
      | max(CAST(round(value * 100, 0) AS BIGINT)) AS vmax,
      | round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / count(*), 6) AS vavg
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Worker routing placement counts under the runtime's crc32 routing. */
  def qRouteWorkers(spark: SparkSession, dir: String): DataFrame = {
    val df = T(spark, dir, "events").withColumn("partitionKey", col("event_type"))
    Router.route(df, 4, Router.Partition)
      .groupBy("partitionKey", "workerId")
      .agg(count(lit(1)).as("n"))
  }

  /** DuckDB has no crc32, so the oracle computes the IEEE CRC32 of each
    * distinct key bit by bit (reflected polynomial 0xEDB88320 over the
    * key's UTF-8 bytes, read from its hex form).
    */
  val qRouteWorkersSql: String =
    """WITH RECURSIVE k AS (
      |  SELECT DISTINCT event_type AS key, hex(encode(event_type)) AS hx
      |  FROM events WHERE event_type IS NOT NULL),
      |c(key, hx, i, crc) AS (
      |  SELECT key, hx, 0, CAST(4294967295 AS UBIGINT) FROM k
      |  UNION ALL
      |  SELECT key, hx, i + 1,
      |    CASE WHEN (b & 1) = 1 THEN xor(b >> 1, CAST(3988292384 AS UBIGINT)) ELSE b >> 1 END
      |  FROM (SELECT key, hx, i,
      |      CASE WHEN i % 8 = 0
      |        THEN xor(crc, CAST('0x' || substr(hx, 2 * (i // 8) + 1, 2) AS UBIGINT))
      |        ELSE crc END AS b
      |    FROM c WHERE i < 4 * length(hx)) s)
      |SELECT e.event_type AS partitionKey,
      | CAST(xor(c.crc, CAST(4294967295 AS UBIGINT)) % 4 AS INTEGER) AS workerId,
      | count(*) AS n
      |FROM events e LEFT JOIN c ON c.key = e.event_type AND c.i = 4 * length(c.hx)
      |GROUP BY 1, 2""".stripMargin

  /** Count-capped chunk assignment (Kinesis 500-record cap shape). */
  def qChunkSizes(spark: SparkSession, dir: String): DataFrame =
    Batcher.withChunkIds(
      T(spark, dir, "events"), col("event_type"), col("event_id"), 500)
      .groupBy(col("event_type").as("partitionKey"), col("chunkId"))
      .agg(count(lit(1)).as("n"))

  val qChunkSizesSql: String =
    """WITH r AS (
      |  SELECT event_type,
      |    (row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1) // 500 AS chunkId
      |  FROM events)
      |SELECT event_type AS partitionKey, chunkId, count(*) AS n FROM r GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------- training-data ops

  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(T(spark, dir, "documents"), "text", "doc_id")

  /** DuckDB expression mirroring the native normalizers
    * ([[graft.ops.TextAnalysis.normalize]] and the byte-level
    * `SegmentExprs.normalizeBuf`): runs of ASCII whitespace INCLUDING
    * VT (0x0B — which RE2's `\s` excludes but Java's `\s`, Java
    * `trim`, and `normalizeBuf` all treat as whitespace) collapse to
    * single spaces; `trim` then strips the boundary space a
    * leading/trailing run leaves. DuckDB `trim` strips only 0x20, so
    * it must run AFTER the collapse — the previous trim-first form
    * left a phantom empty token (and kept VT as content) on text with
    * non-space boundary whitespace.
    */
  private val normTextSql: String =
    """trim(regexp_replace(lower(text), '[ \t\n\v\f\r]+', ' ', 'g'))"""

  /** DuckDB expression: the EXACT string
    * [[graft.ops.TextAnalysis.normalize]] produces — trim spaces FIRST
    * (both engines' `trim` strips only 0x20), then collapse Java-`\s`
    * runs (VT included). Fingerprint oracles md5 THIS string: a
    * leading/trailing non-space whitespace run leaves one surviving
    * boundary space in it, which [[normTextSql]] (the tokenizers'
    * form, matching `tokens(normalize(…))` and the byte-level
    * `normalizeBuf`) strips. The two forms differ only on such
    * boundary runs — use the one whose native twin you are oracling.
    */
  private val normRawSql: String =
    """regexp_replace(lower(trim(text)), '[ \t\n\v\f\r]+', ' ', 'g')"""

  val qDedupExactSql: String =
    s"""SELECT md5($normRawSql) AS fingerprint,
      | min(doc_id) AS keep_id, count(*) AS dup_count
      |FROM documents GROUP BY 1""".stripMargin

  /** C4-style duplicate-segment removal over 20-token windows of the
    * normalized text (the corpus has no sentence/line boundaries, so
    * the window segmenter stands in for C4's three-sentence spans; on
    * real text pass [[Dedup.lineSegments]]). The oracle re-derives the
    * same segmentation in SQL and ranks occurrences by segment STRING
    * — Spark's xxhash64 grouping must produce identical classes.
    */
  def qDedupLines(spark: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicateSegments(
      T(spark, dir, "documents"), "text", "doc_id",
      Dedup.windowSegments(col("text"), w = 20),
      segmentHashes = Some(Dedup.windowSegmentHashes(col("text"), w = 20)))

  val qDedupLinesSql: String =
    s"""WITH nrm AS (
      |  SELECT doc_id, $normTextSql AS nt FROM documents),
      |toks AS (
      |  SELECT doc_id, CASE WHEN nt = '' THEN [] ELSE string_split(nt, ' ') END AS t
      |  FROM nrm),
      |sa AS (
      |  SELECT doc_id, CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
      |    ELSE list_transform(generate_series(1, (len(t) - 1) // 20 + 1),
      |           i -> array_to_string(t[(i-1)*20+1:(i-1)*20+20], ' ')) END AS segs
      |  FROM toks),
      |occ AS (
      |  SELECT doc_id, n_segs, u.p - 1 AS pos, u.seg
      |  FROM (SELECT doc_id, len(segs) AS n_segs,
      |          unnest(list_transform(generate_series(1, len(segs)),
      |            p -> {'p': p, 'seg': segs[p]})) AS u
      |        FROM sa) x),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
      |           FROM occ),
      |kept AS (SELECT * FROM ranked WHERE rn = 1)
      |SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_dedup,
      |  CAST(count(*) AS BIGINT) AS n_kept,
      |  CAST(any_value(n_segs) - count(*) AS BIGINT) AS n_dropped
      |FROM kept GROUP BY doc_id""".stripMargin

  def qTokenStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    fan(T(spark, dir, "documents")).select(
      col("doc_id"),
      TextAnalysis.tokenCount(t).cast("long").as("n_tokens"),
      round(TextAnalysis.punctRatio(t), 6).as("punct_ratio"),
      round(TextAnalysis.meanTokenLen(t), 6).as("mean_token_len"))
  }

  val qTokenStatsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN []
      |         ELSE string_split_regex(trim(text), '[ \t\n\v\f\r]+') END AS t
      |  FROM documents)
      |SELECT doc_id,
      | CAST(len(t) AS BIGINT) AS n_tokens,
      | round(CASE WHEN length(text) = 0 THEN 0.0
      |   ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS punct_ratio,
      | round(CASE WHEN len(t) = 0 THEN 0.0
      |   ELSE CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) END, 6) AS mean_token_len
      |FROM toks""".stripMargin

  /** Top-100 adjacent-token pairs corpus-wide — one BPE merge
    * iteration's candidate scoring ([[TextAnalysis.adjacentPairCounts]]).
    * Ties at the limit boundary break on the pair string (both engines
    * compare lowercase ASCII byte-wise), so the top-100 SET is
    * deterministic and the driver's sorted-row hash compare is stable.
    */
  def qBpePairs(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.adjacentPairCounts(T(spark, dir, "documents"), "text")
      .orderBy(desc("cnt"), asc("pair")).limit(100)

  val qBpePairsSql: String =
    s"""WITH toks AS (
      |  SELECT CASE WHEN nt = '' THEN [] ELSE string_split(nt, ' ') END AS t
      |  FROM (SELECT $normTextSql AS nt FROM documents) nrm),
      |p AS (
      |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1])) AS pair
      |  FROM toks WHERE len(t) >= 2)
      |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
      |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 100""".stripMargin

  /** Eight character-level BPE merges learned from the corpus
    * ([[TextAnalysis.bpeLearnMerges]]). The oracle unrolls the same
    * iterations as chained CTEs — per step: weighted pair count,
    * (cnt desc, pair asc) argmax, and the identical double-space
    * literal-replace merge application — so the full loop-carried
    * merge sequence is value-checked, not just the first iteration.
    */
  def qBpeLearn(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeLearnMerges(T(spark, dir, "documents"), "text", numMerges = 8)

  /** Unrolled BPE training CTE chain shared by [[qBpeLearnSql]] and
    * [[qBpeEncodeSql]]: word counts → symbolized w0 → per step i a
    * weighted pair count p_i, the (cnt desc, pair asc) argmax b_i,
    * and the merged vocabulary w_i (same double-space literal-replace
    * greedy application as the engine).
    */
  private def bpeUnrolledCtes(n: Int): String = {
    val steps = (1 to n).map { i =>
      s"""p$i AS (
         |  SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt FROM (
         |    SELECT wc, unnest(list_transform(generate_series(1, len(t) - 1),
         |             j -> t[j] || ' ' || t[j+1])) AS pair
         |    FROM (SELECT string_split(s, ' ') AS t, wc FROM w${i - 1}) x
         |    WHERE len(t) >= 2) y
         |  GROUP BY pair),
         |b$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |w$i AS (
         |  SELECT x.w, CASE WHEN b.pair IS NULL THEN x.s ELSE trim(regexp_replace(
         |      replace(' ' || replace(x.s, ' ', '  ') || ' ',
         |              ' ' || replace(b.pair, ' ', '  ') || ' ',
         |              ' ' || replace(b.pair, ' ', '') || ' '),
         |      '  +', ' ', 'g')) END AS s, x.wc
         |  FROM w${i - 1} x LEFT JOIN b$i b ON true)""".stripMargin
    }.mkString(",\n")
    s"""WITH wcnt AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
       |    SELECT unnest(string_split(nt, ' ')) AS w
       |    FROM (SELECT $normTextSql AS nt FROM documents) nrm
       |    WHERE nt <> '') z GROUP BY w),
       |w0 AS (SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, wc FROM wcnt),
       |$steps""".stripMargin
  }

  val qBpeLearnSql: String = {
    val n = 8
    val sel = (1 to n)
      .map(i => s"SELECT $i AS step, pair, cnt FROM b$i")
      .mkString("\nUNION ALL ")
    bpeUnrolledCtes(n) + "\n" + sel
  }

  /** Corpus-wide subword-token counts under the 8-merge learned
    * tokenizer: [[TextAnalysis.bpeEncode]] applied with the
    * [[qBpeLearn]] merge table. Encoding a word reproduces the
    * trainer's final symbolization (sequential-in-order application,
    * spec-pinned), so the oracle reads the same counts straight off
    * the unrolled w8 vocabulary table — no second encoder
    * implementation to drift. Ties at the limit boundary break on the
    * symbol string (binary order in both engines).
    */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    val merges = TextAnalysis.collectMerges(
      TextAnalysis.bpeLearnMerges(docs, "text", numMerges = 8))
    docs.select(explode(TextAnalysis.bpeEncode(col("text"), merges)).as("sym"))
      .groupBy(col("sym")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("sym")).limit(50)
  }

  val qBpeEncodeSql: String =
    bpeUnrolledCtes(8) + "\n" + """SELECT sym, CAST(sum(wc) AS BIGINT) AS cnt
      |FROM (SELECT wc, unnest(string_split(s, ' ')) AS sym FROM w8) z
      |GROUP BY sym ORDER BY cnt DESC, sym LIMIT 50""".stripMargin

  /** Exact token-budget corpus selection under the LEARNED tokenizer:
    * [[qBudgetSelect]]'s pipeline with [[TextAnalysis.bpeTokenCount]]
    * (8-merge table from [[qBpeLearn]]) as the weight — the budget
    * now counts the same subword tokens a downstream trainer would,
    * not a whitespace proxy. Composes the round's three pieces:
    * driver-trained merges → native encode → histogram-two-phase
    * budget prefix. The oracle derives per-document subword counts by
    * joining each document's words to the unrolled w8 vocabulary's
    * per-word symbol counts, then runs the naive global-window budget
    * prefix.
    */
  def qBudgetSelectBpe(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    val merges = TextAnalysis.collectMerges(
      TextAnalysis.bpeLearnMerges(docs, "text", numMerges = 8))
    // budgetSelect scans `scored` three times (two collect jobs + the
    // selection pass), so materialize it once — localCheckpoint, not
    // cache (EntryCacheHygieneSpec).
    val scored = fan(docs).select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.bpeTokenCount(col("text"), merges).cast("long").as("n_bpe"))
      .localCheckpoint()
    Sampling.budgetSelect(scored, "quality", "n_bpe", "doc_id", budget = 40000L)
  }

  // lazy: interpolates qTextQualitySql, which is declared later in
  // this object (a plain val here would capture null at init)
  lazy val qBudgetSelectBpeSql: String =
    bpeUnrolledCtes(8) + ",\n" + s"""doctok AS (
      |  SELECT doc_id, unnest(CASE WHEN nt = '' THEN [] ELSE string_split(nt, ' ') END) AS w
      |  FROM (SELECT doc_id, $normTextSql AS nt FROM documents) nrm),
      |wsym AS (SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS ns FROM w8),
      |ndoc AS (
      |  SELECT d.doc_id, CAST(coalesce(sum(ws.ns), 0) AS BIGINT) AS n_bpe
      |  FROM documents d
      |  LEFT JOIN doctok dt ON d.doc_id = dt.doc_id
      |  LEFT JOIN wsym ws ON dt.w = ws.w
      |  GROUP BY d.doc_id),
      |scored AS (
      |  SELECT q.doc_id, q.quality, n.n_bpe
      |  FROM ($qTextQualitySql) q JOIN ndoc n ON q.doc_id = n.doc_id),
      |pfx AS (
      |  SELECT *, CAST(sum(n_bpe) OVER (ORDER BY quality DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_weight
      |  FROM scored)
      |SELECT doc_id, quality, n_bpe, cum_weight FROM pfx
      |WHERE cum_weight <= 40000""".stripMargin

  def qTextQuality(spark: SparkSession, dir: String): DataFrame =
    fan(T(spark, dir, "documents")).select(
      col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))

  val qTextQualitySql: String =
    """WITH x AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) END AS n_tok,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS punct,
      |    CASE WHEN length(trim(text)) = 0 THEN 0.0
      |         ELSE CAST(list_sum(list_transform(string_split_regex(trim(text), '[ \t\n\v\f\r]+'), t -> length(t))) AS DOUBLE)
      |              / len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) END AS mtl
      |  FROM documents)
      |SELECT doc_id, CAST(round(
      |  CAST((CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 1.0 WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END) * 0.4
      |  + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.3 END) * 0.3
      |  + (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.4 END) * 0.3 AS DOUBLE), 4) AS DOUBLE) AS quality
      |FROM x""".stripMargin

  /** Token-budget corpus selection ([[Sampling.budgetSelect]]):
    * highest-quality documents whose running token total (quality
    * DESC, doc_id ASC) fits a 15 000-token budget — exact global
    * prefix semantics, computed via the score-histogram two-phase
    * (no global sort; the oracle IS the naive single-window form).
    */
  def qBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    // Score ONCE into a materialized narrow frame: budgetSelect scans
    // its input three times (two collect jobs + the selection pass),
    // and the quality expression is several regex passes per document —
    // the real pipeline shape is score-into-a-table, then select
    // against it (localCheckpoint, not cache: EntryCacheHygieneSpec).
    val scored = fan(T(spark, dir, "documents")).select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .localCheckpoint()
    Sampling.budgetSelect(scored, "quality", "n_tokens", "doc_id", budget = 15000L)
  }

  val qBudgetSelectSql: String =
    """WITH x AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) END AS n_tok,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS punct,
      |    CASE WHEN length(trim(text)) = 0 THEN 0.0
      |         ELSE CAST(list_sum(list_transform(string_split_regex(trim(text), '[ \t\n\v\f\r]+'), t -> length(t))) AS DOUBLE)
      |              / len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) END AS mtl
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, CAST(round(
      |    CAST((CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 1.0 WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END) * 0.4
      |    + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.3 END) * 0.3
      |    + (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.4 END) * 0.3 AS DOUBLE), 4) AS DOUBLE) AS quality,
      |    CAST(n_tok AS BIGINT) AS n_tokens
      |  FROM x),
      |r AS (
      |  SELECT *, sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_weight
      |  FROM q)
      |SELECT doc_id, quality, n_tokens, CAST(cum_weight AS BIGINT) AS cum_weight
      |FROM r WHERE cum_weight <= 15000""".stripMargin

  /** Winnowing rolling-hash fingerprint (k=5-gram Rabin–Karp, w=4
    * window minima): per-doc selected-hash count, min/max, and sum —
    * value-exact against a pure-SQL re-derivation of the same
    * polynomial hash and window-min selection.
    */
  def qFingerprintWinnow(spark: SparkSession, dir: String): DataFrame =
    fan(T(spark, dir, "documents"))
      .select(col("doc_id"),
        TextAnalysis.winnowFingerprint(col("text"), k = 5, w = 4).as("fp"))
      .select(
        col("doc_id"),
        size(col("fp")).cast("long").as("n_selected"),
        array_min(col("fp")).as("fp_min"),
        array_max(col("fp")).as("fp_max"),
        aggregate(col("fp"), lit(0L), (acc, x) => acc + x).as("fp_sum"))

  val qFingerprintWinnowSql: String =
    """WITH nrm AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '[ \t\n\v\f\r]+', ' ', 'g') AS t FROM documents),
      |kgl AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - 4),
      |    i -> {'i': i, 'h': CAST(list_sum(list_transform(generate_series(0, 4),
      |      j -> CAST(unicode(substring(t, CAST(i + j AS INTEGER), 1)) AS HUGEINT)
      |           * ([4362470401, 16974593, 66049, 257, 1][j + 1]))) % 2147483647 AS BIGINT)})) AS u
      |  FROM nrm WHERE length(t) >= 5),
      |kg AS (SELECT doc_id, u.i AS i, u.h AS h FROM kgl),
      |cnt AS (SELECT doc_id, count(*) AS g FROM kg GROUP BY doc_id),
      |wm AS (
      |  SELECT kg.doc_id, kg.i, c.g,
      |    min(h) OVER (PARTITION BY kg.doc_id ORDER BY kg.i
      |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      |  FROM kg JOIN cnt c ON c.doc_id = kg.doc_id),
      |sel AS (SELECT DISTINCT doc_id, sel FROM wm WHERE i <= greatest(g - 3, 1)),
      |agg AS (SELECT doc_id, count(*) AS n_selected, min(sel) AS fp_min,
      |               max(sel) AS fp_max, sum(sel) AS fp_sum
      |        FROM sel GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(a.n_selected, 0) AS BIGINT) AS n_selected,
      |  a.fp_min, a.fp_max, CAST(coalesce(a.fp_sum, 0) AS BIGINT) AS fp_sum
      |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  /** Cross-doc repeated spans (exact-substring dedup, hash-blocked):
    * the oracle re-derives the k-gram polynomial hash from a
    * materialized `B^j mod M` power list (BIGINT-safe for any k,
    * unlike the raw powers the k=5 winnow oracle inlines), then the
    * same rare-gram blocking, diagonal islands, and min-length cut.
    */
  def qDedupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(T(spark, dir, "documents"), "text", "doc_id",
      k = 20, minLen = 40, maxGramFreq = 50)

  val qDedupSpansSql: String = {
    val k = 20
    val pows = (0 until k).map(j => graft.functions.GramPositionHashes.powMod(k - 1 - j))
      .mkString("[", ",", "]")
    s"""WITH nrm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '[ \\t\\n\\v\\f\\r]+', ' ', 'g') AS t FROM documents),
       |kgl AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - ${k - 1}),
       |    i -> {'i': i, 'h': CAST(list_sum(list_transform(generate_series(0, ${k - 1}),
       |      j -> (CAST(unicode(substring(t, CAST(i + j AS INTEGER), 1)) AS BIGINT)
       |           * ($pows[j + 1])) % 2147483647)) % 2147483647 AS BIGINT)})) AS u
       |  FROM nrm WHERE length(t) >= $k),
       |kg AS (SELECT doc_id AS id, u.i AS pos, u.h AS h FROM kgl),
       |rare AS (SELECT h FROM kg GROUP BY h HAVING count(*) BETWEEN 2 AND 50),
       |b AS (SELECT kg.* FROM kg JOIN rare USING (h)),
       |hits AS (SELECT x.id AS id_a, y.id AS id_b, x.pos AS pos_a, y.pos AS pos_b,
       |    x.pos - y.pos AS d
       |  FROM b x JOIN b y ON x.h = y.h AND x.id < y.id),
       |isl AS (SELECT *, pos_a - row_number()
       |    OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a) AS island FROM hits),
       |sp AS (SELECT id_a, id_b, d, island, min(pos_a) AS start_a,
       |    max(pos_a) - min(pos_a) + $k AS span_len
       |  FROM isl GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, CAST(start_a AS INTEGER) AS start_a,
       |  CAST(start_a - d AS INTEGER) AS start_b, CAST(span_len AS BIGINT) AS span_len
       |FROM sp WHERE span_len >= 40""".stripMargin
  }

  /** Applied span dedup: the corpus with every repeated span cut from
    * all but its first (lowest-id) occurrence. The oracle re-derives
    * the spans (same CTEs as q_dedup_spans), merges each doc's cut
    * intervals with the classic running-max-end window, and
    * reconstructs the surviving fragments with ordered string_agg —
    * a full-string value oracle of the surgery itself.
    */
  def qDedupSpanDrop(spark: SparkSession, dir: String): DataFrame =
    Dedup.dropRepeatedSpans(T(spark, dir, "documents"), "text", "doc_id",
      k = 20, minLen = 40, maxGramFreq = 50)
      .select(col("doc_id"), col("text_deduped"))

  val qDedupSpanDropSql: String = {
    val k = 20
    val pows = (0 until k).map(j => graft.functions.GramPositionHashes.powMod(k - 1 - j))
      .mkString("[", ",", "]")
    s"""WITH nrm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '[ \\t\\n\\v\\f\\r]+', ' ', 'g') AS t FROM documents),
       |kgl AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - ${k - 1}),
       |    i -> {'i': i, 'h': CAST(list_sum(list_transform(generate_series(0, ${k - 1}),
       |      j -> (CAST(unicode(substring(t, CAST(i + j AS INTEGER), 1)) AS BIGINT)
       |           * ($pows[j + 1])) % 2147483647)) % 2147483647 AS BIGINT)})) AS u
       |  FROM nrm WHERE length(t) >= $k),
       |kg AS (SELECT doc_id AS id, u.i AS pos, u.h AS h FROM kgl),
       |rare AS (SELECT h FROM kg GROUP BY h HAVING count(*) BETWEEN 2 AND 50),
       |b AS (SELECT kg.* FROM kg JOIN rare USING (h)),
       |hits AS (SELECT x.id AS id_a, y.id AS id_b, x.pos AS pos_a, y.pos AS pos_b,
       |    x.pos - y.pos AS d
       |  FROM b x JOIN b y ON x.h = y.h AND x.id < y.id),
       |isl AS (SELECT *, pos_a - row_number()
       |    OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a) AS island FROM hits),
       |sp AS (SELECT id_a, id_b, d, island, min(pos_a) AS start_a,
       |    max(pos_a) - min(pos_a) + $k AS span_len
       |  FROM isl GROUP BY 1, 2, 3, 4),
       |cuts AS (SELECT id_b AS id, start_a - d AS s, start_a - d + span_len - 1 AS e
       |  FROM sp WHERE span_len >= 40),
       |ord AS (SELECT id, s, e, coalesce(max(e) OVER (PARTITION BY id ORDER BY s, e
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pe FROM cuts),
       |agg AS (SELECT id,
       |    string_agg(CASE WHEN s - 1 > pe
       |      THEN substring(t, CAST(pe + 1 AS INTEGER), CAST(s - 1 - pe AS INTEGER))
       |      ELSE '' END, '' ORDER BY s, e) AS body,
       |    max(e) AS me
       |  FROM ord JOIN nrm ON nrm.doc_id = ord.id GROUP BY id),
       |fin AS (SELECT n.doc_id,
       |    CASE WHEN a.id IS NULL THEN n.t
       |         ELSE coalesce(a.body, '') || substring(n.t, CAST(a.me + 1 AS INTEGER)) END
       |      AS text_deduped
       |  FROM nrm n LEFT JOIN agg a ON a.id = n.doc_id)
       |SELECT doc_id, text_deduped FROM fin""".stripMargin
  }

  /** Raw-preserving span surgery ([[Dedup.dropRepeatedSpans]] with
    * `preserveRaw = true`): spans are matched over the normalized
    * (lowercased) text but the cuts are applied to the ORIGINAL text,
    * so surviving characters keep their case and an uncut document
    * comes back byte-identical. To make the normalized→raw position
    * mapping DuckDB-expressible, the input text is pre-collapsed
    * (whitespace runs → one space, ends trimmed) while its CASE is
    * kept — normalization then only lowercases, positions align 1:1,
    * and the oracle can cut `pre` directly where the span CTEs (built
    * over `lower(pre)`) say. The whitespace half of the mapping is
    * pinned by the randomized `SpanBruteForceSpec` against an
    * independent reference implementation.
    */
  def qDedupSpanDropRaw(spark: SparkSession, dir: String): DataFrame = {
    val pre = T(spark, dir, "documents").withColumn("text",
      trim(regexp_replace(col("text"), "\\s+", " ")))
    Dedup.dropRepeatedSpans(pre, "text", "doc_id",
      k = 20, minLen = 40, maxGramFreq = 50, preserveRaw = true)
      .select(col("doc_id"), col("text_deduped"))
  }

  val qDedupSpanDropRawSql: String = {
    val k = 20
    val pows = (0 until k).map(j => graft.functions.GramPositionHashes.powMod(k - 1 - j))
      .mkString("[", ",", "]")
    s"""WITH pre AS (
       |  SELECT doc_id, trim(regexp_replace(text, '[ \\t\\n\\v\\f\\r]+', ' ', 'g')) AS raw FROM documents),
       |nrm AS (SELECT doc_id, raw, lower(raw) AS t FROM pre),
       |kgl AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - ${k - 1}),
       |    i -> {'i': i, 'h': CAST(list_sum(list_transform(generate_series(0, ${k - 1}),
       |      j -> (CAST(unicode(substring(t, CAST(i + j AS INTEGER), 1)) AS BIGINT)
       |           * ($pows[j + 1])) % 2147483647)) % 2147483647 AS BIGINT)})) AS u
       |  FROM nrm WHERE length(t) >= $k),
       |kg AS (SELECT doc_id AS id, u.i AS pos, u.h AS h FROM kgl),
       |rare AS (SELECT h FROM kg GROUP BY h HAVING count(*) BETWEEN 2 AND 50),
       |b AS (SELECT kg.* FROM kg JOIN rare USING (h)),
       |hits AS (SELECT x.id AS id_a, y.id AS id_b, x.pos AS pos_a, y.pos AS pos_b,
       |    x.pos - y.pos AS d
       |  FROM b x JOIN b y ON x.h = y.h AND x.id < y.id),
       |isl AS (SELECT *, pos_a - row_number()
       |    OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a) AS island FROM hits),
       |sp AS (SELECT id_a, id_b, d, island, min(pos_a) AS start_a,
       |    max(pos_a) - min(pos_a) + $k AS span_len
       |  FROM isl GROUP BY 1, 2, 3, 4),
       |cuts AS (SELECT id_b AS id, start_a - d AS s, start_a - d + span_len - 1 AS e
       |  FROM sp WHERE span_len >= 40),
       |ord AS (SELECT id, s, e, coalesce(max(e) OVER (PARTITION BY id ORDER BY s, e
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pe FROM cuts),
       |agg AS (SELECT id,
       |    string_agg(CASE WHEN s - 1 > pe
       |      THEN substring(raw, CAST(pe + 1 AS INTEGER), CAST(s - 1 - pe AS INTEGER))
       |      ELSE '' END, '' ORDER BY s, e) AS body,
       |    max(e) AS me
       |  FROM ord JOIN nrm ON nrm.doc_id = ord.id GROUP BY id),
       |fin AS (SELECT n.doc_id,
       |    CASE WHEN a.id IS NULL THEN n.raw
       |         ELSE coalesce(a.body, '') || substring(n.raw, CAST(a.me + 1 AS INTEGER)) END
       |      AS text_deduped
       |  FROM nrm n LEFT JOIN agg a ON a.id = n.doc_id)
       |SELECT doc_id, text_deduped FROM fin""".stripMargin
  }

  /** Repeated spans INCLUDING within-document repeats (the other half
    * of Lee et al.'s ExactSubstr: a doc repeating its own
    * template/chrome), at a finer gram size so the corpus's self
    * repeats — rarer than cross-doc ones — actually surface. Forces
    * the BOUNDED index strategy so the 100 TB path (the posting-list
    * aggregate the auto-select picks at scale) keeps direct DuckDB
    * oracle coverage; the headline span queries ride auto and take the
    * in-memory window form at oracle/bench scale.
    */
  def qDedupSpansSelf(spark: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(T(spark, dir, "documents"), "text", "doc_id",
      k = 10, minLen = 20, maxGramFreq = 50,
      includeSelf = true, strategy = Dedup.SpanIndexBounded)

  val qDedupSpansSelfSql: String = {
    val k = 10
    val pows = (0 until k).map(j => graft.functions.GramPositionHashes.powMod(k - 1 - j))
      .mkString("[", ",", "]")
    s"""WITH nrm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '[ \\t\\n\\v\\f\\r]+', ' ', 'g') AS t FROM documents),
       |kgl AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - ${k - 1}),
       |    i -> {'i': i, 'h': CAST(list_sum(list_transform(generate_series(0, ${k - 1}),
       |      j -> (CAST(unicode(substring(t, CAST(i + j AS INTEGER), 1)) AS BIGINT)
       |           * ($pows[j + 1])) % 2147483647)) % 2147483647 AS BIGINT)})) AS u
       |  FROM nrm WHERE length(t) >= $k),
       |kg AS (SELECT doc_id AS id, u.i AS pos, u.h AS h FROM kgl),
       |rare AS (SELECT h FROM kg GROUP BY h HAVING count(*) BETWEEN 2 AND 50),
       |b AS (SELECT kg.* FROM kg JOIN rare USING (h)),
       |hits AS (SELECT x.id AS id_a, y.id AS id_b, x.pos AS pos_a, y.pos AS pos_b,
       |    x.pos - y.pos AS d
       |  FROM b x JOIN b y ON x.h = y.h
       |    AND (x.id < y.id OR (x.id = y.id AND x.pos < y.pos))),
       |isl AS (SELECT *, pos_a - row_number()
       |    OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a) AS island FROM hits),
       |sp AS (SELECT id_a, id_b, d, island, min(pos_a) AS start_a,
       |    max(pos_a) - min(pos_a) + $k AS span_len
       |  FROM isl GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, CAST(start_a AS INTEGER) AS start_a,
       |  CAST(start_a - d AS INTEGER) AS start_b, CAST(span_len AS BIGINT) AS span_len
       |FROM sp WHERE span_len >= 20""".stripMargin
  }

  /** Point-in-time join: each event picks up the user's latest order
    * at-or-before the event timestamp (leak-free feature attachment).
    * Spark side is the union + running-last window ([[Asof]]); the
    * oracle is DuckDB's native ASOF LEFT JOIN over the identically
    * deduplicated right side — two independent formulations of the
    * same semantics.
    */
  def qAsofOrders(spark: SparkSession, dir: String): DataFrame = {
    val ev = T(spark, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val ord = Asof.latestPerKeyTs(
      T(spark, dir, "orders").select(
        col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
        col("o_totalprice").as("last_order_price"),
        col("o_orderkey").as("last_order_key")),
      Seq("user_id"), "ts", Seq("last_order_price", "last_order_key"))
      .withColumn("last_order_ts", col("ts"))
    Asof.joinBackward(ev, ord, Seq("user_id"), "ts",
      Seq("last_order_price", "last_order_key", "last_order_ts"))
      // TIMESTAMP_NTZ: wall-clock UTC, matching the oracle's naive
      // timestamp dtype (same convention as q_stats_window above)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  val qAsofOrdersSql: String =
    """WITH o0 AS (SELECT o_custkey AS user_id, o_orderdate AS ts,
      |    max(struct_pack(last_order_price := o_totalprice,
      |                    last_order_key := o_orderkey)) AS m
      |  FROM orders GROUP BY 1, 2),
      |o AS (SELECT user_id, ts, m.last_order_price AS last_order_price,
      |        m.last_order_key AS last_order_key, ts AS last_order_ts FROM o0),
      |ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
      |SELECT ev.event_id, ev.user_id, ev.ts, o.last_order_price,
      |  o.last_order_key, o.last_order_ts
      |FROM ev ASOF LEFT JOIN o ON ev.user_id = o.user_id AND ev.ts >= o.ts""".stripMargin

  /** [[qAsofOrders]] bounded by a tolerance: a last-order match older
    * than 30 days before the event is discarded (pandas
    * `merge_asof(tolerance=...)` semantics — the match exists but is
    * too stale to attach). Oracle: same ASOF join, values gated by a
    * CASE on the matched right timestamp.
    */
  def qAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = T(spark, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val ord = Asof.latestPerKeyTs(
      T(spark, dir, "orders").select(
        col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
        col("o_totalprice").as("last_order_price"),
        col("o_orderkey").as("last_order_key")),
      Seq("user_id"), "ts", Seq("last_order_price", "last_order_key"))
      .withColumn("last_order_ts", col("ts"))
    Asof.joinBackward(ev, ord, Seq("user_id"), "ts",
      Seq("last_order_price", "last_order_key", "last_order_ts"),
      tolerance = Some("30 days"))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  val qAsofToleranceSql: String =
    """WITH o0 AS (SELECT o_custkey AS user_id, o_orderdate AS ts,
      |    max(struct_pack(last_order_price := o_totalprice,
      |                    last_order_key := o_orderkey)) AS m
      |  FROM orders GROUP BY 1, 2),
      |o AS (SELECT user_id, ts, m.last_order_price AS last_order_price,
      |        m.last_order_key AS last_order_key, ts AS last_order_ts FROM o0),
      |ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
      |SELECT ev.event_id, ev.user_id, ev.ts,
      |  CASE WHEN o.ts >= ev.ts - INTERVAL '30 days' THEN o.last_order_price END
      |    AS last_order_price,
      |  CASE WHEN o.ts >= ev.ts - INTERVAL '30 days' THEN o.last_order_key END
      |    AS last_order_key,
      |  CASE WHEN o.ts >= ev.ts - INTERVAL '30 days' THEN o.last_order_ts END
      |    AS last_order_ts
      |FROM ev ASOF LEFT JOIN o ON ev.user_id = o.user_id AND ev.ts >= o.ts""".stripMargin

  /** [[qAsofOrders]] through the snapshot-timeline plan
    * ([[Asof.snapshotJoinBackward]] — the stream-static shape): same
    * semantics, different physical form (per-key sorted timeline +
    * higher-order filter instead of union + running window), same
    * DuckDB ASOF oracle. Two engine plans and one independent oracle
    * pinning one contract.
    */
  def qAsofSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val ev = T(spark, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val ord = T(spark, dir, "orders").select(
        col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
        col("o_totalprice").as("last_order_price"),
        col("o_orderkey").as("last_order_key"))
      .withColumn("last_order_ts", col("ts"))
    Asof.snapshotJoinBackward(ev, ord, Seq("user_id"), "ts",
      Seq("last_order_price", "last_order_key", "last_order_ts"))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  /** Forward as-of: each event picks up the user's NEXT order at-or-
    * after the event timestamp (next-conversion attribution). Oracle is
    * DuckDB's forward ASOF (`ev.ts <= o.ts` picks the minimal o.ts).
    */
  def qAsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = T(spark, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val ord = Asof.latestPerKeyTs(
      T(spark, dir, "orders").select(
        col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
        col("o_totalprice").as("next_order_price"),
        col("o_orderkey").as("next_order_key")),
      Seq("user_id"), "ts", Seq("next_order_price", "next_order_key"))
      .withColumn("next_order_ts", col("ts"))
    Asof.joinForward(ev, ord, Seq("user_id"), "ts",
      Seq("next_order_price", "next_order_key", "next_order_ts"))
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  val qAsofForwardSql: String =
    """WITH o0 AS (SELECT o_custkey AS user_id, o_orderdate AS ts,
      |    max(struct_pack(next_order_price := o_totalprice,
      |                    next_order_key := o_orderkey)) AS m
      |  FROM orders GROUP BY 1, 2),
      |o AS (SELECT user_id, ts, m.next_order_price AS next_order_price,
      |        m.next_order_key AS next_order_key, ts AS next_order_ts FROM o0),
      |ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
      |SELECT ev.event_id, ev.user_id, ev.ts, o.next_order_price,
      |  o.next_order_key, o.next_order_ts
      |FROM ev ASOF LEFT JOIN o ON ev.user_id = o.user_id AND ev.ts <= o.ts""".stripMargin

  /** Leakage-safe split: md5-bucket assignment keyed on the duplicate-
    * cluster canonical id (ngram near-dup pairs → connected
    * components), so near-dups share a split. Oracle composes the
    * recursive-CTE closure (as in q_dedup_clusters) with the same md5
    * rule as the sampling oracles: 80/10/10 train/val/test.
    */
  def qLeakageSplit(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.leakageSafeSplit(
      T(spark, dir, "documents").select(col("doc_id")),
      qDedupNgram(spark, dir), "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))

  // lazy: dedupNgramCtes is declared further down the object; an eager
  // val here would interpolate null during object init
  lazy val qLeakageSplitSql: String =
    s"""WITH RECURSIVE $dedupNgramCtes,
       |pr AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
       |          UNION ALL SELECT id_b, id_a FROM pr),
       |reach(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.id),
       |lab AS (SELECT id AS doc_id, min(l) AS cluster_id FROM reach GROUP BY id),
       |k AS (SELECT d.doc_id, coalesce(lab.cluster_id, d.doc_id) AS sk
       |      FROM documents d LEFT JOIN lab ON lab.doc_id = d.doc_id),
       |bkt AS (SELECT doc_id,
       |    CAST(CAST('0x' || substr(md5(CAST(sk AS VARCHAR)), 1, 8) AS UBIGINT) % 100 AS BIGINT) AS b
       |  FROM k)
       |SELECT doc_id,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |FROM bkt""".stripMargin

  /** Attribution-window range join: clicks within the hour before a
    * purchase, per user — the bucketized point-in-interval join
    * ([[RangeJoin]]) vs a plain inequality join in the oracle.
    */
  def qRangeAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = T(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        (col("ts") - expr("INTERVAL 1 HOUR")).as("w_start"), col("ts").as("w_end"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    RangeJoin.pointInInterval(clicks, purchases,
        Seq("user_id"), "ts", "w_start", "w_end")
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  val qRangeAttributionSql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |p AS (SELECT event_id AS purchase_id, user_id,
      |        ts - INTERVAL 1 HOUR AS s, ts AS e FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS click_id, user_id, ts FROM ev WHERE event_type = 'click')
      |SELECT c.user_id, c.click_id, p.purchase_id
      |FROM c JOIN p ON c.user_id = p.user_id AND p.s <= c.ts AND c.ts <= p.e""".stripMargin

  /** CCNet-style LM typicality: add-k-smoothed char-trigram mean
    * log-likelihood, self-trained on the corpus. The oracle re-derives
    * the trigram/bigram-context counts, V, and the smoothed average;
    * both engines round to 6 places, absorbing summation-order ulps.
    */
  def qTextTypicality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.typicalityScore(T(spark, dir, "documents"))

  val qTextTypicalitySql: String =
    """WITH nrm AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '[ \t\n\v\f\r]+', ' ', 'g') AS t
      |  FROM documents),
      |docs AS (SELECT doc_id, t FROM nrm WHERE length(t) >= 3),
      |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - 2),
      |        i -> substring(t, CAST(i AS INTEGER), 3))) AS g3 FROM docs),
      |v AS (SELECT count(DISTINCT ch) AS V FROM (
      |        SELECT unnest(string_split(t, '')) AS ch FROM docs) WHERE ch <> ''),
      |c3 AS (SELECT g3, count(*) AS c3 FROM g GROUP BY g3),
      |c2 AS (SELECT substring(g3, 1, 2) AS g2, sum(c3) AS c2 FROM c3 GROUP BY 1)
      |SELECT g.doc_id,
      |  round(avg(ln((c3.c3 + 0.5) / (c2.c2 + 0.5 * v.V))), 6) AS typicality_r
      |FROM g JOIN c3 USING (g3)
      |  JOIN c2 ON c2.g2 = substring(g.g3, 1, 2), v
      |GROUP BY g.doc_id""".stripMargin

  /** CCNet's per-domain head/middle/tail selection: typicality terciles
    * within each source (the per-language bucketing of arXiv:1911.00359
    * §3.3). Oracle wraps the typicality oracle as a subquery and
    * re-derives the same deterministic ntile.
    */
  def qTypicalityBuckets(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.typicalityBuckets(T(spark, dir, "documents"))

  val qTypicalityBucketsSql: String =
    s"""SELECT s.doc_id, d.source, s.typicality_r,
       |  CAST(ntile(3) OVER (PARTITION BY d.source
       |    ORDER BY s.typicality_r, s.doc_id) AS BIGINT) AS bucket
       |FROM ($qTextTypicalitySql) s JOIN documents d USING (doc_id)""".stripMargin

  /** Cross-corpus typicality — the actual CCNet setup: the trigram LM
    * trains on one source slice (src0) only and scores EVERY document, so low
    * scores mean "doesn't look like the reference". Unseen trigrams
    * flow through the same add-k smoothing via coalesced zero counts.
    */
  def qTypicalityXcorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    TextAnalysis.typicalityScoreAgainst(docs, docs.where(col("source") === "src0"))
  }

  val qTypicalityXcorpusSql: String =
    """WITH nrm AS (
      |  SELECT doc_id, source, regexp_replace(lower(trim(text)), '[ \t\n\v\f\r]+', ' ', 'g') AS t
      |  FROM documents),
      |docs AS (SELECT doc_id, t FROM nrm WHERE length(t) >= 3),
      |ref AS (SELECT t FROM nrm WHERE source = 'src0' AND length(t) >= 3),
      |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - 2),
      |        i -> substring(t, CAST(i AS INTEGER), 3))) AS g3 FROM docs),
      |rg AS (SELECT unnest(list_transform(generate_series(1, length(t) - 2),
      |        i -> substring(t, CAST(i AS INTEGER), 3))) AS g3 FROM ref),
      |v AS (SELECT count(DISTINCT ch) AS V FROM (
      |        SELECT unnest(string_split(t, '')) AS ch FROM ref) WHERE ch <> ''),
      |c3 AS (SELECT g3, count(*) AS c3 FROM rg GROUP BY g3),
      |c2 AS (SELECT substring(g3, 1, 2) AS g2, sum(c3) AS c2 FROM c3 GROUP BY 1)
      |SELECT g.doc_id,
      |  round(avg(ln((coalesce(c3.c3, 0) + 0.5) / (coalesce(c2.c2, 0) + 0.5 * v.V))), 6)
      |    AS typicality_r
      |FROM g LEFT JOIN c3 USING (g3)
      |  LEFT JOIN c2 ON c2.g2 = substring(g.g3, 1, 2), v
      |GROUP BY g.doc_id""".stripMargin

  /** Language-id heuristic: stopword-profile argmax, ties toward the
    * lexicographically greatest language code (Spark's `greatest` over
    * (hits, lang) structs ≡ DuckDB's struct `max`). Oracle re-derives
    * the scoring from the same profile lists.
    */
  def qLangId(spark: SparkSession, dir: String): DataFrame =
    fan(T(spark, dir, "documents")).select(
      col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_pred"))

  val qLangIdSql: String = {
    val structs = TextAnalysis.stopwordProfiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
      s"{'hits': len(list_filter(t, x -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], x))), 'lang': '$lang'}"
    }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
       |    ELSE string_split_regex(trim(lower(text)), '[ \\t\\n\\v\\f\\r]+') END AS t FROM documents),
       |b AS (SELECT doc_id, list_aggregate([$structs], 'max') AS best FROM toks)
       |SELECT doc_id, CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred FROM b""".stripMargin
  }

  def qDedupNgram(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardDuplicates(
      T(spark, dir, "documents"), "text", "doc_id",
      shingleSize = 3, threshold = 0.2, maxShingleFreq = 10)

  /** CTE body shared by the ngram oracle and the cluster oracle. */
  private val dedupNgramCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(regexp_replace(lower(trim(text)), '[ \t\n\v\f\r]+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
      |    ELSE list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')) END AS s
      |  FROM toks),
      |shd AS (SELECT doc_id, list_distinct(s) AS shingles FROM sh),
      |inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM shd),
      |rare AS (SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= 10),
      |binv AS (SELECT i.doc_id, i.shingle FROM inv i JOIN rare r USING (shingle)),
      |pairs AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |          FROM binv x JOIN binv y USING (shingle) WHERE x.doc_id < y.doc_id),
      |j AS (SELECT p.id_a, p.id_b,
      |        round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      |              / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
      |      FROM pairs p JOIN shd a ON a.doc_id = p.id_a JOIN shd b ON b.doc_id = p.id_b)""".stripMargin

  val qDedupNgramSql: String =
    s"WITH $dedupNgramCtes\nSELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2"

  /** Duplicate-cluster resolution: connected components over the ngram
    * near-dup pairs, each doc labeled with the minimum id of its
    * component (the surviving canonical). Transitivity is the point:
    * A~B and B~C collapse to one canonical even without an A~C pair.
    * Oracle: recursive label-reachability closure over the same pairs.
    */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // duplicateClusters returns its labels CACHED (caller-owned); copy
    // the cluster-count-sized label set out and release the cache so
    // repeated invocations (the 5-rep bench) don't pin one per call
    val labels = Dedup.duplicateClusters(qDedupNgram(spark, dir))
    val out = labels.localCheckpoint()
    labels.unpersist()
    out
  }

  /** Incremental cluster maintenance, value-oracled by EQUIVALENCE:
    * the ngram pair graph is split deterministically into an "old
    * corpus" batch and a "new ingest" batch (`(id_a+id_b) % 5 == 0` —
    * a rule that lands pairs of the same component in different
    * batches, forcing real cross-component merges), the old batch is
    * clustered, and the new batch is MERGED into that labeling via
    * [[Dedup.mergeDuplicateClusters]]. A correct merge is
    * indistinguishable from clustering the whole graph at once, so the
    * oracle is q_dedup_clusters' recursive closure over ALL pairs —
    * one oracle, two physical forms (the q_dedup_incremental_bloom
    * convention).
    *
    * CACHE HYGIENE: the pair frame and the result are localCheckpoints
    * (ContextCleaner-released once dropped, no CacheManager entry) and
    * the old-batch labels cache is unpersisted before return; the only
    * retained entries are mergeDuplicateClusters' two batch-bounded
    * internal caches, which its lazy pass-through leg still reads —
    * tiny (≤ 2× the new-ingest batch's label rows), released by
    * `spark.catalog.clearCache()` in a long-running session.
    */
  def qDedupClustersIncremental(spark: SparkSession, dir: String): DataFrame = {
    // Materialize the pair list ONCE before splitting: both batches
    // filter the same expensive ngram pair detection, and without this
    // the "new ingest" branch recomputes the whole detection from the
    // scan (measured at sf10: 70-88 s isolated vs ~45 s cached; the
    // historical 27-51 s sweep numbers were the same cache arriving
    // accidentally, from q_dedup_clusters running earlier in the JVM).
    val pairs = qDedupNgram(spark, dir).localCheckpoint()
    val isNew = (col("id_a") + col("id_b")) % 5 === 0
    val existing = Dedup.duplicateClusters(pairs.where(!isNew))
    // label sets are cluster-count-sized; copy out of the ops' caches
    // so the entry can release them (mergeDuplicateClusters keeps two
    // batch-bounded internal caches alive for its lazy result)
    val out =
      Dedup.mergeDuplicateClusters(existing, pairs.where(isNew)).localCheckpoint()
    existing.unpersist()
    out
  }

  val qDedupClustersSql: String =
    s"""WITH RECURSIVE $dedupNgramCtes,
       |pr AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
       |          UNION ALL SELECT id_b, id_a FROM pr),
       |reach(id, l) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.id)
       |SELECT id AS doc_id, CAST(min(l) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY id""".stripMargin

  /** The materialized curation pipeline ([[graft.ops.Pipeline]]):
    * gate → cluster-dedup → decontaminate → typicality-filter → split
    * → pack, reported as per-stage survivor counts. Every stage is
    * individually value-oracled elsewhere; THIS row pins the
    * COMPOSITION — the oracle re-derives the same six stages in
    * sequence (each one the rebased text of its standalone oracle), so
    * a reordered or skipped stage diverges in the counts.
    */
  def qCurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    graft.ops.Pipeline.curate(
      docs.where(pmod(col("doc_id"), lit(50)) =!= 0),
      docs.where(pmod(col("doc_id"), lit(50)) === 0)).report
  }

  // lazy: composes fragments declared further down the object
  lazy val qCurationPipelineSql: String = {
    val gate = qQualityGateSql.replace("FROM documents", "FROM corpus")
    val closure =
      s"""WITH RECURSIVE ${dedupNgramCtes.replace("FROM documents", "FROM gated")},
         |pr AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
         |          UNION ALL SELECT id_b, id_a FROM pr),
         |reach(id, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id AS doc_id, CAST(min(l) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY id""".stripMargin
    val pack = qSeqPackingSql.replace("FROM documents", "FROM train")
    s"""WITH corpus AS MATERIALIZED (SELECT * FROM documents WHERE doc_id % 50 != 0),
       |evalset AS MATERIALIZED (SELECT * FROM documents WHERE doc_id % 50 = 0),
       |gate AS MATERIALIZED (SELECT doc_id FROM ($gate) qg WHERE keep),
       |gated AS MATERIALIZED (SELECT c.* FROM corpus c JOIN gate USING (doc_id)),
       |labels AS MATERIALIZED (SELECT doc_id, cluster_id FROM ($closure) cl),
       |deduped AS MATERIALIZED (SELECT g.* FROM gated g LEFT JOIN labels l USING (doc_id)
       |            WHERE l.cluster_id IS NULL OR l.cluster_id = g.doc_id),
       |trg AS MATERIALIZED (SELECT doc_id, unnest(
       |    CASE WHEN len(t) <= 4 THEN [array_to_string(t, ' ')]
       |         ELSE list_transform(generate_series(1, len(t) - 3),
       |                i -> array_to_string(t[i:i+3], ' ')) END) AS g
       |  FROM (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
       |          ELSE string_split_regex(trim(lower(text)), '[ \\t\\n\\v\\f\\r]+') END AS t
       |        FROM deduped) dt),
       |evg AS MATERIALIZED (SELECT DISTINCT unnest(
       |    CASE WHEN len(t) <= 4 THEN [array_to_string(t, ' ')]
       |         ELSE list_transform(generate_series(1, len(t) - 3),
       |                i -> array_to_string(t[i:i+3], ' ')) END) AS g
       |  FROM (SELECT CASE WHEN length(trim(text)) = 0 THEN []
       |          ELSE string_split_regex(trim(lower(text)), '[ \\t\\n\\v\\f\\r]+') END AS t
       |        FROM evalset) et),
       |contaminated AS MATERIALIZED (SELECT DISTINCT trg.doc_id FROM trg JOIN evg USING (g)),
       |cleaned AS MATERIALIZED (SELECT d.* FROM deduped d
       |            WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |tb AS MATERIALIZED (SELECT sc.doc_id,
       |    CAST(ntile(3) OVER (PARTITION BY d.source
       |      ORDER BY sc.typicality_r, sc.doc_id) AS BIGINT) AS bucket
       |  FROM (
       |    WITH nrm AS (SELECT doc_id, regexp_replace(lower(trim(text)), '[ \\t\\n\\v\\f\\r]+', ' ', 'g') AS t FROM cleaned),
       |    docs AS (SELECT doc_id, t FROM nrm WHERE length(t) >= 3),
       |    g AS (SELECT doc_id, unnest(list_transform(generate_series(1, length(t) - 2),
       |            i -> substring(t, CAST(i AS INTEGER), 3))) AS g3 FROM docs),
       |    v AS (SELECT count(DISTINCT ch) AS V FROM (
       |            SELECT unnest(string_split(t, '')) AS ch FROM docs) WHERE ch <> ''),
       |    c3 AS (SELECT g3, count(*) AS c3 FROM g GROUP BY g3),
       |    c2 AS (SELECT substring(g3, 1, 2) AS g2, sum(c3) AS c2 FROM c3 GROUP BY 1)
       |    SELECT g.doc_id,
       |      round(avg(ln((c3.c3 + 0.5) / (c2.c2 + 0.5 * v.V))), 6) AS typicality_r
       |    FROM g JOIN c3 USING (g3)
       |      JOIN c2 ON c2.g2 = substring(g.g3, 1, 2), v
       |    GROUP BY g.doc_id) sc
       |  JOIN cleaned d USING (doc_id)),
       |typical AS MATERIALIZED (SELECT c.* FROM cleaned c JOIN tb USING (doc_id)
       |            WHERE tb.bucket >= 2),
       |sp AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT t0.doc_id,
       |      CAST(CAST('0x' || substr(md5(CAST(coalesce(l.cluster_id, t0.doc_id) AS VARCHAR)), 1, 8) AS UBIGINT) % 100 AS BIGINT) AS b
       |    FROM typical t0 LEFT JOIN labels l USING (doc_id)) sb),
       |train AS MATERIALIZED (SELECT ty.* FROM typical ty JOIN sp USING (doc_id)
       |          WHERE sp.split = 'train')
       |SELECT 'corpus' AS stage, CAST(0 AS BIGINT) AS stage_idx,
       |       (SELECT count(*) FROM corpus) AS n_rows
       |UNION ALL SELECT 'quality_gate', 1, (SELECT count(*) FROM gated)
       |UNION ALL SELECT 'cluster_dedup', 2, (SELECT count(*) FROM deduped)
       |UNION ALL SELECT 'decontaminate', 3, (SELECT count(*) FROM cleaned)
       |UNION ALL SELECT 'typicality_filter', 4, (SELECT count(*) FROM typical)
       |UNION ALL SELECT 'train_split', 5, (SELECT count(*) FROM train)
       |UNION ALL SELECT 'pack_bins', 6,
       |  (SELECT count(*) FROM (SELECT DISTINCT shard, bin FROM ($pack) pk) pb)""".stripMargin
  }

  /** Deterministic stratified sampling over `source` strata: per-row
    * md5-bucket decision (reproducible across engines and retries, the
    * q_partition_bucket_md5 construction) with per-stratum keep rates.
    */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedHashSample(
      T(spark, dir, "documents").select("doc_id", "source"),
      strataCol = "source", keyCol = "doc_id",
      rates = Map("web" -> 50, "wiki" -> 100), defaultKeep = 20)

  val qSampleStratifiedSql: String =
    """SELECT doc_id, source FROM documents
      |WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) % 100 AS BIGINT)
      |      < CASE source WHEN 'web' THEN 50 WHEN 'wiki' THEN 100 ELSE 20 END""".stripMargin

  /** MinHash-LSH near-dup pairs — full value oracle: the Murmur3
    * string hash and splitmix64 lane mixer are re-derived in DuckDB
    * SQL from first principles ([[HashOracleSql]]), so the oracle
    * reproduces the signatures bit-for-bit and re-blocks the same
    * band buckets.
    */
  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashDuplicates(fan(T(spark, dir, "documents")), "text", "doc_id",
      threshold = 0.2)

  /** Incremental near-dedup over an ingest split: documents above the
    * median id arrive as the "daily batch" against a
    * [[Dedup.nearDedupIndex]] of the rest. The op guarantees exact
    * equivalence with the batch run restricted to batch-side pairs, so
    * the oracle is the minhash oracle plus one predicate.
    */
  def qDedupIncrementalNear(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    import spark.implicits._
    val split = docs.agg(max(col("doc_id"))).as[Long].head / 2
    // Materialize the inline-built history index once: the op reads it
    // twice (banding via sig, verification via hs), and this demo form
    // derives it from the documents scan — left lazy, the history half
    // is scanned+shingled+minhashed twice per run. A deployment
    // instead reads a persisted index, whose two reads stay
    // column-pruned scans — this entry-side materialization models
    // "the index exists", not a new cost.
    val idx = Dedup.nearDedupIndex(docs.where(col("doc_id") <= split), "text", "doc_id")
      .localCheckpoint()
    Dedup.incrementalNearDedup(
      docs.where(col("doc_id") > split), "text", "doc_id", idx, threshold = 0.2)
  }

  /** SimHash near-dup pairs — full value oracle, same machinery. */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashDuplicates(fan(T(spark, dir, "documents")), "text", "doc_id",
      maxHamming = 8)

  /** Perceptual-hash image near-dedup over REAL decoded PNGs: the
    * fixture encodes a deterministic 36×32 grayscale image per doc_id
    * to actual PNG bytes ([[Multimodal.syntheticPng]]), the operator
    * decodes them back through `javax.imageio` and computes a 63-bit
    * dHash over a 9×8 integer block-mean grid, then Hamming-banded
    * near-dup pairing ([[Multimodal.imagePhashDuplicates]]). The
    * oracle re-derives every pixel ANALYTICALLY from doc_id (never
    * touching PNG) and replays the dHash + banding math in SQL — a
    * genuinely independent check of the whole encode→decode→hash path
    * (PNG is lossless, so a bit-exact match is required, and any
    * colorspace/gamma drift in the codec path fails the hash).
    */
  def qDedupImagePhash(spark: SparkSession, dir: String): DataFrame =
    Multimodal.imagePhashDuplicates(
      MediaFixtures.pngs(spark, dir), maxHamming = 10)

  /** First-principles DuckDB mirror of [[qDedupImagePhash]]: pixel
    * formula → 4×4 block means (integer floor-div) → 63 dHash bits →
    * 4×16-bit band blocking → exact Hamming ≤ 10. Mirrors
    * `syntheticPng(width=36, height=32, groups=50)` +
    * `imagePhashDuplicates(maxHamming=10)`.
    */
  val qDedupImagePhashSql: String =
    """WITH px AS (
      |  SELECT d.doc_id, g.x, g.y,
      |    ((d.doc_id % 50 + 1) * (g.x + 3) * (g.y + 7)) % 251
      |      + (d.doc_id * 31 + g.x * 7 + g.y * 3) % 5 AS v
      |  FROM documents d,
      |       (SELECT xs.x, ys.y
      |        FROM (SELECT unnest(generate_series(0, 35)) AS x) xs,
      |             (SELECT unnest(generate_series(0, 31)) AS y) ys) g),
      |blocks AS (
      |  SELECT doc_id, x // 4 AS bx, y // 4 AS by, SUM(v) // 16 AS m
      |  FROM px GROUP BY 1, 2, 3),
      |bits AS (
      |  SELECT a.doc_id, a.by * 8 + a.bx AS b
      |  FROM blocks a JOIN blocks c
      |    ON a.doc_id = c.doc_id AND a.by = c.by AND c.bx = a.bx + 1
      |  WHERE a.bx < 8 AND a.by * 8 + a.bx < 63 AND a.m < c.m),
      |hashes AS (
      |  SELECT d.doc_id AS id, COALESCE(h.ph, 0) AS phash
      |  FROM documents d LEFT JOIN
      |    (SELECT doc_id, SUM(CAST(1 AS BIGINT) << b) AS ph
      |     FROM bits GROUP BY doc_id) h ON d.doc_id = h.doc_id),
      |banded AS (
      |  SELECT id, phash, g.band, (phash >> (g.band * 16)) & 65535 AS bandKey
      |  FROM hashes, (SELECT unnest([0, 1, 2, 3]) AS band) g),
      |prs AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
      |         a.phash AS pa, b.phash AS pb
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bandKey = b.bandKey AND a.id < b.id)
      |SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
      |FROM prs WHERE bit_count(xor(pa, pb)) <= 10""".stripMargin

  /** Energy-envelope audio near-dedup over REAL decoded WAVs — the
    * audio twin of [[qDedupImagePhash]]: the fixture encodes a
    * deterministic 2048-sample 16-bit PCM clip per doc_id to an actual
    * WAV container through the JDK's `javax.sound.sampled` encoder
    * ([[Multimodal.syntheticWav]]), the operator decodes the bytes
    * back and computes a 63-bit difference hash over 64 integer window
    * energies, then Hamming-banded near-dup pairing. The oracle
    * re-derives every SAMPLE analytically from doc_id (never touching
    * WAV) and replays the energy/hash/banding math in SQL — PCM is
    * lossless, so any drift in the container encode→decode path fails
    * the hash bit-exactly.
    */
  def qDedupAudioFp(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioFingerprintDuplicates(
      MediaFixtures.wavs(spark, dir), maxHamming = 10)

  /** First-principles DuckDB mirror of [[qDedupAudioFp]]: sample
    * formula → 64 window energies (Σ s², BIGINT-exact) → 63 difference
    * bits → 4×16-bit band blocking → exact Hamming ≤ 10. Mirrors
    * `syntheticWav(nSamples=2048, groups=50)` +
    * `audioFingerprintDuplicates(maxHamming=10)`.
    */
  val qDedupAudioFpSql: String =
    """WITH smp AS (
      |  SELECT d.doc_id, i.i,
      |    ((d.doc_id % 50 + 1) * (i.i + 3) * 131) % 60000
      |      + (d.doc_id * 31 + i.i * 7) % 9 - 30000 AS s
      |  FROM documents d,
      |       (SELECT unnest(generate_series(0, 2047)) AS i) i),
      |en AS (
      |  SELECT doc_id, i // 32 AS w, SUM(CAST(s AS BIGINT) * s) AS e
      |  FROM smp GROUP BY 1, 2),
      |bits AS (
      |  SELECT a.doc_id, a.w AS b
      |  FROM en a JOIN en c ON a.doc_id = c.doc_id AND c.w = a.w + 1
      |  WHERE a.w < 63 AND a.e < c.e),
      |hashes AS (
      |  SELECT d.doc_id AS id, COALESCE(h.ph, 0) AS phash
      |  FROM documents d LEFT JOIN
      |    (SELECT doc_id, SUM(CAST(1 AS BIGINT) << b) AS ph
      |     FROM bits GROUP BY doc_id) h ON d.doc_id = h.doc_id),
      |banded AS (
      |  SELECT id, phash, g.band, (phash >> (g.band * 16)) & 65535 AS bandKey
      |  FROM hashes, (SELECT unnest([0, 1, 2, 3]) AS band) g),
      |prs AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
      |         a.phash AS pa, b.phash AS pb
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bandKey = b.bandKey AND a.id < b.id)
      |SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
      |FROM prs WHERE bit_count(xor(pa, pb)) <= 10""".stripMargin

  /** AIFF twin of [[qDedupAudioFp]]: the SAME analytic oracle covers
    * it because [[Multimodal.syntheticAudio]] lays out identical PCM
    * samples in the container's native endianness — a decoded AIFF
    * clip must produce the bit-identical energy hash, so any
    * endianness or header drift in the encode→decode path fails the
    * hash. (The AU arm is covered by the bit-identity spec in
    * `MultimodalAudioSpec`.)
    */
  def qDedupAudioFpAiff(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioFingerprintDuplicates(
      MediaFixtures.aiffs(spark, dir), maxHamming = 10)

  /** Per-frame video near-dedup over REAL decoded animated GIFs: the
    * fixture encodes 8 deterministic 36×32 frames per doc_id to an
    * actual multi-frame GIF ([[Multimodal.syntheticGif]] — identity
    * gray palette + lossless LZW, so indices ARE intensities), the
    * operator extracts 4 evenly spaced frames (0,2,4,6) through the
    * JDK's sequence `ImageReader`, dHashes each, and band-pairs within
    * each frame position ([[Multimodal.videoFrameDuplicates]]). The
    * oracle re-derives every pixel of every sampled frame analytically
    * from (doc_id, f, x, y) — never touching GIF — and replays the
    * dHash + per-frame banding in SQL, an independent check of the
    * whole multi-frame encode→decode→hash path.
    */
  def qDedupVideoFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.videoFrameDuplicates(
      MediaFixtures.gifs(spark, dir), n = 4,
      maxHamming = 10)

  /** First-principles DuckDB mirror of [[qDedupVideoFrames]]: pixel
    * formula with the frame axis → 4×4 block means → 63 dHash bits per
    * (doc_id, frame) → 4×16-bit banding keyed additionally on the
    * frame position → exact Hamming ≤ 10. Mirrors
    * `syntheticGif(width=36, height=32, frames=8, groups=50)` +
    * `videoFrameDuplicates(n=4, maxHamming=10)` — sampled source
    * frames are i·8/4 = {0, 2, 4, 6}.
    */
  val qDedupVideoFramesSql: String =
    """WITH px AS (
      |  SELECT d.doc_id, f.f, g.x, g.y,
      |    ((d.doc_id % 50 + 1) * (g.x + 3) * (g.y + 7) * (f.f + 11)) % 251
      |      + (d.doc_id * 31 + f.f * 13 + g.x * 7 + g.y * 3) % 5 AS v
      |  FROM documents d,
      |       (SELECT unnest([0, 2, 4, 6]) AS f) f,
      |       (SELECT xs.x, ys.y
      |        FROM (SELECT unnest(generate_series(0, 35)) AS x) xs,
      |             (SELECT unnest(generate_series(0, 31)) AS y) ys) g),
      |blocks AS (
      |  SELECT doc_id, f, x // 4 AS bx, y // 4 AS by, SUM(v) // 16 AS m
      |  FROM px GROUP BY 1, 2, 3, 4),
      |bits AS (
      |  SELECT a.doc_id, a.f, a.by * 8 + a.bx AS b
      |  FROM blocks a JOIN blocks c
      |    ON a.doc_id = c.doc_id AND a.f = c.f AND a.by = c.by
      |   AND c.bx = a.bx + 1
      |  WHERE a.bx < 8 AND a.by * 8 + a.bx < 63 AND a.m < c.m),
      |hashes AS (
      |  SELECT df.doc_id AS id, df.f AS frame_idx, COALESCE(h.ph, 0) AS phash
      |  FROM (SELECT d.doc_id, f.f
      |        FROM documents d, (SELECT unnest([0, 2, 4, 6]) AS f) f) df
      |  LEFT JOIN
      |    (SELECT doc_id, f, SUM(CAST(1 AS BIGINT) << b) AS ph
      |     FROM bits GROUP BY doc_id, f) h
      |    ON df.doc_id = h.doc_id AND df.f = h.f),
      |banded AS (
      |  SELECT id, frame_idx, phash, g.band,
      |         (phash >> (g.band * 16)) & 65535 AS bandKey
      |  FROM hashes, (SELECT unnest([0, 1, 2, 3]) AS band) g),
      |prs AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.frame_idx,
      |         a.phash AS pa, b.phash AS pb
      |  FROM banded a JOIN banded b
      |    ON a.frame_idx = b.frame_idx AND a.band = b.band
      |   AND a.bandKey = b.bandKey AND a.id < b.id)
      |SELECT id_a, id_b, frame_idx,
      |       CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
      |FROM prs WHERE bit_count(xor(pa, pb)) <= 10""".stripMargin

  /** Monotonic suffix for the memory-sink table names of the streaming
    * entry queries — bench reps re-run each query in one session, and a
    * reused queryName would collide with the previous rep's view.
    */
  private val streamSinkSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private val lastStreamSink =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Fresh memory-sink name for `prefix`, dropping the PREVIOUS
    * invocation's sink view of the same query so repeated bench reps
    * hold at most ONE full streaming output copy in driver memory
    * (the returned DataFrame of the current rep still reads its own
    * sink lazily, so only the predecessor is safe to drop).
    */
  private def freshStreamSink(spark: SparkSession, prefix: String): String = {
    val name = s"${prefix}_${streamSinkSeq.incrementAndGet()}"
    Option(lastStreamSink.put(prefix, name)).foreach { old =>
      try spark.catalog.dropTempView(old)
      catch { case _: Throwable => () }
    }
    name
  }

  // ids far above MemoryStream's own counter so debug strings never
  // alias a stock MemoryStream's within a session
  private val broadcastFeedSeq =
    new java.util.concurrent.atomic.AtomicInteger(1 << 20)

  /** Feed for the streaming demo queries: each micro-batch ships as ONE
    * broadcast deserialized once per executor instead of riding the
    * task binary deserialized by EVERY scan task (a full-batch payload
    * copy per task × 16 feed partitions × every micro-batch). Same
    * rows, same slicing, same order as the stock MemoryStream.
    */
  private def memFeed[A: org.apache.spark.sql.Encoder](
      spark: SparkSession, parts: Int)
      : org.apache.spark.sql.graft.BroadcastMemoryStream[A] =
    new org.apache.spark.sql.graft.BroadcastMemoryStream[A](
      broadcastFeedSeq.incrementAndGet(), spark, parts)

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restored after. Streaming state-store count binds to the shuffle
    * partitions in force when the query STARTS, and the MemoryStream
    * harness corpora (≤ 5 k docs/batch) pay more in per-micro-batch
    * state-store commit overhead at 32 stores than they gain in
    * parallelism — the r19 A/B measured 8.7 → 3.8 s (lines, two
    * stateful ops) and 13.2 → 6.9 s (media+video) at 8 partitions. A
    * real deployment sizes this by state volume; only the stream
    * inside `body` binds the pin — the caller's later batch reads run
    * under the restored session value.
    */
  private def withStatePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Drive [[Dedup.streamingSegmentDedup]] (ingest-time C4 line
    * dedup) over the documents table via a MemoryStream cut into 5
    * micro-batches, then report the kept SEGMENT SET grouped by token
    * count (count, char sum, lexicographic extremes). The streaming
    * contract makes this order-invariant even though per-document
    * attribution is arrival-order-dependent: every distinct segment's
    * first arrival survives and every survivor is distinct, so the
    * kept set equals the corpus' distinct-segment set — which the
    * oracle re-derives with the same segmentation SQL as
    * [[qDedupLinesSql]]. Newline separator so kept segments are
    * recoverable from the reassembled text (segments contain no
    * newline: normalization collapses all whitespace). All content
    * event times share one instant inside the watermark horizon; a
    * far-future sentinel row advances the watermark to flush the
    * per-document aggregation (the sentinel itself never emits).
    */
  def qDedupStreamingLines(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = T(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val mem = memFeed[(Long, String, java.sql.Timestamp)](spark, parts = 16)
    val sink = freshStreamSink(spark, "q_dedup_streaming_lines")
    val base = 1700000000000L
    withStatePartitions(spark, 8) {
      val q = Dedup.streamingSegmentDedup(
          mem.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id", "ts",
          w = 20, sep = "\n")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val batchSize = math.max(1, (rows.length + 4) / 5)
        rows.grouped(batchSize).foreach { b =>
          mem.addData(b.map { case (id, t) =>
            (id, t, new java.sql.Timestamp(base))
          }.toSeq: _*)
          q.processAllAvailable()
        }
        mem.addData((-1L, "flushsentinel unique tokens",
          new java.sql.Timestamp(base + 3600 * 1000L)))
        q.processAllAvailable()
      } finally {
        q.stop()
      }
    }
    spark.table(sink)
      .filter(col("doc_id") >= 0)
      .select(explode(split(col("text_dedup"), "\n")).as("seg"))
      .groupBy(size(split(col("seg"), " ")).cast("long").as("n_toks"))
      .agg(count(lit(1)).as("n_segs"),
        sum(length(col("seg"))).as("sum_chars"),
        min(col("seg")).as("min_seg"),
        max(col("seg")).as("max_seg"))
  }

  /** Same segmentation CTEs as [[qDedupLinesSql]], reduced to the
    * distinct-segment set and grouped by token count.
    */
  val qDedupStreamingLinesSql: String =
    s"""WITH nrm AS (
      |  SELECT doc_id, $normTextSql AS nt FROM documents),
      |toks AS (
      |  SELECT doc_id, CASE WHEN nt = '' THEN [] ELSE string_split(nt, ' ') END AS t
      |  FROM nrm),
      |sa AS (
      |  SELECT doc_id, CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
      |    ELSE list_transform(generate_series(1, (len(t) - 1) // 20 + 1),
      |           i -> array_to_string(t[(i-1)*20+1:(i-1)*20+20], ' ')) END AS segs
      |  FROM toks),
      |seg AS (SELECT DISTINCT unnest(segs) AS seg FROM sa)
      |SELECT CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_toks,
      |  CAST(count(*) AS BIGINT) AS n_segs,
      |  CAST(sum(length(seg)) AS BIGINT) AS sum_chars,
      |  min(seg) AS min_seg, max(seg) AS max_seg
      |FROM seg GROUP BY 1""".stripMargin

  /** Drive [[Multimodal.streamingMediaDedup]] (perceptual-exact image
    * dedup at ingest) over the PNG fixture via a MemoryStream cut into
    * 5 micro-batches, then report the kept rows' perceptual hashes with
    * their multiplicities. The streaming contract makes this output
    * ORDER-INVARIANT even though which same-batch duplicate survives is
    * arrival-order-arbitrary: `dropDuplicatesWithinWatermark` keeps
    * exactly ONE row per distinct dedup key, so grouping the kept rows
    * by recomputed phash must yield every corpus phash exactly once —
    * which the oracle derives analytically from doc_id, pinning the
    * whole stream→decode→hash→state path. Event times stay inside one
    * watermark horizon (ts = base + id%60 s ≪ 10 min) so no state
    * expires mid-run. The driver-side collect is the MemoryStream
    * harness form the driver contract needs, NOT the scale path (a
    * cluster feeds the same operator from Kafka/files); it is bounded
    * by the fixture size (sf0.1: 5 000 PNGs ≈ 10 MB).
    */
  def qDedupStreamingMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = MediaFixtures.pngs(spark, dir)
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    // multi-partition feed: with the default single partition every
    // micro-batch's PNG decode would run on one core
    val mem = memFeed[(Long, Array[Byte], java.sql.Timestamp)](spark, parts = 16)
    val sink = freshStreamSink(spark, "q_dedup_streaming_media")
    withStatePartitions(spark, 8) {
      val q = Multimodal.streamingMediaDedup(
          mem.toDF().toDF("media_id", "content", "ts"), "image", "ts")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val batchSize = math.max(1, (rows.length + 4) / 5)
        rows.grouped(batchSize).foreach { b =>
          mem.addData(b.map { case (id, c) =>
            (id, c, new java.sql.Timestamp(1700000000000L + (id % 60) * 1000L))
          }.toSeq: _*)
          q.processAllAvailable()
        }
      } finally {
        q.stop()
      }
    }
    Multimodal.imageDHash(spark.table(sink))
      .groupBy("phash").agg(count(lit(1)).as("n_kept"))
  }

  /** Analytic mirror of [[qDedupStreamingMedia]]: the kept set holds
    * exactly one representative per distinct perceptual hash, so the
    * oracle is the distinct analytic dHash set (same pixel→block→bit
    * derivation as [[qDedupImagePhashSql]]) with n_kept pinned to 1.
    */
  val qDedupStreamingMediaSql: String =
    """WITH px AS (
      |  SELECT d.doc_id, g.x, g.y,
      |    ((d.doc_id % 50 + 1) * (g.x + 3) * (g.y + 7)) % 251
      |      + (d.doc_id * 31 + g.x * 7 + g.y * 3) % 5 AS v
      |  FROM documents d,
      |       (SELECT xs.x, ys.y
      |        FROM (SELECT unnest(generate_series(0, 35)) AS x) xs,
      |             (SELECT unnest(generate_series(0, 31)) AS y) ys) g),
      |blocks AS (
      |  SELECT doc_id, x // 4 AS bx, y // 4 AS by, SUM(v) // 16 AS m
      |  FROM px GROUP BY 1, 2, 3),
      |bits AS (
      |  SELECT a.doc_id, a.by * 8 + a.bx AS b
      |  FROM blocks a JOIN blocks c
      |    ON a.doc_id = c.doc_id AND a.by = c.by AND c.bx = a.bx + 1
      |  WHERE a.bx < 8 AND a.by * 8 + a.bx < 63 AND a.m < c.m),
      |hashes AS (
      |  SELECT d.doc_id AS id, CAST(COALESCE(h.ph, 0) AS BIGINT) AS phash
      |  FROM documents d LEFT JOIN
      |    (SELECT doc_id, SUM(CAST(1 AS BIGINT) << b) AS ph
      |     FROM bits GROUP BY doc_id) h ON d.doc_id = h.doc_id)
      |SELECT phash, CAST(1 AS BIGINT) AS n_kept
      |FROM (SELECT DISTINCT phash FROM hashes) t""".stripMargin

  /** Drive [[Multimodal.streamingVideoDedup]] (frame-wise video dedup
    * at ingest) over the GIF fixture via a MemoryStream cut into 5
    * micro-batches, then report the distinct (frame_idx, phash) slots
    * covered by the kept videos. Coverage is the order-invariant
    * streaming contract: every distinct slot is claimed by its first
    * arrival, a claimer owns ≥ 1 slot and therefore survives, so the
    * kept videos' recomputed frame hashes must cover EXACTLY the
    * corpus's distinct slot set — no slot lost, none invented — which
    * the oracle derives analytically per (doc_id, frame). A final
    * far-future flush row (undecodable payload in its own sentinel
    * keyspace, its window never closes) pushes the watermark past every
    * data window so the windowed ownership aggregate emits.
    */
  def qDedupStreamingVideo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = MediaFixtures.gifs(spark, dir)
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])].collect().sortBy(_._1)
    // multi-partition feed: the 8-frame GIF decode dominates this
    // query, and the default single-partition MemoryStream would run
    // it on one core per micro-batch
    val mem = memFeed[(Long, Array[Byte], java.sql.Timestamp)](spark, parts = 16)
    val sink = freshStreamSink(spark, "q_dedup_streaming_video")
    val base = 1700000000000L
    withStatePartitions(spark, 8) {
      val q = Multimodal.streamingVideoDedup(
          mem.toDF().toDF("media_id", "content", "ts"), n = 4, tsCol = "ts")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        val batchSize = math.max(1, (rows.length + 4) / 5)
        rows.grouped(batchSize).foreach { b =>
          mem.addData(b.map { case (id, c) =>
            (id, c, new java.sql.Timestamp(base + (id % 30) * 1000L))
          }.toSeq: _*)
          q.processAllAvailable()
        }
        // flush: one sentinel an hour ahead closes every data window
        mem.addData((-1L, "__flush__".getBytes("UTF-8"),
          new java.sql.Timestamp(base + 3600 * 1000L)))
        q.processAllAvailable()
      } finally {
        q.stop()
      }
    }
    Multimodal.videoFrameHashes(spark.table(sink), n = 4)
      .select(col("frame_idx"), col("phash")).distinct()
  }

  /** Analytic mirror of [[qDedupStreamingVideo]]: the kept videos'
    * frame hashes cover exactly the corpus's distinct (frame, hash)
    * slots — same per-frame pixel→block→bit derivation as
    * [[qDedupVideoFramesSql]], collapsed to the distinct slot set.
    */
  val qDedupStreamingVideoSql: String =
    """WITH px AS (
      |  SELECT d.doc_id, f.f, g.x, g.y,
      |    ((d.doc_id % 50 + 1) * (g.x + 3) * (g.y + 7) * (f.f + 11)) % 251
      |      + (d.doc_id * 31 + f.f * 13 + g.x * 7 + g.y * 3) % 5 AS v
      |  FROM documents d,
      |       (SELECT unnest([0, 2, 4, 6]) AS f) f,
      |       (SELECT xs.x, ys.y
      |        FROM (SELECT unnest(generate_series(0, 35)) AS x) xs,
      |             (SELECT unnest(generate_series(0, 31)) AS y) ys) g),
      |blocks AS (
      |  SELECT doc_id, f, x // 4 AS bx, y // 4 AS by, SUM(v) // 16 AS m
      |  FROM px GROUP BY 1, 2, 3, 4),
      |bits AS (
      |  SELECT a.doc_id, a.f, a.by * 8 + a.bx AS b
      |  FROM blocks a JOIN blocks c
      |    ON a.doc_id = c.doc_id AND a.f = c.f AND a.by = c.by
      |   AND c.bx = a.bx + 1
      |  WHERE a.bx < 8 AND a.by * 8 + a.bx < 63 AND a.m < c.m),
      |hashes AS (
      |  SELECT df.doc_id, df.f AS frame_idx,
      |         CAST(COALESCE(h.ph, 0) AS BIGINT) AS phash
      |  FROM (SELECT d.doc_id, f.f
      |        FROM documents d, (SELECT unnest([0, 2, 4, 6]) AS f) f) df
      |  LEFT JOIN
      |    (SELECT doc_id, f, SUM(CAST(1 AS BIGINT) << b) AS ph
      |     FROM bits GROUP BY doc_id, f) h
      |    ON df.doc_id = h.doc_id AND df.f = h.f)
      |SELECT DISTINCT frame_idx, phash FROM hashes""".stripMargin

  def qSimilarityTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = T(spark, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 8), k = 5)
      .withColumn("rank", col("rank").cast("long"))
  }

  val qSimilarityTopkSql: String =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 8),
      |s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
      |        round(list_cosine_similarity(q.qv, CAST(c.embedding AS DOUBLE[])), 6) AS sim_r
      |      FROM q, embeddings c WHERE c.vec_id <> q.query_id),
      |r AS (SELECT query_id, neighbor_id, sim_r,
      |        row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id) AS rank
      |      FROM s)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim_r FROM r WHERE rank <= 5""".stripMargin

  /** Exact embedding near-dup pairs on a bounded subset (vec_id < 200)
    * — cosine threshold 0.35, full SQL oracle.
    */
  def qDedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingDuplicatesExact(
      T(spark, dir, "embeddings").where(col("vec_id") < 200),
      "embedding", "vec_id", threshold = 0.35)

  val qDedupEmbeddingSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 200)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35""".stripMargin

  /** The seeded hyperplane matrix as a DuckDB list-of-lists literal —
    * `Double.toString` emits the shortest decimal that round-trips, so
    * the oracle's strtod recovers bit-identical planes. Same
    * materialize-the-constants trick as the CRC-32 table and the
    * stopword profiles.
    */
  private def planesLiteral(dim: Int, nBits: Int, bands: Int, seed: Long): String =
    graft.functions.HyperplaneBuckets.planes(dim, nBits, bands, seed)
      .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** LSH-bucketed embedding near-dups on the corpus-ADAPTIVE bit
    * width ([[Dedup.adaptiveLshBits]] — occupancy stays ~16 as the
    * corpus grows, so candidate volume stays linear; a fixed width
    * measured 15× per decade at 100× data). The width is computed
    * once driver-side and recorded, so the oracle recomputes the
    * sign-bit buckets from the SAME materialized plane matrix with
    * `list_dot_product` — a full value oracle at any scale, not
    * rows-only.
    */
  def qDedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = T(spark, dir, "embeddings")
    val bits = Dedup.adaptiveLshBits(emb.count())
    embeddingLshBits = Some(bits)
    Dedup.embeddingDuplicatesLsh(emb, "embedding", "vec_id",
      threshold = 0.3, nBits = bits)
  }

  /** Bit width from the latest [[qDedupEmbeddingLsh]] plan build —
    * same warm-by-Verify contract as [[semanticCentroids]].
    */
  @volatile private var embeddingLshBits: Option[Int] = None

  private def qDedupEmbeddingLshSql(bits: Int): String =
    s"""WITH pl AS (SELECT ${planesLiteral(64, bits, 4, 42L)} AS p),
       |e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT id, v, band,
       |    CAST(list_sum(list_transform(generate_series(1, $bits),
       |      i -> CASE WHEN list_dot_product(v, p[band * $bits + i]) >= 0
       |           THEN 1 << (i - 1) ELSE 0 END)) AS INTEGER) AS bucket
       |  FROM e, pl, (SELECT unnest([0, 1, 2, 3]) AS band) g),
       |pairs AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b, a.v AS v_a, b2.v AS v_b
       |  FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket AND a.id < b2.id)
       |SELECT id_a, id_b, round(list_cosine_similarity(v_a, v_b), 6) AS cosine
       |FROM pairs WHERE round(list_cosine_similarity(v_a, v_b), 6) >= 0.3""".stripMargin

  /** SemDeDup-style semantic dedup: k-means clusters as the blocking
    * structure, exact cosine within clusters (`ops/Dedup.semanticDedup`).
    * Full value oracle via the materialized-constants trick: the fitted
    * centroids AND their squared norms are inlined into the SQL, and the
    * assignment re-derives NearestCells' argmax of `2·dot − ‖c‖²` with
    * the same lower-index tie-break (`list_position` returns the FIRST
    * index of the max).
    */
  def qDedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val emb = T(spark, dir, "embeddings")
    // k ≈ n / 250 keeps expected cluster width CONSTANT as the corpus
    // grows, so the within-cluster quadratic stays linear in n — the
    // paper's own scaling rule (fixed k measured 7.5× at 10× data;
    // scaled k is ~linear). The oracle adapts: it is generated from
    // whatever centroid matrix was fit.
    val nlist = math.max(8L, emb.count() / 250L).toInt
    val centroids = Similarity.fitCentroids(emb, nlist = nlist)
    semanticCentroids = Some(centroids)
    Dedup.semanticDedup(emb, "embedding", "vec_id", centroids, threshold = 0.3)
      .withColumn("cluster", col("cluster").cast("int"))
  }

  /** Centroids from the latest [[qDedupSemantic]] plan build — same
    * warm-by-Verify contract as [[pqTrainedCodebooks]]: fitting is
    * eager and driver-side, so a fit failure omits the oracle entry
    * (a later execution failure also surfaces as a missing result).
    */
  @volatile private var semanticCentroids: Option[Array[Array[Double]]] = None

  private def qDedupSemanticSql(cs: Array[Array[Double]]): String = {
    val k = cs.length
    val cLit = cs.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    // norms computed driver-side (sequential sum, same as NearestCells)
    val nLit = cs.map(c => c.map(x => x * x).sum).mkString("[", ",", "]")
    s"""WITH cb AS (SELECT $cLit AS c, $nLit AS ns),
       |e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT id, v, list_transform(generate_series(1, $k),
       |        j -> 2 * list_dot_product(v, c[j]) - ns[j]) AS sc
       |      FROM e, cb),
       |a AS (SELECT id, v, CAST(list_position(sc, list_max(sc)) - 1 AS INTEGER) AS cluster FROM s)
       |SELECT x.cluster, x.id AS id_a, y.id AS id_b,
       |  round(list_cosine_similarity(x.v, y.v), 6) AS cosine
       |FROM a x JOIN a y ON x.cluster = y.cluster AND x.id < y.id
       |WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.3""".stripMargin
  }

  /** IVF ANN with exhaustive probing (nprobe = nlist): the IVF
    * plumbing (centroid fit, cell assignment, probe-join) in its exact
    * mode, so the brute-force oracle applies verbatim.
    */
  def qSimilarityIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = T(spark, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8), k = 5, nlist = 8, nprobe = 8)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Incremental IVF maintenance: the cell-partitioned store is built
    * from the lower half of the corpus, the upper half APPENDED under
    * the frozen first-half centroids ([[Similarity.appendCellPartitioned]]
    * — the daily-ingest path: no re-fit, no rewrite, no read of the
    * existing store). Exhaustive probe (nprobe = nlist) over the grown
    * store ≡ brute force over the union, so the incremental build path
    * itself is what the full value oracle pins; partial-probe
    * equivalence with a one-shot store is spec-pinned.
    */
  def qSimilarityIvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val emb = T(spark, dir, "embeddings")
    val (path, centroids) = ivfIncrStore(spark, dir)
    Similarity.ivfTopKPartitioned(spark, path,
      emb.where(col("vec_id") < 8), k = 5, centroids, nprobe = 8)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Store build for [[qSimilarityIvfIncremental]]: same per-dir cache
    * + JVM-exit cleanup contract as [[ivfpqStore]], so bench reps and
    * Verify measure the probe path, not repeated store builds.
    */
  private def ivfIncrStore(spark: SparkSession, dir: String)
      : (String, Array[Array[Double]]) =
    ivfIncrStoreCache.synchronized {
      ivfIncrStoreCache.getOrElseUpdate(dir, {
        import org.apache.spark.sql.functions.{col => c}
        val emb = T(spark, dir, "embeddings")
        import spark.implicits._
        val split = emb.agg(max(c("vec_id"))).as[Long].head / 2
        val history = emb.where(c("vec_id") <= split)
        val batch = emb.where(c("vec_id") > split)
        // centroids frozen from HISTORY only — the honest incremental
        // scenario (the batch was not seen at fit time)
        val cs = Similarity.fitCentroids(history, nlist = 8)
        val base = java.nio.file.Files.createTempDirectory("graft_ivf_incr_q").toString
        sys.addShutdownHook {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
          }
          rm(new java.io.File(base))
        }
        Similarity.writeCellPartitioned(history, cs, base)
        Similarity.appendCellPartitioned(batch, cs, base)
        (base, cs)
      })
    }

  private val ivfIncrStoreCache =
    scala.collection.mutable.Map.empty[String, (String, Array[Array[Double]])]

  /** LSH ANN. Approximate vs brute force, but DETERMINISTIC given the
    * seed — the oracle rebuilds the single-band signature from the
    * materialized planes, probes the same bucket-plus-one-bit-flips
    * set, and ranks identically: a full value oracle.
    */
  def qSimilarityLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = T(spark, dir, "embeddings")
    Similarity.lshTopK(emb, emb.where(col("vec_id") < 8), k = 5, dim = 64)
      .withColumn("rank", col("rank").cast("long"))
  }

  val qSimilarityLshSql: String =
    s"""WITH pl AS (SELECT ${planesLiteral(64, 8, 1, 42L)} AS p),
       |e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sig AS (SELECT id, v,
       |    CAST(list_sum(list_transform(generate_series(1, 8),
       |      i -> CASE WHEN list_dot_product(v, p[i]) >= 0
       |           THEN 1 << (i - 1) ELSE 0 END)) AS INTEGER) AS bucket
       |  FROM e, pl),
       |q AS (SELECT id AS query_id, v AS qv, CAST(xor(bucket, m) AS INTEGER) AS bucket
       |      FROM sig, (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m) u
       |      WHERE id < 8),
       |s AS (SELECT DISTINCT q.query_id, c.id AS neighbor_id,
       |        round(list_cosine_similarity(q.qv, c.v), 6) AS sim_r
       |      FROM q JOIN sig c ON q.bucket = c.bucket AND c.id <> q.query_id),
       |r AS (SELECT query_id, neighbor_id, sim_r,
       |        row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id) AS rank
       |      FROM s)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim_r
       |FROM r WHERE rank <= 5""".stripMargin

  /** Product-quantization ANN: train M=8/K=16 codebooks, encode the
    * corpus to 8 codes/vector, search via asymmetric distance — the
    * compressed-storage scale path. Full value oracle: training is
    * deterministic within a run, so the trained codebooks are cached
    * here and MATERIALIZED into the DuckDB SQL as a literal (the same
    * constants trick as the hyperplane and CRC-32 oracles) — the oracle
    * re-derives normalize → encode (first-min argmin, matching
    * PqEncode's strict `<`) → ADC scoring → top-k from first principles.
    */
  def qSimilarityPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = fan(T(spark, dir, "embeddings")) // PQ train/encode per row
    val codebooks = Similarity.pqTrain(emb, m = 8, ksub = 16)
    pqTrainedCodebooks = Some(codebooks)
    val encoded = Similarity.pqEncode(emb, codebooks)
    Similarity.pqTopK(encoded, emb.where(col("vec_id") < 8), k = 5, codebooks)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** IVF-PQ composed: the corpus is STORED as PQ codes partitioned by
    * IVF cell, searched via asymmetric distance over probed cells. Run
    * here with exhaustive probing (nprobe = nlist), so the candidate
    * set is the whole corpus and the PQ value oracle applies verbatim —
    * the query proves the composed store/probe/ADC plumbing; the
    * nprobe ≪ nlist recall and partition-pruning properties are pinned
    * by `SimilarityIvfSpec`.
    */
  def qSimilarityIvfpq(spark: SparkSession, dir: String): DataFrame = {
    val emb = T(spark, dir, "embeddings")
    // Training and the store write are deterministic per dataset dir —
    // cache the written store so repeated invocations (the bench's
    // timed reps, Verify) measure the PROBE path instead of rebuilding
    // and leaking a fresh temp store each call.
    val (path, _, centroids, codebooks) = ivfpqStore(spark, dir)
    ivfpqTrainedCodebooks = Some(codebooks)
    Similarity.ivfpqTopK(spark, path, emb.where(col("vec_id") < 8), k = 5,
      centroids, codebooks, nprobe = 8)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** IVF-PQ + exact re-ranking. Exhaustive probe (nprobe = nlist) with
    * `rerank` covering the whole corpus makes stage 2 an exact cosine
    * over every vector — the result IS brute-force top-k and the
    * [[qSimilarityTopkSql]] oracle applies verbatim, proving the whole
    * candidates→raw-store→rescore join plumbing end to end. The
    * USEFUL configuration (nprobe ≪ nlist, c = 4k candidates, recall
    * ≥ 0.98 where plain ADC pins ≥ 0.9) is pinned by
    * `SimilarityIvfSpec` — recall is data-dependent, so the partial
    * probe belongs to the spec, the plumbing to the oracle.
    */
  def qSimilarityIvfpqRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = T(spark, dir, "embeddings")
    val (path, rawPath, centroids, codebooks) = ivfpqStore(spark, dir)
    val n = emb.count().toInt
    Similarity.ivfpqRerankTopK(spark, path, rawPath,
      emb.where(col("vec_id") < 8), k = 5, centroids, codebooks,
      nprobe = 8, rerank = n)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Deterministic per-dataset IVF-PQ store pair: PQ codes AND raw
    * vectors in the same cell layout (same centroids → same
    * directories), built once per JVM per dir so bench reps and Verify
    * measure the PROBE path, deleted on JVM exit.
    */
  private def ivfpqStore(spark: SparkSession, dir: String)
      : (String, String, Array[Array[Double]], Array[Array[Array[Double]]]) =
    ivfpqStoreCache.synchronized {
      ivfpqStoreCache.getOrElseUpdate(dir, {
        val emb = T(spark, dir, "embeddings")
        val cs = Similarity.fitCentroids(emb, nlist = 8)
        val cb = Similarity.pqTrain(emb, m = 8, ksub = 16)
        // two SIBLING stores (a raw/ subdir would break the pq store's
        // partition discovery): codes under codes/, raw floats under raw/
        val base = java.nio.file.Files.createTempDirectory("graft_ivfpq_q").toString
        // the per-dir cache stops per-call leaks; this stops the
        // per-JVM one — the store is disposable plan input, delete on exit
        sys.addShutdownHook {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
          }
          rm(new java.io.File(base))
        }
        Similarity.writeCellPartitionedPq(emb, cs, cb, s"$base/codes")
        Similarity.writeCellPartitioned(emb, cs, s"$base/raw")
        (s"$base/codes", s"$base/raw", cs, cb)
      })
    }

  private val ivfpqStoreCache =
    scala.collection.mutable.Map.empty[String,
      (String, String, Array[Array[Double]], Array[Array[Array[Double]]])]

  /** Same warm-by-Verify contract as [[pqTrainedCodebooks]]. */
  @volatile private var ivfpqTrainedCodebooks: Option[Array[Array[Array[Double]]]] = None

  /** Codebooks from the latest [[qSimilarityPq]] plan build. Verify
    * builds every query BEFORE dumping oracle_sql.json, so the cache is
    * warm by dump time. The cache is set right after TRAINING (eager,
    * driver-side) — if training throws, the entry is omitted; if the
    * lazy encode/top-k execution fails later at write time, the entry
    * is still emitted, which is harmless: the driver also sees the
    * missing result parquet and records the failure.
    */
  @volatile private var pqTrainedCodebooks: Option[Array[Array[Array[Double]]]] = None

  /** The PQ oracle: codebooks as a DuckDB list-of-list-of-lists literal
    * (`Double.toString` round-trips bit-exactly through strtod), then
    * the full PQ pipeline in SQL. `list_position(d, list_min(d))`
    * returns the FIRST index of the minimum — the same lower-index
    * tie-break as PqEncode's strict `<` update.
    */
  private def qSimilarityPqSql(cb: Array[Array[Array[Double]]]): String = {
    val m = cb.length          // 8 subspaces
    val dsub = cb(0)(0).length // 8 dims each
    val lit = cb.map(_.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    s"""WITH cb AS (SELECT $lit AS c),
       |e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS raw FROM embeddings),
       |n0 AS (SELECT id, raw, sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm FROM e),
       |n AS (SELECT id, CASE WHEN nrm = 0 THEN raw
       |         ELSE list_transform(raw, x -> x / nrm) END AS v FROM n0),
       |enc AS (SELECT id, v, list_transform(generate_series(1, $m), sp ->
       |    list_position(
       |      list_transform(c[sp], ct -> list_sum(list_transform(generate_series(1, $dsub),
       |        i -> (coalesce(v[(sp - 1) * $dsub + i], 0.0) - ct[i]) * (coalesce(v[(sp - 1) * $dsub + i], 0.0) - ct[i])))),
       |      list_min(
       |      list_transform(c[sp], ct -> list_sum(list_transform(generate_series(1, $dsub),
       |        i -> (coalesce(v[(sp - 1) * $dsub + i], 0.0) - ct[i]) * (coalesce(v[(sp - 1) * $dsub + i], 0.0) - ct[i])))))))
       |  AS codes FROM n, cb),
       |q AS (SELECT id AS query_id, v AS qv FROM n WHERE id < 8),
       |s AS (SELECT q.query_id, t.id AS neighbor_id,
       |    round(list_sum(list_transform(generate_series(1, $m), sp ->
       |      list_sum(list_transform(generate_series(1, $dsub),
       |        i -> coalesce(q.qv[(sp - 1) * $dsub + i], 0.0) * c[sp][t.codes[sp]][i])))), 6) AS sim_r
       |  FROM q, enc t, cb WHERE t.id <> q.query_id),
       |r AS (SELECT query_id, neighbor_id, sim_r,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim_r
       |FROM r WHERE rank <= 5""".stripMargin
  }

  def qFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMedia(T(spark, dir, "documents"))
    Multimodal.frameSample(media, n = 4, frameBytes = 16)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        decode(col("frame_bytes"), "UTF-8").as("frame_text"))
  }

  val qFrameSampleSql: String =
    """WITH m AS (SELECT doc_id AS media_id, text,
      |             greatest(length(text) // 4, 1) AS step FROM documents),
      |f AS (SELECT media_id, i AS frame_idx, substring(text, CAST(i * step + 1 AS INTEGER), 16) AS frame_text
      |      FROM m, generate_series(0, 3) AS g(i))
      |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx, frame_text
      |FROM f WHERE frame_text <> ''""".stripMargin

  /** Greedy sequence packing of documents into 512-token training bins
    * (shard-parallel, deterministic) — oracle re-derives the greedy
    * walk with a recursive CTE.
    */
  def qSeqPacking(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.packGreedy(
      T(spark, dir, "documents"), budget = 512, shardSize = 1000)

  val qSeqPackingSql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, doc_id // 1000 AS shard,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) END AS n
      |  FROM documents),
      |ordered AS (SELECT doc_id, shard, n,
      |  row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM toks),
      |pack AS (
      |  SELECT doc_id, shard, rn, n, CAST(0 AS BIGINT) AS bin, n AS used
      |  FROM ordered WHERE rn = 1
      |  UNION ALL
      |  SELECT o.doc_id, o.shard, o.rn, o.n,
      |    CASE WHEN p.used + o.n > 512 THEN p.bin + 1 ELSE p.bin END,
      |    CASE WHEN p.used + o.n > 512 THEN o.n ELSE p.used + o.n END
      |  FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1)
      |SELECT doc_id AS id, shard, bin, CAST(n AS BIGINT) AS n_tokens FROM pack""".stripMargin

  /** Gap-based sessionization of the events stream (30-minute gap). */
  def qSessionize(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(T(spark, dir, "events"))

  val qSessionizeSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |x AS (SELECT user_id, us,
      |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
      |                  OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
      |             THEN 1 ELSE 0 END AS is_new,
      |        event_id FROM e),
      |s AS (SELECT user_id, us,
      |        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM x)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(us) AS start_us, max(us) AS end_us, max(us) - min(us) AS duration_us
      |FROM s GROUP BY 1, 2""".stripMargin

  /** Salted two-phase aggregation: identical result to a plain
    * group-by (which is exactly what the oracle computes) with the hot
    * key spread over 16 reducers first.
    */
  def qSkewSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedCount(T(spark, dir, "events"), "event_type", "event_id")

  val qSkewSaltedAggSql: String =
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"

  /** Exact distinct-user cardinality per event type. */
  def qDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    T(spark, dir, "events").groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  val qDistinctUsersSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin

  // ------------------------------------------------------ analytics

  def qAggPricing(spark: SparkSession, dir: String): DataFrame = {
    val li = T(spark, dir, "lineitem")
      .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1996-12-01 00:00:00")))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", round(col("sum_qty") / col("count_order"), 6))
  }

  val qAggPricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
      | count(*) AS count_order,
      | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1996-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  def qJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = T(spark, dir, "orders")
    val c = T(spark, dir, "customer")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  val qJoinRevenueSql: String =
    """SELECT c_mktsegment,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      | count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  def qTopkOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    T(spark, dir, "orders")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("o_custkey"), col("rank").cast("long").as("rank"),
        col("o_orderkey"), col("o_totalprice"))
  }

  val qTopkOrdersSql: String =
    """SELECT o_custkey, CAST(rank AS BIGINT) AS rank, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders) WHERE rank <= 3""".stripMargin

  /** Full CDC pipeline (parse → filter → partition → marshal) over the
    * events wire lines: the production [[CdcPipeline.transform]], with
    * the source's txn/timeBasedKey/walStart stamps and the sinks'
    * `json IS NOT NULL` filter. The oracle rebuilds the ENTIRE output
    * JSON envelope byte-for-byte in SQL (fixed time fallback, `%X/%X`
    * LSN via to_hex, merged columns map in source order, Jackson-style
    * escaping of the props payload), so the whole
    * parse→filter→key→marshal chain is hash-checked, on top of the
    * reference-golden unit tests.
    */
  def qCdcPipeline(spark: SparkSession, dir: String): DataFrame = {
    val lines = eventLines(spark, dir).select(
      col("line"),
      col("user_id").cast("string").as("txn"),
      concat(col("user_id").cast("string"), lit("-0")).as("timeBasedKey"),
      col("event_id").as("walStart"))
    val cfg = CdcConfig(filterTables = Seq("^public\\.error$"), regexFilter = true,
      partitionMethod = Partitioner.TableName)
    CdcPipeline.transform(lines, cfg)
      .where(col("json").isNotNull)
      .select(col("walStart"), col("operation"), col("table").as("relation"),
        col("partitionKey"), col("json"))
  }

  val qCdcPipelineSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, printf('%.2f', value) AS val,
      |    replace(replace(props, '\', '\\'), '"', '\"') AS props_esc
      |  FROM events WHERE event_type <> 'error'
      |)
      |SELECT event_id AS walStart, 'INSERT' AS operation,
      |  'public.' || event_type AS relation,
      |  'public.' || event_type AS partitionKey,
      |  '{"time":"1970-01-01T00:00:01Z","time_ms":0,"txn":"' || user_id || '-0","lsn":"' ||
      |    upper(to_hex(event_id >> 32)) || '/' || upper(to_hex(event_id & 4294967295)) ||
      |    '","table":"public.' || event_type || '","operation":"INSERT","columns":{' ||
      |    '"event_id":{"new":{"v":"' || event_id || '","t":"bigint","q":"false"}},' ||
      |    '"user_id":{"new":{"v":"' || user_id || '","t":"bigint","q":"false"}},' ||
      |    '"event_type":{"new":{"v":"' || event_type || '","t":"text","q":"true"}},' ||
      |    '"value":{"new":{"v":"' || val || '","t":"double precision","q":"true"}},' ||
      |    '"props":{"new":{"v":"' || props_esc || '","t":"jsonb","q":"true"}}}}' AS json
      |FROM e""".stripMargin

  /** Benchmark decontamination: documents with `doc_id % 50 == 0` play
    * the eval set; every other document sharing a word 4-gram with it
    * is reported with its distinct shared-gram count. The oracle
    * re-derives the same n-grams with DuckDB list slicing and joins on
    * gram CONTENT (the Spark side joins on xxhash64 of the gram — the
    * distinct-match counts are identical).
    */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    Curation.contaminationReport(
      docs.where(pmod(col("doc_id"), lit(50)) =!= 0),
      docs.where(pmod(col("doc_id"), lit(50)) === 0),
      "text", "doc_id", n = 4)
  }

  val qDecontaminateSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []
      |         ELSE string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+') END AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(t) <= 4 THEN [array_to_string(t, ' ')]
      |         ELSE list_transform(generate_series(1, len(t) - 3),
      |                i -> array_to_string(t[i:i+3], ' ')) END) AS g
      |  FROM toks),
      |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
      |tr AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 50 != 0)
      |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS matched_ngrams
      |FROM tr JOIN ev USING (g) GROUP BY tr.doc_id""".stripMargin

  /** Per-source corpus card: volumes, exact-dup rate, mean length and
    * quality; the quality mean sums DECIMAL so it is order-independent
    * across engines and partitionings.
    */
  def qCorpusReport(spark: SparkSession, dir: String): DataFrame =
    Curation.corpusReport(T(spark, dir, "documents"), "text", "doc_id", "source")

  val qCorpusReportSql: String =
    """WITH x AS (
      |  SELECT doc_id, source,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) END AS n_tok,
      |    md5(regexp_replace(lower(trim(text)), '[ \t\n\v\f\r]+', ' ', 'g')) AS fp,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS punct,
      |    CASE WHEN length(trim(text)) = 0 THEN 0.0
      |         ELSE CAST(list_sum(list_transform(string_split_regex(trim(text), '[ \t\n\v\f\r]+'), t -> length(t))) AS DOUBLE)
      |              / len(string_split_regex(trim(text), '[ \t\n\v\f\r]+')) END AS mtl
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, source, n_tok, fp, CAST(round(
      |    CAST((CASE WHEN n_tok >= 10 AND n_tok <= 5000 THEN 1.0 WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END) * 0.4
      |    + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.3 END) * 0.3
      |    + (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.4 END) * 0.3 AS DOUBLE), 4) AS DECIMAL(18,4)) AS quality
      |  FROM x)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
      |  round(CAST(1 AS DOUBLE) - CAST(count(DISTINCT fp) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
      |  round(CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_doc_tokens,
      |  round(CAST(sum(quality) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_quality
      |FROM q GROUP BY source""".stripMargin

  /** Deterministic epoch shuffle: every doc ranked by md5(seed:key) —
    * reproducible training order; rank assigned by a distributed
    * range-partitioned sort + zipWithIndex, never a global window.
    */
  def qShuffleRank(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.shuffleRank(
      T(spark, dir, "documents").select("doc_id"), "doc_id", seed = 7L)

  val qShuffleRankSql: String =
    """SELECT doc_id,
      |  CAST(row_number() OVER (
      |    ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS shuffle_rank
      |FROM documents""".stripMargin

  /** Fuzzy (near-duplicate) contamination: exact shingle-set Jaccard
    * between every train/eval pair sharing a shingle — the intersection
    * count falls out of the broadcast inverted-index aggregation, no
    * join-back. Oracle: brute-force list_intersect over the same
    * distinct shingle sets.
    */
  def qDecontaminateFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    Curation.fuzzyContamination(
      docs.where(pmod(col("doc_id"), lit(50)) =!= 0),
      docs.where(pmod(col("doc_id"), lit(50)) === 0),
      "text", "doc_id", shingleSize = 3, threshold = 0.2)
  }

  val qDecontaminateFuzzySql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []
      |         ELSE string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+') END AS t
      |  FROM documents),
      |shd AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
      |         ELSE list_transform(generate_series(1, len(t) - 2),
      |                i -> array_to_string(t[i:i+2], ' ')) END) AS shingles
      |  FROM toks),
      |tr AS (SELECT * FROM shd WHERE doc_id % 50 != 0),
      |ev AS (SELECT * FROM shd WHERE doc_id % 50 = 0),
      |j AS (SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
      |        CAST(len(list_intersect(tr.shingles, ev.shingles)) AS BIGINT) AS shared,
      |        round(CAST(len(list_intersect(tr.shingles, ev.shingles)) AS DOUBLE)
      |              / (len(tr.shingles) + len(ev.shingles)
      |                 - len(list_intersect(tr.shingles, ev.shingles))), 6) AS jaccard
      |      FROM tr, ev)
      |SELECT train_id, eval_id, shared, jaccard FROM j WHERE jaccard >= 0.2""".stripMargin

  /** Incremental ingest dedup: docs with `doc_id % 10 = 0` stand in
    * for the already-ingested corpus (represented ONLY by their
    * fingerprint index); the rest are the new batch, deduped against
    * the index and then within themselves.
    */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    val known = Dedup.exactGroups(
      docs.where(pmod(col("doc_id"), lit(10)) === 0), "text", "doc_id")
    Dedup.incrementalExactDedup(
      docs.where(pmod(col("doc_id"), lit(10)) =!= 0).select("doc_id", "text"),
      known, "text", "doc_id")
      .select("doc_id")
  }

  val qDedupIncrementalSql: String =
    """WITH fp AS (
      |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '[ \t\n\v\f\r]+', ' ', 'g')) AS f
      |  FROM documents),
      |known AS (SELECT DISTINCT f FROM fp WHERE doc_id % 10 = 0),
      |fresh AS (SELECT * FROM fp WHERE doc_id % 10 != 0
      |          AND f NOT IN (SELECT f FROM known)),
      |w AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS k FROM fresh)
      |SELECT doc_id FROM w WHERE doc_id = k""".stripMargin

  /** [[qDedupIncremental]] through the Bloom-pre-filtered plan: the
    * fingerprint index folds into a compact Bloom filter, definitely-
    * new rows bypass the anti-join, only the maybe-sliver shuffles.
    * No false negatives ⇒ same result as the plain anti-join — one
    * oracle, two physical forms (the q_asof_snapshot pattern).
    */
  def qDedupIncrementalBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = T(spark, dir, "documents")
    val known = Dedup.exactGroups(
      docs.where(pmod(col("doc_id"), lit(10)) === 0), "text", "doc_id")
    Dedup.incrementalExactDedupBloom(
      docs.where(pmod(col("doc_id"), lit(10)) =!= 0).select("doc_id", "text"),
      known, expectedItems = 100000, fpp = 0.01, "text", "doc_id")
      .select("doc_id")
  }

  /** Gopher-style repetition metrics, zero-shuffle per-row (sorted
    * run-length analysis). The oracle recomputes each document's gram
    * frequencies with quadratic list ops — fine at oracle scale.
    */
  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    Curation.repetitionReport(fan(T(spark, dir, "documents")), "text", "doc_id", Seq(2, 3))

  val qRepetitionSql: String = {
    def gramsFor(n: Int) =
      s"""CASE WHEN len(t) <= $n THEN [array_to_string(t, ' ')]
         |     ELSE list_transform(generate_series(1, len(t) - ${n - 1}),
         |            i -> array_to_string(t[i:i+${n - 1}], ' ')) END""".stripMargin
    def statsFor(n: Int) =
      s"""round(CAST(list_max(c$n) AS DOUBLE) / len(g$n), 6) AS top${n}_frac,
         |  round(CAST(list_sum(list_transform(c$n, c -> CASE WHEN c >= 2 THEN c ELSE 0 END)) AS DOUBLE) / len(g$n), 6) AS dup${n}_frac""".stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN []
       |         ELSE string_split_regex(trim(lower(text)), '[ \\t\\n\\v\\f\\r]+') END AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, t, ${gramsFor(2)} AS g2, ${gramsFor(3)} AS g3 FROM toks),
       |c AS (
       |  SELECT doc_id, t, g2, g3,
       |    list_transform(list_distinct(g2), d -> len(list_filter(g2, x -> x = d))) AS c2,
       |    list_transform(list_distinct(g3), d -> len(list_filter(g3, x -> x = d))) AS c3
       |  FROM g)
       |SELECT doc_id,
       |  CASE WHEN len(t) = 0 THEN 0.0
       |       ELSE round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) END AS distinct_token_ratio,
       |  ${statsFor(2)},
       |  ${statsFor(3)}
       |FROM c""".stripMargin
  }

  /** PII redaction over constructed support notes (the synthetic corpus
    * carries no PII, so emails/IPs/phones are derived deterministically
    * from customer keys IN the query — identically in both engines);
    * every third/fifth/seventh row omits a category for negatives.
    */
  def qPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val note = concat(
      lit("contact "), col("c_mktsegment"),
      when(pmod(col("c_custkey"), lit(3)) =!= 0,
        concat(lit(" <user"), col("c_custkey"), lit("@example.com>"))).otherwise(lit("")),
      when(pmod(col("c_custkey"), lit(7)) =!= 0,
        concat(lit(" from 10."), pmod(col("c_custkey"), lit(200)), lit("."),
          col("c_nationkey"), lit("."), pmod(col("c_custkey"), lit(250)))).otherwise(lit("")),
      when(pmod(col("c_custkey"), lit(5)) =!= 0,
        concat(lit(" tel +1-555-"),
          lpad(pmod(col("c_custkey"), lit(10000)).cast("string"), 4, "0"))).otherwise(lit("")))
    Curation.redactPii(
      fan(T(spark, dir, "customer")).select(col("c_custkey"), note.as("note")), "note")
      .select(col("c_custkey"), col("redacted"),
        col("n_email"), col("n_ipv4"), col("n_phone"))
  }

  val qPiiRedactSql: String =
    """WITH base AS (
      |  SELECT c_custkey,
      |    'contact ' || c_mktsegment
      |    || CASE WHEN c_custkey % 3 != 0
      |            THEN ' <user' || c_custkey || '@example.com>' ELSE '' END
      |    || CASE WHEN c_custkey % 7 != 0
      |            THEN ' from 10.' || (c_custkey % 200) || '.' || c_nationkey || '.' || (c_custkey % 250) ELSE '' END
      |    || CASE WHEN c_custkey % 5 != 0
      |            THEN ' tel +1-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ELSE '' END AS note
      |  FROM customer),
      |s1 AS (SELECT c_custkey,
      |    CAST(len(regexp_extract_all(note, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
      |    regexp_replace(note, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS r
      |  FROM base),
      |s2 AS (SELECT c_custkey, n_email,
      |    CAST(len(regexp_extract_all(r, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
      |    regexp_replace(r, '\b(\d{1,3}\.){3}\d{1,3}\b', '<IPV4>', 'g') AS r
      |  FROM s1),
      |s3 AS (SELECT c_custkey, n_email, n_ipv4,
      |    CAST(len(regexp_extract_all(r, '\+?\d[\d-]{6,}\d')) AS BIGINT) AS n_phone,
      |    regexp_replace(r, '\+?\d[\d-]{6,}\d', '<PHONE>', 'g') AS redacted
      |  FROM s2)
      |SELECT c_custkey, redacted, n_email, n_ipv4, n_phone FROM s3""".stripMargin

  /** Domain-mixture downsampling: resample `documents` to a 50/25/
    * 12.5/12.5 mix over four sources (the rest dropped), keep rates
    * derived in-plan from the observed counts. The oracle re-derives
    * the same ppm thresholds from SQL aggregates and replays the md5
    * keep predicate.
    */
  private val domainMixWeights =
    Seq("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125, "src3" -> 0.125)

  def qSampleDomainMix(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.domainMix(
      T(spark, dir, "documents").select("doc_id", "source"),
      strataCol = "source", keyCol = "doc_id",
      weights = domainMixWeights.toMap)

  val qSampleDomainMixSql: String = {
    val wCase = domainMixWeights
      .map { case (s, w) => s"WHEN '$s' THEN CAST($w AS DOUBLE)" }
      .mkString("CASE source ", " ", " ELSE NULL END")
    """WITH n AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |w AS (SELECT source, n, WCASE AS w FROM n),
      |s AS (SELECT min(n / w) AS scale FROM w WHERE w IS NOT NULL),
      |r AS (SELECT source, least(1000000, CAST(floor(scale * w / n * 1000000) AS BIGINT)) AS ppm
      |      FROM w, s WHERE w IS NOT NULL)
      |SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
      |WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) % 1000000 AS BIGINT) < ppm""".stripMargin
      .replace("WCASE", wCase)
  }

  /** Temperature-flattened mixture at alpha = 0.5 (q_i ∝ p_i^0.5, the
    * multilingual-LM resampling rule): weights derive from the data
    * itself, so the oracle recomputes counts → pow → binding scale →
    * ppm thresholds → md5 keep rule from first principles — same
    * construction as the domain-mix oracle with the CASE weight map
    * replaced by an in-query pow.
    */
  def qSampleTemperature(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.temperatureMix(
      T(spark, dir, "documents").select(col("doc_id"),
        // the fixture's sources are uniform (identity under any alpha);
        // derive a 70/20/10 head/mid/tail skew so the flattening rule
        // actually downsamples — same CASE in the oracle
        when(col("doc_id") % 10 < 7, "head")
          .when(col("doc_id") % 10 < 9, "mid")
          .otherwise("tail").as("source")),
      strataCol = "source", keyCol = "doc_id", alpha = 0.5)

  val qSampleTemperatureSql: String =
    """WITH d0 AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 < 7 THEN 'head'
      |         WHEN doc_id % 10 < 9 THEN 'mid' ELSE 'tail' END AS source
      |  FROM documents),
      |n AS (SELECT source, count(*) AS n FROM d0 GROUP BY source),
      |t AS (SELECT sum(n) AS total FROM n),
      |w AS (SELECT source, n, pow(CAST(n AS DOUBLE) / total, 0.5) AS w FROM n, t),
      |s AS (SELECT min(n / w) AS scale FROM w),
      |r AS (SELECT source, least(1000000, CAST(floor(scale * w / n * 1000000) AS BIGINT)) AS ppm
      |      FROM w, s)
      |SELECT d.doc_id, d.source FROM d0 d JOIN r USING (source)
      |WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) % 1000000 AS BIGINT) < ppm""".stripMargin

  /** Per-document top-5 TF-IDF keywords; scores rounded to 6 places
    * BEFORE ranking (token tie-break) so the ranking survives
    * last-ulp `ln` differences between engines.
    */
  def qTfidfTopk(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopK(T(spark, dir, "documents"), "text", "doc_id", k = 5)

  val qTfidfTopkSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN []
      |         ELSE string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+') END AS t
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
      |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
      |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, token, tf, df,
      |    round(tf * ln((n_docs + CAST(1.0 AS DOUBLE)) / (df + CAST(1.0 AS DOUBLE))), 6) AS tfidf
      |  FROM tf JOIN dfq USING (token), n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
      |      FROM scored)
      |SELECT doc_id, token, tf, df, tfidf, CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= 5""".stripMargin

  /** Composed quality gate with drop-reason audit; thresholds chosen
    * to split the synthetic corpus (tokens 10–99, distinct ratios
    * 0.28–1.0, dup2 0–0.27 at sf0.01) into a keep/drop mix.
    */
  def qQualityGate(spark: SparkSession, dir: String): DataFrame =
    Curation.qualityGate(fan(T(spark, dir, "documents")), "text", "doc_id",
      minTokens = 20, maxTokens = 5000,
      minDistinctRatio = 0.45, maxDup2Frac = 0.12)

  val qQualityGateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN []
      |         ELSE string_split_regex(trim(lower(text)), '[ \t\n\v\f\r]+') END AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, text, t,
      |    CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
      |         ELSE list_transform(generate_series(1, len(t) - 1),
      |                i -> array_to_string(t[i:i+1], ' ')) END AS g2
      |  FROM toks),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(t) AS BIGINT) AS token_cnt,
      |    CASE WHEN len(t) = 0 THEN 0.0
      |         ELSE round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) END AS distinct_token_ratio,
      |    round(CAST(list_sum(list_transform(
      |            list_transform(list_distinct(g2), d -> len(list_filter(g2, x -> x = d))),
      |            c -> CASE WHEN c >= 2 THEN c ELSE 0 END)) AS DOUBLE) / len(g2), 6) AS dup2_frac,
      |    CASE WHEN len(t) = 0 THEN 0.0
      |         ELSE round(CAST(length(regexp_replace(trim(text), '[ \t\n\v\f\r]+', ' ', 'g')) - len(t) + 1 AS DOUBLE) / len(t), 6) END AS mean_token_len,
      |    CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE round(CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / length(text), 6) END AS punct_ratio
      |  FROM g),
      |f AS (
      |  SELECT *, concat_ws(',',
      |      CASE WHEN token_cnt < 20 THEN 'too_short' END,
      |      CASE WHEN token_cnt > 5000 THEN 'too_long' END,
      |      CASE WHEN distinct_token_ratio < 0.45 THEN 'low_diversity' END,
      |      CASE WHEN dup2_frac > 0.12 THEN 'repetitive' END,
      |      CASE WHEN mean_token_len NOT BETWEEN 2.0 AND 12.0 THEN 'word_shape' END,
      |      CASE WHEN punct_ratio > 0.2 THEN 'high_punct' END) AS failed_rules
      |  FROM m)
      |SELECT doc_id, token_cnt, distinct_token_ratio, dup2_frac, mean_token_len,
      |  punct_ratio, failed_rules, failed_rules = '' AS keep
      |FROM f""".stripMargin

  // ------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_parse_roundtrip" -> qParseRoundtrip _,
    "q_filter_whitelist" -> qFilterWhitelist _,
    "q_filter_regex_blacklist" -> qFilterRegexBlacklist _,
    "q_partition_keys" -> qPartitionKeys _,
    "q_partition_bucket_md5" -> qPartitionBucketMd5 _,
    "q_partition_bucket_crc32" -> qPartitionBucketCrc32 _,
    "q_marshal_update" -> qMarshalUpdate _,
    "q_marshal_delete" -> qMarshalDelete _,
    "q_txn_counts" -> qTxnCounts _,
    "q_contiguous_ack" -> qContiguousAck _,
    "q_stats_window" -> qStatsWindow _,
    "q_route_workers" -> qRouteWorkers _,
    "q_chunk_sizes" -> qChunkSizes _,
    "q_dedup_exact" -> qDedupExact _,
    "q_dedup_lines" -> qDedupLines _,
    "q_fingerprint_winnow" -> qFingerprintWinnow _,
    "q_token_stats" -> qTokenStats _,
    "q_bpe_pairs" -> qBpePairs _,
    "q_bpe_learn" -> qBpeLearn _,
    "q_bpe_encode" -> qBpeEncode _,
    "q_budget_select_bpe" -> qBudgetSelectBpe _,
    "q_text_quality" -> qTextQuality _,
    "q_lang_id" -> qLangId _,
    "q_dedup_ngram" -> qDedupNgram _,
    "q_dedup_clusters" -> qDedupClusters _,
    "q_dedup_clusters_incremental" -> qDedupClustersIncremental _,
    "q_sample_stratified" -> qSampleStratified _,
    "q_budget_select" -> qBudgetSelect _,
    "q_sample_domain_mix" -> qSampleDomainMix _,
    "q_sample_temperature" -> qSampleTemperature _,
    "q_tfidf_topk" -> qTfidfTopk _,
    "q_quality_gate" -> qQualityGate _,
    "q_decontaminate" -> qDecontaminate _,
    "q_decontaminate_fuzzy" -> qDecontaminateFuzzy _,
    "q_corpus_report" -> qCorpusReport _,
    "q_shuffle_rank" -> qShuffleRank _,
    "q_dedup_incremental" -> qDedupIncremental _,
    "q_dedup_incremental_bloom" -> qDedupIncrementalBloom _,
    "q_repetition" -> qRepetition _,
    "q_pii_redact" -> qPiiRedact _,
    "q_dedup_minhash" -> qDedupMinhash _,
    "q_dedup_incremental_near" -> qDedupIncrementalNear _,
    "q_dedup_simhash" -> qDedupSimhash _,
    "q_dedup_image_phash" -> qDedupImagePhash _,
    "q_dedup_audio_fp" -> qDedupAudioFp _,
    "q_dedup_audio_fp_aiff" -> qDedupAudioFpAiff _,
    "q_dedup_video_frames" -> qDedupVideoFrames _,
    "q_dedup_streaming_media" -> qDedupStreamingMedia _,
    "q_dedup_streaming_lines" -> qDedupStreamingLines _,
    "q_dedup_streaming_video" -> qDedupStreamingVideo _,
    "q_similarity_topk" -> qSimilarityTopk _,
    "q_similarity_ivf" -> qSimilarityIvf _,
    "q_similarity_ivf_incremental" -> qSimilarityIvfIncremental _,
    "q_dedup_embedding" -> qDedupEmbedding _,
    "q_dedup_embedding_lsh" -> qDedupEmbeddingLsh _,
    "q_dedup_semantic" -> qDedupSemantic _,
    "q_dedup_spans" -> qDedupSpans _,
    "q_dedup_spans_self" -> qDedupSpansSelf _,
    "q_dedup_span_drop" -> qDedupSpanDrop _,
    "q_dedup_span_drop_raw" -> qDedupSpanDropRaw _,
    "q_text_typicality" -> qTextTypicality _,
    "q_asof_orders" -> qAsofOrders _,
    "q_asof_tolerance" -> qAsofTolerance _,
    "q_asof_forward" -> qAsofForward _,
    "q_asof_snapshot" -> qAsofSnapshot _,
    "q_range_attribution" -> qRangeAttribution _,
    "q_leakage_split" -> qLeakageSplit _,
    "q_curation_pipeline" -> qCurationPipeline _,
    "q_typicality_xcorpus" -> qTypicalityXcorpus _,
    "q_typicality_buckets" -> qTypicalityBuckets _,
    "q_similarity_lsh" -> qSimilarityLsh _,
    "q_similarity_pq" -> qSimilarityPq _,
    "q_similarity_ivfpq" -> qSimilarityIvfpq _,
    "q_similarity_ivfpq_rerank" -> qSimilarityIvfpqRerank _,
    "q_frame_sample" -> qFrameSample _,
    "q_seq_packing" -> qSeqPacking _,
    "q_sessionize" -> qSessionize _,
    "q_skew_salted_agg" -> qSkewSaltedAgg _,
    "q_distinct_users" -> qDistinctUsers _,
    "q_agg_pricing" -> qAggPricing _,
    "q_join_revenue" -> qJoinRevenue _,
    "q_topk_orders" -> qTopkOrders _,
    "q_cdc_pipeline" -> qCdcPipeline _)

  /** `def`, not `val`: the PQ entry is built from codebooks cached by
    * the query run (Verify runs queries first, then dumps this map).
    */
  def oracleSql: Map[String, String] =
    staticOracleSql ++
      pqTrainedCodebooks.map(cb => "q_similarity_pq" -> qSimilarityPqSql(cb)) ++
      // exhaustive-probe IVF-PQ ≡ plain PQ: the same first-principles
      // oracle, built from the codebooks the ivfpq query trained
      ivfpqTrainedCodebooks.map(cb => "q_similarity_ivfpq" -> qSimilarityPqSql(cb)) ++
      semanticCentroids.map(cs => "q_dedup_semantic" -> qDedupSemanticSql(cs)) ++
      embeddingLshBits.map(b => "q_dedup_embedding_lsh" -> qDedupEmbeddingLshSql(b))

  private val staticOracleSql: Map[String, String] = Map(
    "q_parse_roundtrip" -> qParseRoundtripSql,
    "q_filter_whitelist" -> qFilterWhitelistSql,
    "q_filter_regex_blacklist" -> qFilterRegexBlacklistSql,
    "q_partition_keys" -> qPartitionKeysSql,
    "q_partition_bucket_md5" -> qPartitionBucketMd5Sql,
    "q_partition_bucket_crc32" -> qPartitionBucketCrc32Sql,
    "q_marshal_update" -> qMarshalUpdateSql,
    "q_marshal_delete" -> qMarshalDeleteSql,
    "q_txn_counts" -> qTxnCountsSql,
    "q_contiguous_ack" -> qContiguousAckSql,
    "q_stats_window" -> qStatsWindowSql,
    "q_route_workers" -> qRouteWorkersSql,
    "q_chunk_sizes" -> qChunkSizesSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_dedup_lines" -> qDedupLinesSql,
    "q_fingerprint_winnow" -> qFingerprintWinnowSql,
    "q_token_stats" -> qTokenStatsSql,
    "q_bpe_pairs" -> qBpePairsSql,
    "q_bpe_learn" -> qBpeLearnSql,
    "q_bpe_encode" -> qBpeEncodeSql,
    "q_budget_select_bpe" -> qBudgetSelectBpeSql,
    "q_budget_select" -> qBudgetSelectSql,
    "q_text_quality" -> qTextQualitySql,
    "q_lang_id" -> qLangIdSql,
    "q_dedup_ngram" -> qDedupNgramSql,
    "q_dedup_spans" -> qDedupSpansSql,
    "q_dedup_spans_self" -> qDedupSpansSelfSql,
    "q_dedup_span_drop" -> qDedupSpanDropSql,
    "q_dedup_span_drop_raw" -> qDedupSpanDropRawSql,
    "q_text_typicality" -> qTextTypicalitySql,
    "q_asof_orders" -> qAsofOrdersSql,
    "q_asof_tolerance" -> qAsofToleranceSql,
    "q_asof_forward" -> qAsofForwardSql,
    // the snapshot-timeline plan answers the SAME contract as
    // q_asof_orders — one oracle, two physical forms
    "q_asof_snapshot" -> qAsofOrdersSql,
    "q_range_attribution" -> qRangeAttributionSql,
    "q_leakage_split" -> qLeakageSplitSql,
    "q_curation_pipeline" -> qCurationPipelineSql,
    "q_typicality_xcorpus" -> qTypicalityXcorpusSql,
    "q_typicality_buckets" -> qTypicalityBucketsSql,
    "q_dedup_clusters" -> qDedupClustersSql,
    "q_dedup_clusters_incremental" -> qDedupClustersSql,
    "q_sample_stratified" -> qSampleStratifiedSql,
    "q_sample_domain_mix" -> qSampleDomainMixSql,
    "q_sample_temperature" -> qSampleTemperatureSql,
    "q_tfidf_topk" -> qTfidfTopkSql,
    "q_quality_gate" -> qQualityGateSql,
    "q_decontaminate" -> qDecontaminateSql,
    "q_decontaminate_fuzzy" -> qDecontaminateFuzzySql,
    "q_corpus_report" -> qCorpusReportSql,
    "q_shuffle_rank" -> qShuffleRankSql,
    "q_dedup_incremental" -> qDedupIncrementalSql,
    // Bloom-pre-filtered plan answers the same contract (no false
    // negatives) — one oracle, two physical forms
    "q_dedup_incremental_bloom" -> qDedupIncrementalSql,
    "q_repetition" -> qRepetitionSql,
    "q_pii_redact" -> qPiiRedactSql,
    "q_dedup_minhash" -> HashOracleSql.minhashSql,
    "q_dedup_incremental_near" -> HashOracleSql.incrementalNearSql,
    "q_dedup_simhash" -> HashOracleSql.simhashSql,
    "q_dedup_image_phash" -> qDedupImagePhashSql,
    "q_dedup_audio_fp" -> qDedupAudioFpSql,
    "q_dedup_audio_fp_aiff" -> qDedupAudioFpSql,
    "q_dedup_video_frames" -> qDedupVideoFramesSql,
    "q_dedup_streaming_media" -> qDedupStreamingMediaSql,
    "q_dedup_streaming_lines" -> qDedupStreamingLinesSql,
    "q_dedup_streaming_video" -> qDedupStreamingVideoSql,
    "q_similarity_topk" -> qSimilarityTopkSql,
    // exhaustive-probe + corpus-wide rerank IVF-PQ == brute force:
    // the exact-cosine oracle applies verbatim
    "q_similarity_ivfpq_rerank" -> qSimilarityTopkSql,
    "q_similarity_ivf" -> qSimilarityTopkSql,
    // exhaustive probe over the incrementally-grown store == brute force:
    "q_similarity_ivf_incremental" -> qSimilarityTopkSql,
    "q_dedup_embedding" -> qDedupEmbeddingSql,
    "q_similarity_lsh" -> qSimilarityLshSql,
    "q_frame_sample" -> qFrameSampleSql,
    "q_seq_packing" -> qSeqPackingSql,
    "q_sessionize" -> qSessionizeSql,
    "q_skew_salted_agg" -> qSkewSaltedAggSql,
    "q_distinct_users" -> qDistinctUsersSql,
    "q_agg_pricing" -> qAggPricingSql,
    "q_join_revenue" -> qJoinRevenueSql,
    "q_topk_orders" -> qTopkOrdersSql,
    "q_cdc_pipeline" -> qCdcPipelineSql)
}
