package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.LongType

/** Column-level function surface of the engine. Everything here stays
  * inside Catalyst codegen (built-in functions or native expressions —
  * no Scala UDF closures in hot paths).
  */
object GraftFunctions {

  /** Parse a raw `test_decoding` line into the dynamic change-record
    * struct (NULL if unparseable). See SURVEY §2 O3.
    */
  def parse_test_decoding(line: Column): Column =
    column(ParseTestDecoding(expression(line)))

  /** Prelude-only parse: the relation of a wire line (NULL if
    * unparseable). Cheap — no column parsing, no map allocation — so
    * filters built on it can be duplicated by predicate pushdown at
    * negligible cost, keeping the full parse single-evaluation.
    */
  def prelude_relation(line: Column): Column =
    column(ParsePreludeField(expression(line), 0))

  /** Prelude-only parse: the operation of a wire line. */
  def prelude_operation(line: Column): Column =
    column(ParsePreludeField(expression(line), 1))

  /** `c` behind a [[PushdownBarrier]]: evaluated once, in the projection
    * that defines it, and never substituted into a consuming Filter or
    * Project. Works in any session. Without `GraftExtensions` the fence
    * covers the whole projection that holds `c`: a filter on ANY of its
    * columns stays above it and runs after `c` is evaluated.
    * `GraftExtensions` narrows the fence so filters on the other
    * columns still push below it.
    */
  def fenced(c: Column): Column =
    column(PushdownBarrier(expression(c)))

  /** The reference's QuickHash (utils/utils.go:32-35): IEEE CRC32 of the
    * key modulo `buckets`. Spark's `crc32` is the same polynomial, so
    * bucketing is bit-identical to the reference.
    */
  def crc32_bucket(key: Column, buckets: Int): Column =
    pmod(crc32(key.cast("string")), lit(buckets.toLong)).cast("int")

  /** Oracle-friendly alternative bucket hash (md5-prefix based): exactly
    * expressible in ANSI SQL engines that lack crc32 (e.g. DuckDB:
    * `('0x' || substr(md5(k),1,8))::UBIGINT % n`). Used where an
    * independent SQL oracle must reproduce the bucketing.
    */
  def md5_bucket(key: Column, buckets: Int): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast(LongType),
      lit(buckets.toLong)).cast("int")

  /** Cosine similarity between two float/double array columns — one
    * native fused loop (dot + both norms, left-to-right accumulation,
    * numerically identical to the former zip_with/aggregate form but
    * with no per-row intermediate arrays). Inputs are cast to double
    * first so the arithmetic is stable across engines.
    */
  def cosine_similarity(a: Column, b: Column): Column =
    column(CosineSim(
      expression(a.cast("array<double>")),
      expression(b.cast("array<double>"))))

  /** Per-band hyperplane LSH bucket ids (see [[HyperplaneBuckets]]). */
  def hyperplane_buckets(vec: Column, dim: Int, nBits: Int, bands: Int, seed: Long): Column =
    column(HyperplaneBuckets(expression(vec.cast("array<double>")), dim, nBits, bands, seed))

  /** The `nprobe` nearest centroid indices (see [[NearestCells]]). */
  def nearest_cells(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    column(NearestCells(expression(vec.cast("array<double>")), centroids, nprobe))

  /** The reference's LSN display format `"%X/%X"` of the hi/lo 32 bits
    * (marshaller/marshaller.go:312-317).
    */
  def format_lsn(walStart: Column): Column =
    format_string("%X/%X",
      shiftrightunsigned(walStart, 32),
      walStart.bitwiseAND(lit(0xFFFFFFFFL)))
}
