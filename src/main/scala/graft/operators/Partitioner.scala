package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Partition-key assignment (SURVEY §2 O6; reference
  * partitioner/partitioner.go:30-50,144-156).
  *
  * Adds a `partitionKey` string column:
  *  - `None`: empty string;
  *  - `TableName`: the relation;
  *  - `Transaction`: the transaction id;
  *  - `TransactionBucket(n)`: `hash(txn) % n` rendered as a decimal
  *    string. The default hash is IEEE CRC32 — bit-identical to the
  *    reference's QuickHash (utils/utils.go:32-35) because Spark's
  *    `crc32` uses the same polynomial. `Md5` is an alternative for
  *    environments that must reproduce the bucketing in engines
  *    without crc32 (e.g. an independent SQL oracle).
  */
object Partitioner {

  sealed trait Method
  case object NoKey extends Method
  case object TableName extends Method
  case object Transaction extends Method
  final case class TransactionBucket(buckets: Int, hash: BucketHash = Crc32) extends Method

  sealed trait BucketHash
  case object Crc32 extends BucketHash
  case object Md5 extends BucketHash

  def keyExpr(method: Method, relation: Column, txn: Column): Column = method match {
    case NoKey => lit("")
    case TableName => relation
    case Transaction => txn
    case TransactionBucket(n, Crc32) =>
      GraftFunctions.crc32_bucket(txn, n).cast("string")
    case TransactionBucket(n, Md5) =>
      GraftFunctions.md5_bucket(txn, n).cast("string")
  }

  def apply(method: Method): DataFrame => DataFrame =
    df => df.withColumn("partitionKey", keyExpr(method, col("relation"), col("txn")))
}
