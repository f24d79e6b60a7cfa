package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.Partitioner.{BucketHash, Crc32, Md5}

/** Worker routing / exchange (SURVEY §2 O9; reference
  * transport/batcher/batcher.go:366-416).
  *
  * `Partition` mode gives per-key ordered delivery: every record of a
  * partition key lands in the same worker partition, chosen as
  * `crc32(partitionKey) % workers` like the reference. `RoundRobin`
  * spreads records without affinity (unordered, as documented in the
  * reference README cheat-sheet).
  *
  * This is the single genuine shuffle in the CDC plan. The `workerId`
  * column is materialized so the exchange hashes a stable value and so
  * sinks can assert placement.
  */
object Router {

  sealed trait Mode
  case object RoundRobin extends Mode
  final case class Partition(hash: BucketHash = Crc32) extends Mode

  def route(df: DataFrame, workers: Int, mode: Mode): DataFrame = mode match {
    case RoundRobin =>
      df.repartition(workers)
    case Partition(hash) =>
      val worker = hash match {
        case Crc32 => GraftFunctions.crc32_bucket(col("partitionKey"), workers)
        case Md5 => GraftFunctions.md5_bucket(col("partitionKey"), workers)
      }
      df.withColumn("workerId", worker).repartition(workers, col("workerId"))
  }
}
