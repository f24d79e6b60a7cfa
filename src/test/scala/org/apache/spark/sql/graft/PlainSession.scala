package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** A session on `parent`'s SparkContext with NO injected extensions:
  * the optimizer a plain `SparkSession.builder()` application gets,
  * such as `Main`'s replicate session. (`newSession()` would keep the
  * parent's extensions.) It brings its own shared state, so build one
  * per suite, not per test.
  */
object PlainSession {
  def of(parent: SparkSession): SparkSession =
    new classic.SparkSession(parent.sparkContext)
}
