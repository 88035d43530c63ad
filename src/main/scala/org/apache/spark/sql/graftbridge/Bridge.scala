package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Narrow bridge into `private[sql]` helpers: wrap a Catalyst Expression
  * as a public `Column` and back. Spark 4 made the Column↔Expression
  * boundary internal (`ColumnNode`); this is the sanctioned conversion
  * path (`org.apache.spark.sql.classic.ExpressionUtils`).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` as a plain Catalyst tree. [[expression]] leaves a composed
    * Column wrapped in a leaf that only a Dataset's analysis unwraps; a
    * SQL function builder must hand the analyzer the tree itself.
    */
  def expressionTree(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The active session's Hadoop configuration (base conf + SQL session
    * overrides via `sessionState.newHadoopConf()`), so user-configured
    * filesystem settings (s3a credentials, defaultFS, …) reach every
    * driver-side `FileSystem.get` in the sources. Falls back to a bare
    * conf when no session is active (e.g. standalone tooling).
    */
  def activeHadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.classic.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** [[activeHadoopConf]] wrapped for shipping to tasks (Hadoop's
    * Configuration is not Serializable on its own).
    */
  def serializableConf(): org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(activeHadoopConf())

  /** Wrap an `RDD[InternalRow]` as a DataFrame WITHOUT the external-Row
    * round trip (`createDataFrame(RDD[Row], schema)` re-encodes every
    * row). The sanctioned internal path for operators that compute on
    * `queryExecution.toRdd` directly (graft.operators.PrefixSum).
    */
  def internalCreateDataFrame(
      s: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** A copy of the calling thread's SparkContext local properties (job
    * group, scheduler pool, job description); `getLocalProperties` is
    * `private[spark]`.
    */
  def copyLocalProperties(sc: org.apache.spark.SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  /** Runs `body` with `props` as this thread's local properties, then
    * puts the thread's own back.
    */
  def withLocalProperties[T](sc: org.apache.spark.SparkContext,
                             props: java.util.Properties)(body: => T): T = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(own)
  }
}
