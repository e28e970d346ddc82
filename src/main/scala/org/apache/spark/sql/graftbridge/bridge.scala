package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge into `private[sql]` Column↔Expression converters —
  * the standard pattern for Spark-native libraries that ship custom
  * Catalyst expressions (the converters are public in bytecode, Scala
  * access-scoped only). Everything else in this engine stays in `graft.*`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Final EXECUTED (post-AQE) physical plan of a DataFrame as text —
    * for plan-shape assertions (exchange reuse, skew splits) in specs. */
  def executedPlanString(df: org.apache.spark.sql.DataFrame): String =
    df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
      .queryExecution.executedPlan.toString

  /** Final-plan-ONLY section of the executed plan. Under AQE,
    * `AdaptiveSparkPlan.toString` prints BOTH a "Final Plan" and the
    * pre-adaptive "Initial Plan"; node-counting assertions (scans,
    * exchanges, skew markers) must only look at the former or they
    * double-count. */
  def finalPlanString(df: org.apache.spark.sql.DataFrame): String = {
    val s = executedPlanString(df)
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  /** Unpersist the checkpoint blocks backing a `localCheckpoint`-ed
    * DataFrame. A local checkpoint IS its persisted blocks (lineage is
    * truncated), so this must only be called on state that is provably
    * never referenced again — iterative algorithms (star contraction,
    * fixpoint loops) otherwise accumulate one block set per iteration,
    * which on a long convergence is an executor-memory leak. */
  def freeLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
      .queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(blocking = false))

  /** A fresh directory `<java.io.tmpdir>/<prefix>-<uuid>` that Spark's
    * shutdown hook deletes recursively when the JVM exits. */
  def tempDirDeletedAtExit(prefix: String): String =
    org.apache.spark.util.Utils
      .createTempDir(System.getProperty("java.io.tmpdir"), prefix).getPath

  /** Register a function by name on an ALREADY-RUNNING session (the
    * `spark.sql.extensions` config only applies at session build time). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)
}
