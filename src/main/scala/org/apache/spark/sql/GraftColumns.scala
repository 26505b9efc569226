/*
 * Lives in org.apache.spark.sql ON PURPOSE: the Column ⇄ Expression
 * bridge (`Column(() => ColumnNode)` and `ExpressionColumnNode`) is
 * `private[sql]` in Spark 4, and wrapping a custom Catalyst Expression
 * into a user-facing Column requires it. This is the conventional shim
 * point for libraries that ship native expressions without forcing
 * every SparkSession to be built with injected extensions — the
 * expression then works in ANY session, including ones the caller
 * constructed elsewhere.
 */
package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge for graft's native Catalyst expressions (see
  * `graft.functions`) and for the session internals the validator
  * plans with. Keep this object minimal: conversions and accessors, no
  * logic — everything interesting belongs in the callers. */
object GraftColumns {
  def column(e: Expression): Column =
    Column(classic.ExpressionColumnNode(e))

  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** The session's function registry (`sessionState` is `private[sql]`
    * on the classic session — same shim rationale as above), so
    * `graft.functions.GraftFunctions.register` can install the SQL
    * names into a live session. */
  def functionRegistry(spark: SparkSession): FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  /** A copy of `spark` with its own conf, temp views and functions:
    * what is set on the copy does not reach `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** A frame over rows already computed as `rows` (a scan of the RDD,
    * planned without a job), typed by `schema`. */
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** The Hadoop conf the session's file scans read with. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
