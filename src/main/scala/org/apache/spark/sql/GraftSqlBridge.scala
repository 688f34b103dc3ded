package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` Column <-> Expression conversion (the standard
  * technique Spark extension libraries use to expose custom Catalyst
  * expressions as `Column`s on Spark 4's ColumnNode API).
  */
object GraftSqlBridge {
  def column(e: Expression): Column      = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression  = classic.ExpressionUtils.expression(c)

  /** `SparkSession.internalCreateDataFrame` — a DataFrame over an
    * InternalRow RDD with NO per-row external conversion (the
    * `createDataFrame(RDD[Row], schema)` path re-encodes every field
    * through CatalystTypeConverters; this one wraps the rows as-is, and
    * the planner's RDDScanExec applies one codegen UnsafeProjection).
    * Rows may be reused/mutable between `next()` calls, the same contract
    * Spark's own scan operators follow.
    */
  def internalDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                        schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** The physical-plan InternalRow RDD of `df` (the Tungsten twin of
    * `df.rdd`, minus the to-external-Row deserializer stage).
    */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd

  /** True for a file or directory name Spark's file listing skips
    * (`HadoopFSUtils.shouldFilterOutPathName`): a leading `.`, a leading
    * `_` unless the name holds `=` or starts `_metadata` /
    * `_common_metadata`, and a `._COPYING_` suffix.
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
