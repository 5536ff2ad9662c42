package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Thin bridge to `private[sql]` internals, kept to three calls:
  *   1. Column<->Expression conversion, exposing custom Catalyst
  *      expressions like graft.functions.Hash64Expr through the public
  *      Column API;
  *   2. a plan's InternalRow RDD, which lets graft.sources.PrefixSum's
  *      ordered scan work on rows without the external-Row boxing round
  *      trip;
  *   3. a DataFrame rebuilt from such an RDD that declares the order its
  *      rows carry. The public API can neither wrap InternalRows nor tell
  *      the planner that an RDD's rows already arrive sorted, so without
  *      it every sort over a scan's output — an epoch's `orderBy(__idx)`,
  *      a second scan in the same order — re-sorts rows already in order.
  * No other internals are touched. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The physical plan's InternalRow RDD (after AQE finalization). Rows
    * may be reused per-partition — consumers must follow SparkPlan's
    * copy-if-buffering contract. */
  def internalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd

  /** Wrap an InternalRow RDD into a DataFrame that declares `order` —
    * sort orders over [[BoundReference]]s to `schema`'s columns — as both
    * its ordering and a range partitioning, the form `Dataset.checkpoint`
    * uses. The planner then satisfies a sort (or a grouping) on that order
    * without an exchange or a sort. An empty `order` or a 0-partition RDD
    * (a range partitioning needs at least one partition) declares
    * nothing. The caller vouches for the order: rows must ascend in it
    * within each partition and across partitions in partition order; a
    * false declaration yields wrongly ordered results. */
  def orderedDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType, order: Seq[SortOrder]): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val declared = if (rdd.getNumPartitions == 0) Nil else order.map(_.transform {
      case b: BoundReference => output(b.ordinal)
    }.asInstanceOf[SortOrder])
    val partitioning =
      if (declared.isEmpty) UnknownPartitioning(0)
      else RangePartitioning(declared, rdd.getNumPartitions)
    Dataset.ofRows(session, LogicalRDD(output, rdd, partitioning, declared)(session))
  }
}
