package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Thin bridge to `private[sql]` internals, kept to four calls:
  *   1. Column<->Expression conversion, exposing custom Catalyst
  *      expressions like graft.functions.Hash64Expr through the public
  *      Column API;
  *   2. a plan's InternalRow RDD and
  *   3. a DataFrame rebuilt from one, which let graft.sources.Indexed and
  *      PrefixSum work on rows without the external-Row boxing round trip;
  *   4. the same rebuild with a declared index order. The public API cannot
  *      tell the planner that an RDD's rows already arrive sorted, so
  *      without it every `orderBy(__idx)` over a zipped frame re-sorts rows
  *      that are already in order — a second range sort per epoch.
  * No other internals are touched. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The physical plan's InternalRow RDD (after AQE finalization). Rows
    * may be reused per-partition — consumers must follow SparkPlan's
    * copy-if-buffering contract. */
  def internalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd

  /** Wrap an InternalRow RDD back into a DataFrame. */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Wrap an InternalRow RDD whose column `idx` ascends within each
    * partition and across partitions in partition order (what
    * `zipWithIndex` produces) into a DataFrame that declares so:
    * ordering `[idx ASC]` and range partitioning on `idx`, the form
    * `Dataset.checkpoint` uses. The planner then satisfies an
    * `orderBy(idx)` (or a grouping on it) without an exchange or a sort.
    * A 0-partition RDD declares nothing (a range partitioning needs at
    * least one partition). The caller vouches for the order; a false
    * declaration yields wrongly ordered results. */
  def indexOrderedDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType, idx: String): DataFrame =
    if (rdd.getNumPartitions == 0) internalCreateDataFrame(spark, rdd, schema)
    else {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val output = DataTypeUtils.toAttributes(schema)
      val order = Seq(SortOrder(output.find(_.name == idx).get, Ascending))
      Dataset.ofRows(session, LogicalRDD(output, rdd,
        RangePartitioning(order, rdd.getNumPartitions), order)(session))
    }
}
