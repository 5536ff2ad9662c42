package graft.sources

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeSeq, BindReferences,
  BoundReference, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed exclusive scans — row index, running sum and running max in
  * a total order WITHOUT `OVER (ORDER BY ...)`'s single-partition window
  * (an unpartitioned running window moves every row to one task).
  *
  * All of them are ONE two-phase scan ([[scan]]): a range-partitioned
  * sort, one lightweight job reducing each partition (the sort's shuffle
  * files are reused, not recomputed), then a fully parallel second pass
  * that adds each partition's starting offset to its local running value.
  * The index ([[Indexed]]) is the scan counting rows; the prefix sum and
  * max fold a non-null bigint column. Values are identical to
  * `row_number() - 1`, `sum(v) OVER (ORDER BY ... ROWS UNBOUNDED
  * PRECEDING) - v` and the matching exclusive max, which is what the
  * DuckDB oracle computes.
  *
  * Phase 1 reads partitions 0..n-2 only — the last partition's reduction
  * feeds no offset — unless the caller asks for the grand total
  * ([[withPrefixSumTotal]]); one partition starts no job at all.
  *
  * The scan runs at the InternalRow layer ([[Bridge.internalRdd]]): the
  * public `df.rdd` route deserializes every row to an external `Row` and
  * re-encodes it through a reflective RowEncoder — 2-3x the cost of the
  * whole sort on wide tables. The output column is appended with a reused
  * JoinedRow, no copies; downstream operators follow SparkPlan's
  * copy-if-buffering contract.
  *
  * Every output declares the order its rows carry
  * ([[Bridge.orderedDataFrame]]): the index `[idx ASC]`, a prefix scan the
  * sort order it ran. Both hold by construction — the rows are the range
  * sort's, and adjacent-partition coalescing keeps them so — and both let
  * the planner drop a later sort: `orderBy(__idx)` is free, and a second
  * scan in the same order over a scan's output pays no exchange and no
  * sort (pinned in PlanSpec, the declarations checked in PropertiesSpec).
  *
  * The primitive behind token-packing ([[graft.text.TextOps.packSequences]])
  * and any "global offset" computation over an ordered corpus.
  */
object PrefixSum {

  /** One row's step of the scan. `ordinal` < 0 counts rows (the index);
    * otherwise the row's bigint at `ordinal` is summed, or maxed. */
  private final case class Step(ordinal: Int, isMax: Boolean, valueCol: String) {
    def zero: Long = if (isMax) Long.MinValue else 0L
    def combine(a: Long, b: Long): Long = if (isMax) math.max(a, b) else a + b
    // NULLs fail loudly: InternalRow.getLong would silently read a NULL as
    // 0, diverging from any NULL-propagating oracle (DuckDB sum).
    def apply(acc: Long, r: InternalRow, pid: Int): Long =
      if (ordinal < 0) acc + 1
      else if (r.isNullAt(ordinal)) throw new IllegalArgumentException(
        s"prefix ${if (isMax) "max" else "sum"}: NULL in value column '$valueCol' (partition $pid)")
      else combine(acc, r.getLong(ordinal))
  }

  /** The one two-phase scan. Appends `outName` = the fold of `valueCol`
    * (row count when `None`) over all EARLIER rows of `sorted`, a frame in
    * scan order: a global sort, or storage order for the storage index.
    * Returns the frame and the fold over the partitions phase 1 read: the
    * grand total when `total`, otherwise not meaningful. */
  private[sources] def scan(sorted: DataFrame, valueCol: Option[String],
      isMax: Boolean, outName: String, total: Boolean): (DataFrame, Long) = {
    val ordinal = valueCol.fold(-1)(sorted.schema.fieldIndex)
    if (ordinal >= 0) require(sorted.schema(ordinal).dataType == LongType,
      s"prefix ${if (isMax) "max" else "sum"} requires a bigint value column, " +
        s"got ${sorted.schema(ordinal).dataType}")
    val step = Step(ordinal, isMax, valueCol.orNull)
    val rdd = Bridge.internalRdd(sorted)
    // Phase 1: per-partition reductions (tiny driver-side array; one job
    // whose upstream sort shuffle is reused by phase 2, not recomputed).
    val n = rdd.getNumPartitions
    val reduced = 0 until (if (total) n else n - 1)
    val partials = if (reduced.isEmpty) Array.empty[Long]
      else sorted.sparkSession.sparkContext.runJob(rdd,
        (ctx: TaskContext, it: Iterator[InternalRow]) => {
          var acc = step.zero
          it.foreach(r => acc = step(acc, r, ctx.partitionId()))
          acc
        }, reduced)
    val offsets = partials.scanLeft(step.zero)(step.combine) // offsets(pid): earlier partitions
    // Phase 2: parallel local scan + partition offset.
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val joined = new JoinedRow
      val outRow = new GenericInternalRow(1)
      var running = offsets(pid)
      it.map { r =>
        outRow.setLong(0, running)
        running = step(running, r, pid)
        joined(r, outRow): InternalRow
      }
    }
    val schema = StructType(sorted.schema.fields :+ StructField(outName, LongType, nullable = false))
    val declared =
      if (valueCol.isEmpty) Seq(SortOrder(BoundReference(sorted.schema.length, LongType, false), Ascending))
      else sorted.queryExecution.analyzed match {
        case s: Sort if s.global => BindReferences.bindReferences(s.order, AttributeSeq(s.output))
        case _ => Nil
      }
    (Bridge.orderedDataFrame(sorted.sparkSession, out, schema, declared), offsets.last)
  }

  /** Append `outName` = sum of `valueCol` over all EARLIER rows in the
    * total order `order` (exclusive prefix sum; first row gets 0).
    * `valueCol` must be a non-null LONG column name; the order must be
    * total (tie-free) for determinism. */
  def withPrefixSum(df: DataFrame, order: Seq[Column], valueCol: String,
      outName: String = "__offset"): DataFrame =
    scan(df.sort(order: _*), Some(valueCol), isMax = false, outName, total = false)._1

  /** [[withPrefixSum]] plus the EAGER grand total Σ`valueCol` — phase 1
    * reduces it driver-side for the price of reading the last partition
    * too. Use it whenever the caller needs the total alongside the running
    * sums: deriving the total from a second aggregation would RE-SCAN the
    * source, because the prefix frame is RDD-rooted and Spark's
    * exchange reuse cannot deduplicate subtrees across that bridge
    * (measured on the q204 plan: totals-as-literals removes a full
    * corpus scan + a broadcast join from the robust-mean / KS /
    * survival operators). */
  def withPrefixSumTotal(df: DataFrame, order: Seq[Column], valueCol: String,
      outName: String = "__offset"): (DataFrame, Long) =
    scan(df.sort(order: _*), Some(valueCol), isMax = false, outName, total = true)

  /** GROUP-RESTARTING exclusive prefix sum: `outName` = sum of
    * `valueCol` over earlier rows of the SAME group in the total order
    * (each group's first row gets 0) — the primitive behind per-epoch /
    * per-split token packing, where every group is its own training
    * stream with its own offsets.
    *
    * Form: one global [[withPrefixSum]] ordered (groups, order) — groups
    * are contiguous in the range sort — minus each group's starting
    * offset. The starts frame is one map-side-combined min-agg collapsed
    * to |groups| rows, and it is BROADCAST: both sides are RDD-rooted (no
    * stats), so without the hint Spark plans the subtraction join
    * sort-merge ON THE GROUP KEY — which shuffles the whole corpus into
    * |groups| partitions, a parallelism collapse at the designed
    * few-groups use (epochs, splits). Same contracts as
    * [[withPrefixSum]]: non-null LONG value, tie-free total order within
    * each group. */
  def withGroupedPrefixSum(df: DataFrame, groupCols: Seq[String],
      order: Seq[Column], valueCol: String,
      outName: String = "__offset"): DataFrame = {
    require(groupCols.nonEmpty,
      "withGroupedPrefixSum: no group columns — use withPrefixSum")
    val g = withPrefixSum(df, groupCols.map(org.apache.spark.sql.functions.col) ++ order,
      valueCol, "__goff")
    val starts = g.groupBy(groupCols.map(org.apache.spark.sql.functions.col): _*)
      .agg(org.apache.spark.sql.functions.min(
        org.apache.spark.sql.functions.col("__goff")).as("__gstart"))
    g.join(org.apache.spark.sql.functions.broadcast(starts), groupCols)
      .withColumn(outName,
        org.apache.spark.sql.functions.col("__goff") -
          org.apache.spark.sql.functions.col("__gstart"))
      .drop("__goff", "__gstart")
  }

  /** Append `outName` = max of `valueCol` over all EARLIER rows in the
    * total order (exclusive prefix max; first row gets Long.MinValue —
    * the max identity, so `v > prefix` is vacuously true there). Same
    * scan as [[withPrefixSum]] — max is associative with identity, which
    * is all the scan needs — and the same contracts: non-null LONG value
    * column, tie-free order. The primitive behind
    * [[graft.operators.Skyline]] (dominance = "beaten by anything earlier
    * in the order?"). */
  def withPrefixMax(df: DataFrame, order: Seq[Column], valueCol: String,
      outName: String = "__pmax"): DataFrame =
    scan(df.sort(order: _*), Some(valueCol), isMax = true, outName, total = false)._1
}
