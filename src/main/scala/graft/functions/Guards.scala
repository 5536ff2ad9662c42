package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row bounds checked inside the plan. An operator that broadcasts one
  * of its inputs relies on that input being small; a corpus-sized side
  * would OOM the driver or blow Spark's broadcast limit mid-job, with a
  * stack trace that points at an executor. A candidate join relies on
  * its buckets being small in the same way. An eager check would run a
  * Spark job while the frame is built; these run with the frame, at
  * every execution.
  */
object Guards {

  /** `df` crossed with a broadcast one-row gate that counts `df` and
    * raises `msg` through `raise_error` past `maxRows` rows, so the first
    * action on an oversized `df` fails with `msg` in its cause chain.
    * The `where` keeps the gate live against column pruning; the
    * `raise_error` marker is what PlanSpec's BroadcastNestedLoopJoin
    * audit looks for. No `limit`: Spark numbers each limit's generated
    * counter from a JVM-wide sequence, so every planned limit compiles
    * fresh code. Callers build on the RETURNED frame. */
  def atMost(df: DataFrame, maxRows: Long, msg: String): DataFrame = {
    val gate = df.agg(when(count(lit(1)) > maxRows, raise_error(lit(msg)))
      .otherwise(lit(true)).as("__within_bound"))
    df.crossJoin(broadcast(gate)).where(col("__within_bound")).drop("__within_bound")
  }

  /** `df` with its bucket occupancy bounded inside the plan: a count
    * window over `keyCols` rewrites `guardCol` to `raise_error` in any
    * bucket past `maxOcc` rows, so the first action on a hot bucket fails
    * with "`what` occupancy N exceeds `bound`=`maxOcc` (leading keys) —
    * candidate pairs grow quadratically in occupancy. `fix`". A candidate
    * join's pairs grow with the square of occupancy; the guard fails
    * before that join can run. `guardCol` must be a column the caller
    * reads (a join key or an id), or pruning drops the guard. The window
    * runs on the bucket partitioning the candidate join shuffles on. */
  def occupancy(df: DataFrame, keyCols: Seq[String], guardCol: String,
      bound: String, maxOcc: Int, what: String, fix: String): DataFrame = {
    val lead = keyCols.init
    val limit = s" exceeds $bound=$maxOcc"
    val tail = s" — candidate pairs grow quadratically in occupancy. $fix"
    // The text runs between the count and each leading key's value.
    val texts = s"$what occupancy " +: (
      if (lead.isEmpty) Seq(limit + tail)
      else (s"$limit (${lead.head} " +: lead.tail.map(k => s", $k ")) :+ (")" + tail))
    val msg = concat(texts.zip(col("__occ") +: lead.map(col))
      .flatMap { case (t, c) => Seq(lit(t), c) } :+ lit(texts.last): _*)
    df.withColumn("__occ", count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .withColumn(guardCol,
        when(col("__occ") <= maxOcc, col(guardCol)).otherwise(raise_error(msg)))
      .drop("__occ")
  }
}
