package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row bounds checked inside the plan. An operator that broadcasts one
  * of its inputs relies on that input being small; a corpus-sized side
  * would OOM the driver or blow Spark's broadcast limit mid-job, with a
  * stack trace that points at an executor. An eager check would run a
  * Spark job while the frame is built; this one runs with the frame,
  * at every execution.
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
}
