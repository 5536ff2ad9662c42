package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Catalog of the named test tables (TPC-H-ish star schema + events/documents/
  * embeddings). Mirrors fuel's named-dataset registry (reference:
  * fuel/datasets/mnist.py:7-33 and friends) — a name-to-source binding with no
  * iteration state, so one table can back many concurrent queries
  * (reference: fuel/datasets/base.py:52-58, stateless Dataset protocol).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, dir, name) memo of the LOGICAL READ PLAN. A
    * `spark.read.parquet` call pays file listing + footer schema
    * inference + datasource resolution every time — measured 65-135 ms
    * per call on the bench tables, and the suite makes ~2 loads per
    * query × hundreds of queries per run, so re-inferring a schema that
    * cannot change mid-run was ~10% of the whole bench wall. What is
    * memoized is METADATA (an immutable DataFrame = unresolved scan +
    * schema — the thing a production engine keeps in its catalog/
    * metastore); no rows, no results, no intermediates are held, and
    * every execution still scans the parquet files.
    *
    * Assumes STATIC DATA PER SESSION: the memoized frame pins the parquet
    * file listing captured at first load, so a harness that regenerates
    * a table mid-session must use a fresh session.
    *
    * The memo lives in its session (a [[PlanMemo]]), not in a global map:
    * every memoized frame holds its session, so a global map, even one
    * with weak session keys, would keep every session that ever loaded a
    * table reachable. A discarded session is collected with its memo. A
    * session built without [[graft.plans.GraftExtensions]] has no memo
    * and re-reads on every load. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark) match {
      case Some(m) => m.plans.computeIfAbsent((dir, name), _ => doLoad(spark, dir, name))
      case None => doLoad(spark, dir, name)
    }

  /** One session's read plans. Spark has no slot for engine state on a
    * session, so [[graft.plans.GraftExtensions]] injects this as an
    * analyzer check that checks nothing: Spark builds one per session
    * state (clones included) and only that state holds it. */
  private[graft] final class PlanMemo extends (LogicalPlan => Unit) {
    val plans = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
    def apply(plan: LogicalPlan): Unit = ()
  }

  private def memo(spark: SparkSession): Option[PlanMemo] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.analyzer.extendedCheckRules.collectFirst { case m: PlanMemo => m }

  private def doLoad(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) — which the
      // vectorized reader rejects, so it surfaces as int64 nanos under
      // nanosAsLong and needs truncation to microseconds (exactly what
      // DuckDB's reader does: epoch_us truncates, not rounds) — and as
      // plain TIMESTAMP(MICROS), which needs nothing. Dispatch on the type
      // actually read so either vintage of the generator works.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // Surface the same TIMESTAMP type every consumer was written
          // against; the session zone is pinned to UTC in every entry
          // point, so the conversion is value-preserving (and matches
          // DuckDB, whose naive TIMESTAMP read is the same instant).
          df.withColumn("ts",
            df.col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
}
