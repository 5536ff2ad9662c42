package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * every execution still scans the parquet files. Keyed by session so
    * a memo can never leak across SparkSession lifecycles (Verify and
    * Bench each build their own session; tests build many).
    *
    * Assumes STATIC DATA PER SESSION (ADVICE r14): the memoized frame
    * pins the parquet file listing captured at first load, so a harness
    * that regenerates a table mid-session must call [[clearMemo]] (or
    * use a fresh session) — previously each load re-listed. Entries are
    * evicted when the underlying SparkContext ends (ADVICE r14: stopped
    * test sessions otherwise stayed strongly reachable, with their file
    * indexes, for the sbt JVM's lifetime). */
  private val planMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  private val evictionHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (evictionHooked.add(spark))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            planMemo.keySet.removeIf(_._1 eq spark)
            evictionHooked.remove(spark)
          }
        })
    planMemo.computeIfAbsent((spark, dir, name),
      _ => doLoad(spark, dir, name))
  }

  /** Drop every memoized plan (all sessions) — for harnesses that
    * regenerate test data under a live session. */
  def clearMemo(): Unit = planMemo.clear()

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
