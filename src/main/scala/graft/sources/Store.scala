package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The layout of one persisted store, described once and used by both
  * its first write and every batch landing: `project` turns input rows
  * into the stored frame, `bucketCols` is the bucket spec, and `sorted`
  * sorts each bucket by it. `name` tags the landing's temp view. */
final case class StoreKind(name: String, project: DataFrame => DataFrame,
    bucketCols: Seq[String], sorted: Boolean)

/** Bucketed stores — the engine's one on-disk layout for the artifacts
  * that later joins read in place (fuel writes every dataset to the one
  * H5PYDataset layout, fuel/datasets/hdf5.py; its converters fill it,
  * fuel/converters/base.py:50-104). The stores are signature stores,
  * banded/bucketed near-tier rows, ANN inverted lists and posting lists;
  * each module describes its kinds next to their math as [[StoreKind]]s.
  *
  * Why bucketed: a store is the big, stable side of every join it
  * serves. Bucketed by the join key, its scan reports HashPartitioning on
  * that key, which satisfies the join's distribution, so only the small
  * batch side shuffles (StoreSpec pins the plan). The spec must match the
  * join keys EXACTLY: Spark's co-partition check
  * (`spark.sql.requireAllClusterKeysForCoPartition`) disables a bucketed
  * scan whose spec is a subset of the keys, so multi-column band keys
  * bucket by the full key. Single-key stores are also sorted, so a
  * sort-merge join skips its sort.
  *
  * Tables are external (files under `path`) with the bucket spec in the
  * session catalog: re-read through [[read]] (`spark.table`), never a
  * bare parquet path — that loses the spec and brings the exchange back.
  *
  * A GROWING store adds a `__batch_id` partition column: the seed corpus
  * is partition -1, and each micro-batch lands in its own partition via
  * [[land]]. foreachBatch is at-least-once, and overwriting the batch's
  * own partition makes a replay replace its rows instead of duplicating
  * them. Bucketing holds per bucket id across partitions (all files of a
  * bucket coalesce into one scan partition), so joins stay
  * exchange-free as batches accumulate; only the one-file-per-bucket sort
  * guarantee is lost, so sort-merge joins re-sort in place. */
object Store {

  /** Partition column of a growing store. */
  val BatchCol = "__batch_id"

  /** Write `rows` as a `kind` store: an external table at `path`,
    * replacing any previous one. `growing` adds the [[BatchCol]]
    * partition, with `rows` as the seed partition -1. */
  def write(rows: DataFrame, kind: StoreKind, table: String, path: String,
      buckets: Int, growing: Boolean = false): Unit = {
    val stored = kind.project(rows)
    val (key, more) = (kind.bucketCols.head, kind.bucketCols.tail)
    val writer = (if (growing) stored.withColumn(BatchCol, lit(-1L)) else stored)
      .write.mode("overwrite").option("path", path)
    val bucketed = (if (growing) writer.partitionBy(BatchCol) else writer)
      .bucketBy(buckets, key, more: _*)
    (if (kind.sorted) bucketed.sortBy(key, more: _*) else bucketed)
      .saveAsTable(table)
  }

  /** Land one batch in a growing `kind` store, idempotently: INSERT
    * OVERWRITE of the batch's own partition. Spark buckets the insert by
    * the table's spec, so a landing costs one batch-sized shuffle and the
    * stored rows never move. Batch ids below 0 are refused: -1 is the
    * seed corpus. The caller's frame must not read `table` in its own
    * lineage (Spark refuses to overwrite a table its query reads);
    * `localCheckpoint` the frame first when it does. */
  def land(rows: DataFrame, kind: StoreKind, table: String, batchId: Long): Unit = {
    require(batchId >= 0, s"Store.land(${kind.name}): batchId $batchId is " +
      "reserved (-1 is the seed corpus partition)")
    val stored = kind.project(rows)
    val view = s"graft_${kind.name}_batch_$batchId"
    stored.createOrReplaceTempView(view)
    try rows.sparkSession.sql(
      s"INSERT OVERWRITE TABLE $table PARTITION ($BatchCol = $batchId) " +
        s"SELECT ${stored.columns.map(c => s"`$c`").mkString(", ")} FROM $view")
    finally { rows.sparkSession.catalog.dropTempView(view); () }
  }

  /** Read a store back with its bucket spec intact. */
  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}
