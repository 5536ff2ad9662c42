package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Stable, contiguous 0-based row addressing — the engine's analog of fuel's
  * IndexableDataset (reference: fuel/datasets/base.py:316-388). Every scheme
  * and every positional operator (Merge zip-join, Batch, cross-validation)
  * builds on `__idx`.
  *
  * Scale design: a `row_number()` over an empty window forces all rows into
  * ONE partition — a non-starter at 100 TB. Instead the index is an
  * exclusive prefix sum of the literal 1: [[PrefixSum]]'s shared two-phase
  * scan, counting rows — a distributed range-partitioned sort, one
  * lightweight count job over all partitions but the last (none for a
  * single partition), then fully parallel numbering. Values are identical
  * to `row_number() OVER (ORDER BY ...) - 1` (which is what the DuckDB
  * oracle computes), but the plan scales.
  *
  * The scan numbers partition 0 first, so the index ascends within and
  * across partitions whatever the data order, and the frame declares that
  * (`[__idx ASC]` and range partitioning on it): `orderBy(__idx)` — or of a
  * column aliasing it, like a scheme's `__pos` — is free, with no exchange
  * and no sort (pinned in PlanSpec, the declaration checked in
  * PropertiesSpec).
  */
object Indexed {
  val Idx = "__idx"

  /** Append a contiguous 0-based `__idx` in the total order of `order`.
    * The order must be total (tie-free) for the index to be deterministic —
    * pass a unique key (or include one as the last sort column). Given a
    * total order, the index is a pure function of the DATA: invariant to
    * the input's partitioning or row order (PropertiesSpec law — the same
    * frame shuffled 2-way and 32-way indexes identically). */
  def withIdx(df: DataFrame, order: Seq[Column], idxName: String = Idx): DataFrame =
    PrefixSum.scan(df.sort(order: _*), None, isMax = false, idxName, total = false)._1

  /** Index in the source's existing partition/row order (no sort) — the
    * analog of iterating an IterableDataset in storage order
    * (reference: fuel/datasets/base.py:244-313). Deterministic for a
    * deterministic source such as a fixed set of parquet files — but,
    * unlike [[withIdx]], NOT invariant to layout: it numbers the layout,
    * not the data, so any upstream shuffle (repartition, a different file
    * split) renumbers the same rows (asserted in PropertiesSpec). Use it
    * only directly over a source whose layout is the order you mean — such
    * as a scheme's shuffled visit frame ([[graft.schemes.Schemes.Segment
    * .visit]]), whose layout is set by hash ranges and a sort within each,
    * not by its input's layout. */
  def withStorageIdx(df: DataFrame, idxName: String = Idx): DataFrame =
    PrefixSum.scan(df, None, isMax = false, idxName, total = false)._1

  /** fuel's Subset slice over an indexed stream (reference:
    * fuel/utils/__init__.py:30-397, IndexableDataset start/stop,
    * base.py:316-388): rows with `start <= idxName < stop`. A pure filter —
    * prunes at the scan when the index is a stored column.
    *
    * Ordering with schemes: [[graft.schemes.Schemes.compile]] (and
    * ConcatenatedScheme's closed-form offsets) assume a CONTIGUOUS 0-based
    * index, which a slice's surviving rows no longer have. Compile schemes
    * BEFORE slicing, or re-index ([[withIdx]]) after the slice. For
    * arbitrary index-list splits use [[Subset]], whose algebra composes
    * before any cluster-side selection happens. */
  def slice(df: DataFrame, start: Long, stop: Long, idxName: String = Idx): DataFrame = {
    require(start >= 0 && stop >= start, s"invalid subset [$start, $stop)")
    df.filter(col(idxName) >= start && col(idxName) < stop)
  }
}
