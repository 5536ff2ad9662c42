package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Guards

/** Dataset versioning — the snapshot-diff audit every recurring crawl
  * needs ("what changed between CC-2026-08 and CC-2026-09?"): row-level
  * added/removed/changed status between two corpus snapshots, and the
  * per-source churn summary a dataset card quotes. Companion to
  * [[graft.text.TextOps.vocabDrift]] (the distributional half of the
  * same question).
  */
object Snapshot {

  /** Row-level diff: full-outer join of the two snapshots on `idCol`,
    * content compared by md5 of `contentCol` (the cross-engine-stable
    * fingerprint — comparing hashes, not full texts, keeps the join
    * payload fixed-width no matter how large documents get). Output:
    * (idCol, status ∈ added|removed|changed, and the attribute columns
    * in `carry` coalesced new-over-old). Unchanged rows are DROPPED —
    * the result is bounded by the churn, not the corpus.
    *
    * Scale shape: one uniform-id-keyed shuffle join of two projections
    * (id, md5, carry…) — column pruning keeps the full text out of the
    * shuffle; the status CASE and the churn filter run in the join's
    * codegen stage. */
  def diff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      contentCol: String, carry: Seq[String] = Nil): DataFrame = {
    def proj(df: DataFrame, tag: String): DataFrame =
      df.select((col(idCol) +: md5(col(contentCol).cast("string")).as(s"__h$tag") +:
        carry.map(c => col(c).as(s"__${c}_$tag"))): _*)
    proj(oldDf, "o").join(proj(newDf, "n"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__ho").isNull, "added")
          .when(col("__hn").isNull, "removed")
          .when(col("__ho") =!= col("__hn"), "changed"))
      .filter(col("status").isNotNull)
      .select((col(idCol) +: col("status") +:
        carry.map(c => coalesce(col(s"__${c}_n"), col(s"__${c}_o")).as(c))): _*)
  }

  /** The dataset-card churn summary: per (group, status) row counts
    * over [[diff]]'s already-churn-bounded output — one map-side
    * combined agg. */
  def diffSummary(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      contentCol: String, groupCol: String): DataFrame =
    diff(oldDf, newDf, idCol, contentCol, carry = Seq(groupCol))
      .groupBy(groupCol, "status").agg(count(lit(1)).as("n"))

  /** Apply a changeset — [[diff]]'s inverse (SCD-1 upsert + delete
    * without a table format): rows named by the delete list or
    * shadowed by an upsert leave, upserts enter. One id-keyed
    * LEFT-ANTI join against the (bounded) changeset-id union — AQE
    * broadcasts it when the changeset is small, which is the normal
    * crawl-delta case — then a union; the corpus body never shuffles.
    * Changeset ids must be unique per side (the upsert frame IS the
    * new truth for its ids). */
  def applyChanges(oldDf: DataFrame, upserts: DataFrame,
      deleteIds: DataFrame, idCol: String): DataFrame =
    oldDf.join(
        upserts.select(col(idCol)).union(deleteIds.select(col(idCol)))
          .distinct(),
        Seq(idCol), "left_anti")
      .unionByName(upserts)

  /** Incremental aggregate maintenance — keep a per-group (n, sum)
    * rollup current under a changeset WITHOUT re-aggregating the
    * corpus (the materialized-view delta rule: ΔV = V(changes), the
    * warehouse move that makes a 100 TB nightly rollup a
    * changeset-sized job). Rows leaving (deleted, or shadowed by an
    * upsert of the same id) contribute (−1, −value); upsert rows
    * contribute (+1, +value); the old aggregate absorbs the net delta
    * group-wise. Groups whose count reaches 0 drop (matching a fresh
    * re-aggregation, which never emits empty groups). Output:
    * (groupCol, nCol, sumCol) — the same shape as `oldAgg`.
    *
    * The changeset-bounded contract is ENFORCED (the [[graft.dedup
    * .Dedup.contaminated]] style): the old rows being retracted are
    * fetched by a BROADCAST semi-join of the changeset-id union against
    * the corpus — the corpus is scanned once with a pushed filter and
    * never shuffles — so an in-plan row bound on that union makes a
    * corpus-sized "changeset" fail the first action with the fix in the
    * message, not OOM the driver mid-broadcast.
    *
    * Scale shape: every agg runs over changeset-sized frames
    * (map-side combined, group-keyed); the final merge is a
    * group-keyed full-outer join of two group-cardinality tables. */
  def maintainAggregate(oldAgg: DataFrame, oldDf: DataFrame,
      upserts: DataFrame, deleteIds: DataFrame, idCol: String,
      groupCol: String, valCol: String, nCol: String = "n_rows",
      sumCol: String = "sum_val", maxChangeRows: Int = 1000000): DataFrame = {
    val changeIds = Guards.atMost(
      upserts.select(col(idCol)).union(deleteIds.select(col(idCol))).distinct(),
      maxChangeRows,
      s"maintainAggregate: changeset exceeds $maxChangeRows ids — a " +
        "corpus-sized changeset cannot broadcast; re-aggregate from " +
        "scratch instead (it is the cheaper plan at that size), or raise " +
        "maxChangeRows if the delta genuinely fits the broadcast budget")
    val leaving = oldDf.join(broadcast(changeIds), Seq(idCol), "left_semi")
      .groupBy(groupCol).agg((-count(lit(1))).as("__dn"),
        (-coalesce(sum(col(valCol)), lit(0L))).as("__ds"))
    val entering = upserts
      .groupBy(groupCol).agg(count(lit(1)).as("__dn"),
        coalesce(sum(col(valCol)), lit(0L)).as("__ds"))
    val delta = leaving.unionByName(entering)
      .groupBy(groupCol).agg(sum(col("__dn")).as("__dn"),
        sum(col("__ds")).as("__ds"))
    oldAgg.join(delta, Seq(groupCol), "full_outer")
      .select(col(groupCol),
        (coalesce(col(nCol), lit(0L)) + coalesce(col("__dn"), lit(0L)))
          .as(nCol),
        (coalesce(col(sumCol), lit(0L)) + coalesce(col("__ds"), lit(0L)))
          .as(sumCol))
      .filter(col(nCol) > 0)
  }
}
