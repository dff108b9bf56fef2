package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a materialized (count, sum) aggregate
  * from a CDC change batch — the natural consumer of this library's
  * change capture: a replicated 100 TB fact table usually exists to
  * serve aggregates, and recomputing them from scratch per cycle costs
  * O(base) where the change batch justifies O(batch).
  *
  * Maintenance algebra (classic self-maintainable-view theory):
  * count/sum are commutative-group aggregates, so a change batch folds
  * into the stored state as signed deltas — each deleted or replaced
  * base row contributes (-1, -value), each upserted row (+1, +value) —
  * and only the GROUPS TOUCHED BY THE BATCH are rewritten. min/max are
  * not group aggregates (a deleted extremum forces a re-read of its
  * group); derive avg as sum/count downstream.
  *
  * Cost shape at scale: one pruned read of the base rows being
  * replaced (PK semi-join — partition-pruned on a bucketed target,
  * broadcast when the batch is small), one partial-aggregated shuffle
  * of O(batch) delta rows, one join against O(touched groups) of the
  * stored aggregate. The base table is never scanned.
  */
object AggMaintain {

  /** Signed contributions of a change batch.
    *
    * @param oldRows   the CURRENT base rows being replaced or deleted
    *                  (pk semi-join of the target against the batch's
    *                  keys — the caller reads them pruned)
    * @param newRows   the upserted rows (post-image; empty for a pure
    *                  delete batch)
    * @param grpCols   grouping keys of the maintained aggregate
    * @param valCol    value column (summed as decimal for exact,
    *                  order-independent maintenance)
    * @return per-group (d_count, d_sum) deltas — partial-aggregatable,
    *         one O(batch) shuffle
    */
  def deltas(oldRows: DataFrame, newRows: DataFrame,
             grpCols: Seq[String], valCol: String): DataFrame = {
    // a NULL value contributes 0 to the sum (SQL SUM skips NULLs) but
    // still ±1 to the count — without the coalesce, one NULL-valued
    // row would NULL the whole group's delta and the maintained sum
    val dec = (c: Column) =>
      coalesce(c.cast("decimal(18,2)"), lit(BigDecimal(0)).cast("decimal(18,2)"))
    val signed = newRows
      .select(grpCols.map(col) :+ lit(1L).as("__dc") :+ dec(col(valCol)).as("__dv"): _*)
      .unionByName(oldRows
        .select(grpCols.map(col) :+ lit(-1L).as("__dc") :+ (-dec(col(valCol))).as("__dv"): _*))
    signed.groupBy(grpCols.map(col): _*)
      .agg(sum(col("__dc")).as("d_count"),
        sum(col("__dv")).cast("decimal(28,2)").as("d_sum"))
  }

  /** Fold per-group deltas into the stored aggregate: untouched groups
    * pass through BY REFERENCE (anti join on the delta's keys — on a
    * group-bucketed store this is the partition-pruned no-op), touched
    * groups combine, groups whose count reaches zero vanish.
    *
    * `cntCol`/`sumCol` name the stored state columns; the result uses
    * the same names, so maintenance composes (apply ∘ apply).
    */
  def applyDeltas(oldAgg: DataFrame, delta: DataFrame, grpCols: Seq[String],
                  cntCol: String, sumCol: String): DataFrame = {
    val zero = lit(BigDecimal(0)).cast("decimal(18,2)")
    val touched = delta.join(oldAgg, grpCols, "left")
      .select(grpCols.map(col) ++ Seq(
        (coalesce(col(cntCol), lit(0L)) + col("d_count")).as(cntCol),
        (coalesce(col(sumCol), zero) + coalesce(col("d_sum"), zero))
          .cast("decimal(18,2)").as(sumCol)): _*)
      .filter(col(cntCol) > 0)
    oldAgg.join(delta.select(grpCols.map(col): _*), grpCols, "left_anti")
      .unionByName(touched)
  }

  /** End-to-end maintenance of a per-group (count, sum) aggregate
    * through one CDC cycle: `upserts` replace-or-insert by `pkCols`,
    * `deleteKeys` remove by `pkCols`. `base` is the pre-cycle table —
    * read ONLY on the batch's keys (broadcast semi-join; partition-
    * pruned when the target is bucketed by pk).
    *
    * Equivalent to (and spec/oracle-checked against) recomputing the
    * aggregate over the post-cycle table. Sums are NULL-free: a group
    * of all-NULL values reports 0.00 (stored-state convention, and
    * what the delta algebra preserves) where a from-scratch SQL SUM
    * would report NULL.
    *
    * `broadcastKeys` picks the replaced-row read: broadcast semi-join
    * for a normal (small) change batch; pass false for a bulk
    * backfill/bootstrap batch whose key set would not fit a broadcast
    * — the semi-join then shuffles both sides on the pk instead.
    */
  def maintainSumCount(spark: SparkSession, base: DataFrame, upserts: DataFrame,
                       deleteKeys: DataFrame, pkCols: Seq[String],
                       grpCols: Seq[String], valCol: String,
                       cntCol: String = "n_rows", sumCol: String = "sum_value",
                       oldAggOpt: Option[DataFrame] = None,
                       broadcastKeys: Boolean = true): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(18,2)")
    // the stored state; a caller with a live MV passes it in and the
    // base is then touched ONLY by the pruned replaced-row read
    val oldAgg = oldAggOpt.getOrElse(
      base.groupBy(grpCols.map(col): _*)
        .agg(count(lit(1)).as(cntCol),
          coalesce(sum(dec(col(valCol))), lit(BigDecimal(0)).cast("decimal(18,2)"))
            .as(sumCol)))
    applyDeltas(oldAgg,
      deltas(replacedRows(base, upserts, deleteKeys, pkCols, broadcastKeys),
        upserts, grpCols, valCol),
      grpCols, cntCol, sumCol)
  }

  /** The base rows a change batch replaces or deletes — the retract
    * side of [[deltas]]. Pruned read: pk semi-join against the batch's
    * keys, broadcast unless the caller says the batch is huge; keys
    * match null-safely, as [[Merge.upsert]] replaces them.
    */
  def replacedRows(base: DataFrame, upserts: DataFrame, deleteKeys: DataFrame,
                   pkCols: Seq[String], broadcastKeys: Boolean = true): DataFrame = {
    val touchedKeys = upserts.select(pkCols.map(col): _*)
      .unionByName(deleteKeys.select(pkCols.map(col): _*)).distinct()
    Merge.joinKeys(base, if (broadcastKeys) broadcast(touchedKeys) else touchedKeys,
      pkCols, "left_semi")
  }
}
