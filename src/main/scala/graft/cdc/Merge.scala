package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

/** Upsert/apply semantics — the Spark-native form of sslr's
  * delete-then-CopyFrom apply step (reference: internal/updates.go:162-226
  * `applyUpdates` / `deleteRows`).
  *
  * The reference deletes matching PKs inside a transaction and bulk
  * re-inserts. A distributed engine expresses the same end state
  * declaratively: `updates ∪ (base ⟕anti updates)` — every PK takes its
  * newest row, rows absent from updates survive unchanged.
  *
  * Scale: one shuffle of each side on the PK. When the target is
  * parquet bucketed by PK (see Replicator), the base side's shuffle is
  * avoided entirely; the anti join also benefits from AQE converting to
  * broadcast when the update batch is small — the common CDC case.
  */
object Merge {

  /** Apply `updates` to `base` by primary key (last-writer-wins). */
  def upsert(base: DataFrame, updates: DataFrame, pkCols: Seq[String]): DataFrame = {
    require(pkCols.nonEmpty, "upsert needs at least one primary-key column")
    updates.unionByName(withoutKeys(base, updates, pkCols))
  }

  /** `base` without the rows whose key a `keys` row holds, matched
    * null-safely: a NULL key is one row identity. A base partitioned on
    * the key (a table bucketed on it) keeps the equi-join, which reads
    * it in place (Spark plans `<=>` on `coalesce(key)` and would
    * reshuffle it), and matches the keys that hold a NULL, few in a key
    * column, in a second, broadcast anti-join. Any other base shuffles
    * on the key either way, so one `<=>` join matches with no extra job.
    */
  private def withoutKeys(base: DataFrame, keys: DataFrame, pkCols: Seq[String]): DataFrame =
    base.queryExecution.sparkPlan.outputPartitioning match {
      case HashPartitioning(on, _) if on.forall {
          case a: Attribute => pkCols.contains(a.name)
          case _ => false
        } =>
        val nullKeys = keys.filter(pkCols.map(col(_).isNull).reduce(_ || _))
        joinKeys(base.join(keys.select(pkCols.map(col): _*), pkCols, "left_anti"),
          broadcast(nullKeys), pkCols, "left_anti")
      case _ => joinKeys(base, keys, pkCols, "left_anti")
    }

  /** `rows` semi- or anti-joined (`how`) with `keys` on `pkCols`,
    * null-safely (`<=>`): the key match of [[upsert]] and
    * [[applyDeletes]], for the views that retract what they replace.
    * The keys are aliased: rows and keys often share lineage.
    */
  def joinKeys(rows: DataFrame, keys: DataFrame, pkCols: Seq[String], how: String): DataFrame = {
    val k = keys.select(pkCols.map(c => col(c).as(s"__key_$c")): _*)
    rows.join(k, pkCols.map(c => rows(c) <=> k(s"__key_$c")).reduce(_ && _), how)
  }

  /** Collapse a change batch to ONE row per PK, keeping the highest
    * version (ties broken deterministically by the remaining columns).
    * `upsert` assumes PK-unique updates — true when updates come from a
    * table snapshot, but a streaming micro-batch can carry several
    * change rows for the same PK (two files landing in one trigger),
    * and unioning them all would leave duplicate PKs in the target.
    *
    * Struct-max, not a row_number window: max is commutative, so Spark
    * partial-aggregates map-side and the shuffle carries one row per
    * (partition, PK) instead of every change row.
    */
  def latestByKey(updates: DataFrame, pkCols: Seq[String], versionCol: String): DataFrame = {
    val payload = updates.columns.filterNot(pkCols.contains).toSeq
    require(payload.nonEmpty, "latestByKey needs at least one non-PK column")
    require(updates.columns.contains(versionCol), s"unknown version column $versionCol")
    // a PK version column (append-only feeds version by the key itself)
    // is constant within a group — order by the payload alone then
    val ordered =
      if (payload.contains(versionCol)) versionCol +: payload.filterNot(_ == versionCol)
      else payload
    updates.groupBy(pkCols.map(col): _*)
      .agg(max(struct(ordered.map(col): _*)).as("__latest"))
      .select(pkCols.map(col) ++ ordered.map(c => col(s"__latest.`$c`").as(c)): _*)
      .select(updates.columns.toIndexedSeq.map(col): _*)
  }

  /** Remove rows whose PK appears in `deletedKeys`
    * (reference: deleteRows, updates.go:228).
    */
  def applyDeletes(target: DataFrame, deletedKeys: DataFrame, pkCols: Seq[String]): DataFrame =
    withoutKeys(target, deletedKeys, pkCols)
}
