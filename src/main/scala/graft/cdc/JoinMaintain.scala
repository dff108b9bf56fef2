package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of a materialized JOIN view from CDC
  * change batches on EITHER side — the third member of the
  * maintenance family (A29 folds aggregates, A32 folds SCD2
  * histories; this folds the star-join itself). A replicated fact
  * table is usually served JOINED to its dimensions, and a 100 TB
  * view recomputed per cycle costs O(|fact|) where the change batches
  * justify O(touched).
  *
  * View contract: V = fact INNER JOIN dim ON fact.`fk` = dim.`dimPk`,
  * projecting every fact column plus `dimPayload` columns; `factPk`
  * keys the view (one dim row per key — `dimPk` is the dimension's
  * primary key). Inner-join semantics give the interesting deltas:
  * a dim DELETE cascades its fact rows OUT of the view, a dim INSERT
  * makes previously-dangling fact rows APPEAR, and a fact upsert that
  * moves `fk` re-homes the row — all three are folded, not rescanned.
  *
  * Maintenance algebra (delta rules for joins, Blakeley et al.
  * SIGMOD'86 lineage): with ΔF/ΔD the change batches and F'/D' the
  * post-state,
  *
  *   V' = (V − rows keyed by ΔF's pks − rows referencing ΔD's keys)
  *        ∪ (ΔF_upserts ⋈ D')                 — changed fact rows
  *        ∪ ((F − ΔF keys) ⋈_fk ΔD_upserts)   — changed dim rows
  *
  * Deletes need no explicit branch: a deleted fact pk is subtracted
  * and never re-added; a deleted dim key is subtracted and absent
  * from ΔD_upserts, so nothing re-derives under it.
  *
  * Cost shape at scale: untouched view rows pass through BY REFERENCE
  * (two anti joins against broadcast key sets — the partition-pruned
  * no-op on a pk-bucketed view store); the dim post-image is read only
  * on the keys the cycle needs (batch fks ∪ touched dim keys,
  * broadcast semi-join); the one unavoidable base-side read is the
  * fact scan for rows referencing touched dim keys — a broadcast
  * semi-join the scan absorbs, partition-pruned when the fact store
  * is bucketed/clustered by fk (the A32 bucketed-store identity
  * note), and skipped entirely when the cycle carries no dim changes.
  * The view itself is never shuffled.
  *
  * Batch contract (the Sampling.rebalance discipline): upsert batches
  * are collapsed post-images — at most one row per key, NULL keys
  * dropped on the dim side / inner-join-dropped on the fact side.
  * Feed raw multi-version feeds through [[Merge.latestByKey]] first.
  *
  * `outer = true` maintains the LEFT-OUTER (enrichment) view instead:
  * every fact row stays, dim payload goes NULL where no dim row
  * matches. The delta rules get SIMPLER in exactly the way classic
  * IVM theory says they should — an outer view holds every fact row,
  * so it is SELF-MAINTAINABLE: dim-side changes re-derive from the
  * view's own fact columns and the fold never reads the fact base at
  * all (a dim insert fills payload in, a dim delete NULLs it out —
  * nothing appears or vanishes). Inner mode is the one that must pay
  * the pruned fact-base read, because dangling rows live outside the
  * view.
  */
object JoinMaintain {

  /** Fold one CDC cycle (fact and/or dim changes) into the stored
    * view.
    *
    * @param view        pre-cycle materialized join view (fact cols ++
    *                    dimPayload cols)
    * @param factBase    pre-cycle fact table — read ONLY on the cycle's
    *                    touched dim keys (pruned; zero-read when the
    *                    dim batch is empty)
    * @param dimBase     pre-cycle dim table — read ONLY on the keys the
    *                    re-derivations need (pruned)
    * @param factUpserts fact post-images (replace-or-insert by factPk)
    * @param factDelKeys fact deletes (factPk columns)
    * @param dimUpserts  dim post-images (replace-or-insert by dimPk)
    * @param dimDelKeys  dim deletes (dimPk column)
    * @param broadcastKeys broadcast the touched-key sets (default) —
    *                    pass false for a bulk backfill whose key sets
    *                    would not fit a broadcast
    */
  def maintain(spark: SparkSession, view: DataFrame,
               factBase: DataFrame, dimBase: DataFrame,
               factUpserts: DataFrame, factDelKeys: DataFrame,
               dimUpserts: DataFrame, dimDelKeys: DataFrame,
               factPk: Seq[String], fk: String, dimPk: String,
               dimPayload: Seq[String],
               broadcastKeys: Boolean = true,
               outer: Boolean = false): DataFrame =
    maintainDelta(spark, view, factBase, dimBase, factUpserts, factDelKeys,
      dimUpserts, dimDelKeys, factPk, fk, dimPk, dimPayload,
      broadcastKeys, outer)._1

  /** [[maintain]] plus the fold's OWN change batch — what a CASCADE
    * needs: in a snowflake (fact ⋈ d1 ⋈ d2, maintained as views of
    * views), level N's maintained view is level N+1's fact table, so
    * level N must emit (upserts, deleteKeys) in the same post-image
    * contract it consumes. `_2` is the re-derived rows (every view
    * row this cycle added or replaced, keyed by factPk); `_3` is the
    * factPk keys that LEFT the view (dropped and not re-derived —
    * fact deletes, rows whose dim row vanished, rows re-homed onto a
    * missing dim). Both are O(touched); feeding them to the next
    * level's maintainDelta propagates one cycle through the whole
    * snowflake in one pass per level, no level ever rescanned.
    *
    * The delete side needs the PRE-view's touched keys, which costs
    * one extra pruned view read (two broadcast semi-joins) — callers
    * that don't cascade use [[maintain]] and skip it.
    */
  def maintainDelta(spark: SparkSession, view: DataFrame,
               factBase: DataFrame, dimBase: DataFrame,
               factUpserts: DataFrame, factDelKeys: DataFrame,
               dimUpserts: DataFrame, dimDelKeys: DataFrame,
               factPk: Seq[String], fk: String, dimPk: String,
               dimPayload: Seq[String],
               broadcastKeys: Boolean = true,
               outer: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    val bc = (df: DataFrame) => if (broadcastKeys) broadcast(df) else df
    // fact keys match null-safely (Merge.joinKeys), as the fact
    // replica's merge does: a NULL-pk row it replaces leaves the view
    val touchedFactPks = factUpserts.select(factPk.map(col): _*)
      .unionByName(factDelKeys.select(factPk.map(col): _*)).distinct()
    val touchedDimKeys = dimUpserts.select(col(dimPk))
      .unionByName(dimDelKeys.select(col(dimPk)))
      .filter(col(dimPk).isNotNull).distinct()

    // post-state dim restricted to the keys this cycle dereferences:
    // upserted keys carry their new image, deleted keys vanish,
    // untouched keys read pruned from the base
    val neededDimKeys = factUpserts.select(col(fk).as(dimPk))
      .filter(col(dimPk).isNotNull).distinct()
    val dimPost = dimBase
      .join(bc(touchedDimKeys), Seq(dimPk), "left_anti")
      .join(bc(neededDimKeys), Seq(dimPk), "left_semi")
      .select((dimPk +: dimPayload).map(col): _*)
      .unionByName(dimUpserts.select((dimPk +: dimPayload).map(col): _*))

    // untouched view rows pass through by reference
    val kept = Merge.joinKeys(view, bc(touchedFactPks), factPk, "left_anti")
      .join(bc(touchedDimKeys.select(col(dimPk).as(fk))), Seq(fk), "left_anti")

    // changed fact rows re-derive against the post dim; in OUTER mode
    // an unmatched fk keeps the row with NULL payload
    val joinType = if (outer) "left" else "inner"
    val fromFact = factUpserts
      .join(bc(dimPost), factUpserts(fk) === dimPost(dimPk), joinType)
      .select(factUpserts.columns.map(factUpserts(_)) ++
        dimPayload.map(dimPost(_)): _*)

    // fact rows referencing changed dim rows re-derive. INNER mode
    // reads the BASE: a dim INSERT must surface previously-DANGLING
    // fact rows the view has never held (the one pruned fact read,
    // skipped when the dim batch is empty); deleted dim keys are
    // simply absent from dimUpserts, so their rows never re-enter.
    // OUTER mode is SELF-MAINTAINABLE (classic IVM theory: outer
    // joins preserve every fact row, so the VIEW already holds all of
    // them) — it re-derives from the view's own fact columns and
    // NEVER reads the fact base: a touched key's rows re-join the new
    // image, deleted keys' rows fall to NULL payload via the left join
    val dimNew = dimUpserts.select((dimPk +: dimPayload).map(col): _*)
    val fromDim = if (outer) {
      val src = Merge.joinKeys(view, bc(touchedFactPks), factPk, "left_anti")
        .join(bc(touchedDimKeys.select(col(dimPk).as(fk))), Seq(fk),
          "left_semi")
        .drop(dimPayload: _*)
      // the view CARRIES the dim's lineage (build joined it), so a
      // plain re-join trips the ambiguous-self-join check — route the
      // new image through renamed temporaries
      val dimRen = dimNew.select(col(dimPk).as("__jm_dk") +:
        dimPayload.map(c => col(c).as(s"__jm_$c")): _*)
      src.join(bc(dimRen), src(fk) === col("__jm_dk"), "left")
        .select(src.columns.map(src(_)) ++
          dimPayload.map(c => col(s"__jm_$c").as(c)): _*)
    } else Merge.joinKeys(factBase, bc(touchedFactPks), factPk, "left_anti")
      .join(bc(dimNew), factBase(fk) === dimNew(dimPk), "inner")
      .select(factBase.columns.map(factBase(_)) ++
        dimPayload.map(dimNew(_)): _*)

    val rederived = fromFact.unionByName(fromDim)
    // keys that LEFT the view: touched in the pre-view (by fact pk or
    // via a touched dim key) and not re-derived this cycle
    val touchedInView = Merge.joinKeys(view, bc(touchedFactPks), factPk, "left_semi")
      .unionByName(view.join(
        bc(touchedDimKeys.select(col(dimPk).as(fk))), Seq(fk), "left_semi"))
      .select(factPk.map(col): _*).distinct()
    val droppedKeys = Merge.joinKeys(touchedInView, rederived, factPk, "left_anti")
    (kept.unionByName(rederived), rederived, droppedKeys)
  }

  /** Bootstrap the view this module maintains — named so callers and
    * specs share one definition of the projection contract.
    */
  def build(fact: DataFrame, dim: DataFrame, fk: String, dimPk: String,
            dimPayload: Seq[String], outer: Boolean = false): DataFrame =
    fact.join(dim.select((dimPk +: dimPayload).map(col): _*),
        fact(fk) === col(dimPk), if (outer) "left" else "inner")
      .select(fact.columns.map(fact(_)) ++ dimPayload.map(col): _*)

  /** One dimension of a STAR view: its pre-cycle base, this cycle's
    * post-image upserts and delete keys, the fact's fk column naming
    * it, the dim's primary key, and the projected payload columns.
    * Payload names must be distinct across a star's dims (alias on
    * the way in); fk columns must be distinct too.
    */
  case class StarDim(base: DataFrame, upserts: DataFrame,
                     delKeys: DataFrame, fk: String, dimPk: String,
                     payload: Seq[String])

  /** Bootstrap the k-dim star view: fact ⋈ d1 ⋈ … ⋈ dk in one
    * projection (every fact column plus every dim's payload), inner
    * or left per `outer`. Dim joins route through renamed temporaries
    * — a dim sharing lineage with the fact (or re-joined later) must
    * not trip the ambiguous-self-join check.
    */
  def buildStar(fact: DataFrame, dims: Seq[StarDim],
                outer: Boolean = false): DataFrame = {
    val jt = if (outer) "left" else "inner"
    val joined = dims.zipWithIndex.foldLeft(fact) { case (acc, (d, i)) =>
      val dp = d.base.select(col(d.dimPk).as(s"__sb${i}_k") +:
        d.payload.map(c => col(c).as(s"__sb${i}_$c")): _*)
      acc.join(dp, col(d.fk) === col(s"__sb${i}_k"), jt)
    }
    joined.select(fact.columns.map(col) ++ dims.zipWithIndex.flatMap {
      case (d, i) => d.payload.map(c => col(s"__sb${i}_$c").as(c)) }: _*)
  }

  /** [[maintainStarDelta]]'s view-only face — the k-dim sibling of
    * [[maintain]]. */
  def maintainStar(spark: SparkSession, view: DataFrame,
                   factBase: DataFrame, factUpserts: DataFrame,
                   factDelKeys: DataFrame, factPk: Seq[String],
                   dims: Seq[StarDim], broadcastKeys: Boolean = true,
                   outer: Boolean = false): DataFrame =
    maintainStarDelta(spark, view, factBase, factUpserts, factDelKeys,
      factPk, dims, broadcastKeys, outer)._1

  /** Fold one CDC cycle touching the fact AND any number of
    * dimensions into a k-dim STAR view in ONE pass over ONE store —
    * the per-dim delta rules of [[maintainDelta]] composed: kept =
    * view anti-joined on the union of every side's touched keys; the
    * re-derive set = changed fact rows ∪ fact rows referencing ANY
    * touched dim key (found with one scan carrying k broadcast
    * markers and an OR filter — never k scans, never a self-join);
    * each re-derived row then joins every dim's post-image (upserted
    * keys carry the new image, deleted keys vanish, untouched keys
    * read from the base), inner or left per `outer`. A row touched
    * through several dims re-derives ONCE.
    *
    * Cost shape: the view is never shuffled (two broadcast anti-join
    * families); the one base-side read is the fact scan for rows
    * referencing touched dim keys — pruned/absent exactly as in
    * [[maintainDelta]] (OUTER mode reads the view's own fact columns
    * instead: self-maintainability survives composition, because a
    * left join per dim preserves every fact row regardless of k).
    * Dim post-images are read whole-minus-touched (dims are the small
    * side by the star doctrine — broadcast under `broadcastKeys`);
    * a star over a LARGE dim should hold that dim as its own
    * snowflake level instead (see CLUSTER.md: star vs cascade).
    *
    * Returns (view', rederived upserts, dropped keys) in the same
    * cascade contract as [[maintainDelta]] — a snowflake can chain a
    * star level.
    */
  def maintainStarDelta(spark: SparkSession, view: DataFrame,
                        factBase: DataFrame, factUpserts: DataFrame,
                        factDelKeys: DataFrame, factPk: Seq[String],
                        dims: Seq[StarDim], broadcastKeys: Boolean = true,
                        outer: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    require(dims.nonEmpty, "a star needs at least one dimension")
    require(dims.map(_.fk).distinct.size == dims.size,
      s"fk columns must be distinct, got ${dims.map(_.fk)}")
    val allPayload = dims.flatMap(_.payload)
    require(allPayload.distinct.size == allPayload.size,
      s"payload columns must be distinct across dims, got $allPayload")
    val bc = (df: DataFrame) => if (broadcastKeys) broadcast(df) else df
    val touchedFactPks = factUpserts.select(factPk.map(col): _*)
      .unionByName(factDelKeys.select(factPk.map(col): _*)).distinct()
    val touchedPerDim = dims.map { d =>
      d.upserts.select(col(d.dimPk))
        .unionByName(d.delKeys.select(col(d.dimPk)))
        .filter(col(d.dimPk).isNotNull).distinct()
    }

    // untouched view rows pass through by reference
    val kept = dims.zip(touchedPerDim).foldLeft(
        Merge.joinKeys(view, bc(touchedFactPks), factPk, "left_anti")) {
      case (acc, (d, tk)) =>
        acc.join(bc(tk.select(col(d.dimPk).as(d.fk))), Seq(d.fk), "left_anti")
    }

    // fact rows that must re-derive because SOME dim they reference
    // changed: INNER reads the base (previously-dangling rows live
    // outside the view), OUTER reads the view's own fact columns
    val factCols =
      if (outer) view.columns.filterNot(allPayload.contains).toSeq
      else factBase.columns.toSeq
    val src = Merge.joinKeys(if (outer) view.drop(allPayload: _*) else factBase,
      bc(touchedFactPks), factPk, "left_anti")
    val marked = dims.zip(touchedPerDim).zipWithIndex.foldLeft(src) {
      case (acc, ((d, tk), i)) =>
        acc.join(bc(tk.select(col(d.dimPk).as(d.fk))
          .withColumn(s"__sm$i", lit(true))), Seq(d.fk), "left")
    }
    val affected = marked
      .filter(dims.indices.map(i => col(s"__sm$i").isNotNull).reduce(_ || _))
      .drop(dims.indices.map(i => s"__sm$i"): _*)
      .select(factCols.map(col): _*)

    val rederiveSrc = factUpserts.select(factCols.map(col): _*)
      .unionByName(affected)
    val jt = if (outer) "left" else "inner"
    val joined = dims.zip(touchedPerDim).zipWithIndex.foldLeft(rederiveSrc) {
      case (acc, ((d, tk), i)) =>
        val post = d.base.join(bc(tk), Seq(d.dimPk), "left_anti")
          .select((d.dimPk +: d.payload).map(col): _*)
          .unionByName(d.upserts.select((d.dimPk +: d.payload).map(col): _*))
        val dp = post.select(col(d.dimPk).as(s"__sd${i}_k") +:
          d.payload.map(c => col(c).as(s"__sd${i}_$c")): _*)
        acc.join(bc(dp), col(d.fk) === col(s"__sd${i}_k"), jt)
    }
    val rederived = joined.select(factCols.map(col) ++
      dims.zipWithIndex.flatMap { case (d, i) =>
        d.payload.map(c => col(s"__sd${i}_$c").as(c)) }: _*)

    // keys that LEFT the view: touched in the pre-view, not re-derived
    val touchedInView = dims.zip(touchedPerDim).map { case (d, tk) =>
        view.join(bc(tk.select(col(d.dimPk).as(d.fk))), Seq(d.fk), "left_semi")
      }
      .foldLeft(Merge.joinKeys(view, bc(touchedFactPks), factPk, "left_semi"))(
        _ unionByName _)
      .select(factPk.map(col): _*).distinct()
    val droppedKeys = Merge.joinKeys(touchedInView, rederived, factPk, "left_anti")
    (kept.unionByName(rederived), rederived, droppedKeys)
  }
}
