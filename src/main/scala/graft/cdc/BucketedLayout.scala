package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Fs

/** Hash-bucket partition layout for incremental sinks.
  *
  * A plain parquet target forces every upsert/delete cycle to stage and
  * swap the WHOLE table — O(target) I/O per cycle, the scale-killer the
  * round-1 review called out. Laying the table out as hive partitions
  * `graft_bucket=k` with k = portable_hash(pk) mod nBuckets makes a
  * cycle O(touched buckets): the merge reads only affected partitions
  * (partition-pruned scan) and the write swaps only those partition
  * directories; untouched partitions keep their exact files.
  *
  * The SAME bucket family drives change detection, so a divergent
  * bucket IS a storage partition. The Replicator's poll is one
  * reconcile per table: a per-bucket summary of source against target
  * ([[RangeHashDiff.bucketSummary]]: key count, key-hash sum, rows past
  * the watermark) flags the buckets that differ, and ONE
  * [[overwriteBuckets]] rewrites exactly those partitions from the
  * source rows — no merge, no target read. [[upsertBuckets]] (merge a
  * change batch into its buckets) serves the streaming fold and
  * update-only replication.
  *
  * On a transactional table format this is `MERGE INTO`; with plain
  * parquet the per-partition swap gives the same pruned-I/O shape with
  * a brief window per partition (rename is metadata-only on HDFS).
  */
object BucketedLayout {

  /** The layout column / partition directory name. */
  val GB = "graft_bucket"

  /** Marker file recording the bucket count a target was laid out
    * with. Underscore prefix → invisible to Spark's file listing.
    */
  val MARKER = "_graft_buckets"

  /** The bucket count a target was laid out with, if recorded. A
    * garbled marker reads as absent — the upsert path then self-heals
    * with a full re-layout instead of crash-looping.
    */
  def readBucketCount(spark: SparkSession, destPath: String): Option[Int] =
    Fs.readSmallText(spark, destPath, MARKER).flatMap(_.toIntOption)

  private[graft] def writeMarker(spark: SparkSession, dir: String, nBuckets: Int): Unit =
    Fs.writeSmallText(spark, dir, MARKER, nBuckets.toString)

  /** bucket k for a row: portable 60-bit hash of the (injective)
    * pk-tuple encoding, mod nBuckets — any key shape, skew-free.
    */
  def bucketExpr(pkCols: Seq[String], nBuckets: Int): Column =
    RangeHashDiff.hashBucket(pkCols, nBuckets).cast("int")

  /** The one staging write of [[writeFull]] and [[overwriteBuckets]]:
    * `df` partitioned by bucket into `tmp`. The repartition on the
    * layout column puts every row of a bucket in ONE shuffle partition,
    * so each bucket directory gets exactly one file. It names no
    * partition count, so AQE may merge whole small partitions (a small
    * table is written by one task, not one per bucket) but never splits
    * one; a large table keeps its parallelism.
    */
  private def stage(df: DataFrame, pkCols: Seq[String], nBuckets: Int, tmp: String): Unit =
    df.withColumn(GB, bucketExpr(pkCols, nBuckets))
      .repartition(col(GB))
      .write.partitionBy(GB).mode("overwrite").parquet(tmp)

  /** Full (re)write: [[stage]] the whole table, then swap it in whole. */
  def writeFull(spark: SparkSession, df: DataFrame, pkCols: Seq[String],
                nBuckets: Int, destPath: String): Unit = {
    val tmp = stagingPath(destPath)
    stage(df, pkCols, nBuckets, tmp)
    // marker lands in staging BEFORE the swap: the published target is
    // never visible without its bucket count
    writeMarker(spark, tmp, nBuckets)
    Fs.replace(spark, tmp, destPath)
  }

  /** Partition-pruned overwrite: stage ONLY `df`'s buckets, then swap
    * exactly those partition directories into the target (plus
    * `clearBuckets`, for buckets whose rows vanished entirely — they
    * produce no staged dir but must still be dropped). Every other
    * partition's files are untouched — not rewritten, not moved.
    *
    * `clearBuckets` may simply be the batch's full TOUCHED set: a
    * candidate that also appears in the staged output is being
    * replaced, not cleared, and is skipped here. Callers therefore
    * never need a separate "which buckets survived the merge" action —
    * the staged partition listing already answers it (one driver
    * collect per trigger removed from every streaming fold).
    *
    * `df` may derive from the very partitions being replaced (the
    * usual merge-from-self); staging materializes it first, so the
    * swap never races the read.
    */
  def overwriteBuckets(spark: SparkSession, df: DataFrame, pkCols: Seq[String],
                       nBuckets: Int, destPath: String,
                       clearBuckets: Seq[Int] = Nil): Unit = {
    // the caller's merge/diff was computed under `nBuckets`; applying
    // it to a target laid out with a DIFFERENT count would scatter
    // duplicate PKs across partitions — fail loudly instead
    readBucketCount(spark, destPath).foreach { recorded =>
      require(recorded == nBuckets,
        s"$destPath is laid out with $recorded buckets, not $nBuckets; " +
          "re-layout via writeFull/upsertBuckets before partial overwrites")
    }
    // partition-swap staging has its OWN name: recovery must be able
    // to tell "complete per-partition swaps" (safe to finish dir by
    // dir) from a writeFull staging (only ever swapped whole)
    val tmp = partitionStagingPath(destPath)
    stage(df, pkCols, nBuckets, tmp)
    val f = Fs.fs(spark, destPath)
    val staged = f.listStatus(new Path(tmp))
      .filter(_.getPath.getName.startsWith(s"$GB="))
    val stagedNames = staged.map(_.getPath.getName).toSet
    clearBuckets.filterNot(k => stagedNames.contains(s"$GB=$k"))
      .foreach(k => Fs.delete(spark, s"$destPath/$GB=$k"))
    staged.foreach { st =>
      Fs.replace(spark, st.getPath.toString, s"$destPath/${st.getPath.getName}")
    }
    Fs.delete(spark, tmp)
  }

  /** Partition-pruned upsert of a PK-unique change batch into a
    * bucketed target: read ONLY the partitions the batch's keys hash
    * into, merge, swap exactly those back. The entry point for the
    * streaming micro-batch merge and for the Replicator's incremental
    * cycle when delete sync is off — O(batch) I/O, not O(target).
    *
    * `batch` should be materialized (checkpointed/persisted) by the
    * caller if it derives from a live source: it feeds the affected-
    * bucket collect AND both sides of the merge write.
    */
  def upsertBuckets(spark: SparkSession, destPath: String, batch: DataFrame,
                    pkCols: Seq[String], nBuckets: Int): Unit = {
    // heal a writeFull swap that crashed between its delete and its
    // rename — otherwise the missing target reads as empty and the
    // merge below silently restarts the table from this batch
    recoverSwap(spark, destPath)
    // a target laid out with a different bucket count (or a legacy one
    // with no marker) CANNOT take a pruned merge: keys hash to other
    // partitions and existing rows would be missed → duplicate PKs.
    // Self-heal with one full re-layout under the requested count.
    if (!readBucketCount(spark, destPath).contains(nBuckets)) {
      val merged = Merge.upsert(spark.read.parquet(destPath).drop(GB), batch, pkCols)
      writeFull(spark, merged, pkCols, nBuckets, destPath)
    } else {
      val affected = batch.select(bucketExpr(pkCols, nBuckets).as("gb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val base = spark.read.parquet(destPath)
        .filter(col(GB).isin(affected: _*))
        .drop(GB)
      overwriteBuckets(spark, Merge.upsert(base, batch, pkCols), pkCols, nBuckets, destPath)
    }
  }

  /** Heal an interrupted swap before the target is next read.
    *
    * Two windows (single-writer stores, like every stage-and-swap
    * here):
    *  - [[writeFull]] crashed between Fs.replace's delete and rename:
    *    the target is gone but staging holds the complete committed
    *    layout — promote it whole ([[Fs.recoverReplace]]).
    *  - [[overwriteBuckets]] crashed mid-way through its per-partition
    *    swaps: the committed staging dir still holds exactly the
    *    partitions that were NOT yet renamed in (a successful swap
    *    MOVES the staged dir out of staging). Without healing, a
    *    bucket whose live dir was deleted but whose staged dir wasn't
    *    renamed reads as empty and a replayed merge would silently
    *    drop every untouched row co-bucketed with the batch's keys.
    *    Finish the remaining swaps, then drop staging.
    */
  def recoverSwap(spark: SparkSession, destPath: String): Boolean = {
    if (Fs.recoverReplace(spark, stagingPath(destPath), destPath)) true
    else {
      val tmp = partitionStagingPath(destPath)
      val f = Fs.fs(spark, destPath)
      if (f.exists(new Path(destPath)) &&
        f.exists(new Path(tmp, "_SUCCESS"))) {
        val staged = f.listStatus(new Path(tmp))
          .filter(_.getPath.getName.startsWith(s"$GB="))
        staged.foreach { st =>
          Fs.replace(spark, st.getPath.toString, s"$destPath/${st.getPath.getName}")
        }
        Fs.delete(spark, tmp)
        staged.nonEmpty
      } else false
    }
  }

  private def stagingPath(destPath: String): String = {
    val p = new Path(destPath)
    new Path(p.getParent, s"__staging_${p.getName}").toString
  }

  private def partitionStagingPath(destPath: String): String = {
    val p = new Path(destPath)
    new Path(p.getParent, s"__stagingp_${p.getName}").toString
  }
}

/** Parquet store whose tables are laid out by [[BucketedLayout]]. The
  * Replicator detects this store type and switches to the one-pass
  * bucket reconcile (partition-pruned merges when delete sync is off);
  * `read` hides the layout column so the logical table is unchanged.
  */
class BucketedParquetStore(spark: SparkSession, dir: String, val nBuckets: Int)
    extends ParquetStore(spark, dir) {

  override def read(table: String): DataFrame =
    readWithBuckets(table).drop(BucketedLayout.GB)

  /** Read WITH the layout column, for partition-pruned merges. Every
    * read first heals an interrupted swap (full or per-partition), so
    * a crashed cycle can never surface a half-swapped table.
    */
  def readWithBuckets(table: String): DataFrame = {
    BucketedLayout.recoverSwap(spark, path(table))
    super.read(table)
  }

  def writeFull(table: String, df: DataFrame, pkCols: Seq[String]): Unit =
    BucketedLayout.writeFull(spark, df, pkCols, nBuckets, path(table))

  def overwriteBuckets(table: String, df: DataFrame, pkCols: Seq[String],
                       clearBuckets: Seq[Int] = Nil): Unit =
    BucketedLayout.overwriteBuckets(spark, df, pkCols, nBuckets, path(table), clearBuckets)

  /** Partition-pruned upsert of a PK-unique change batch. */
  def upsert(table: String, batch: DataFrame, pkCols: Seq[String]): Unit =
    BucketedLayout.upsertBuckets(spark, path(table), batch, pkCols, nBuckets)

  /** Re-layout the stored table under THIS store's bucket count when
    * its recorded layout disagrees (or predates the marker). The
    * upsert path self-heals on its own; delete-only cycles go through
    * partial overwrites whose bucket arithmetic silently disagrees
    * with a stale layout — callers run this first. True when it
    * rewrote the table: a frame read before then lists deleted files.
    */
  def ensureLayout(table: String, pkCols: Seq[String]): Boolean = {
    val relayout = exists(table) &&
      !BucketedLayout.readBucketCount(spark, path(table)).contains(nBuckets)
    if (relayout) writeFull(table, read(table), pkCols)
    relayout
  }
}
