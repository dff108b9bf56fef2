package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc._

/** Source wrapper: serves the snapshot the current poll cycle sees.
  * Every cycle's snapshot is written before timing starts; moving
  * `snapshot` is all that "committing" a change cycle costs.
  */
final class SnapshotSource(spark: SparkSession, root: String, tr: Tracer)
    extends ParquetStore(spark, root) {
  @volatile var snapshot = 0
  override protected def path(t: String): String = CdcWorkload.snapshotPath(root, snapshot, t)
  override def read(table: String): DataFrame = tr.span(s"tablestore.source_read:$table")(super.read(table))
}

/** Flat parquet sink whose calls are timed, then delegated. */
final class TracedParquetStore(spark: SparkSession, dir: String, tr: Tracer)
    extends ParquetStore(spark, dir) {
  override def read(table: String): DataFrame = tr.span(s"tablestore.read:$table")(super.read(table))
  override def write(table: String, df: DataFrame): Unit =
    tr.span(s"tablestore.write:$table")(super.write(table, df))
}

/** Bucketed sink whose calls are timed, then delegated. */
final class TracedBucketedStore(spark: SparkSession, dir: String, n: Int, tr: Tracer)
    extends BucketedParquetStore(spark, dir, n) {
  override def read(table: String): DataFrame = tr.span(s"tablestore.read:$table")(super.read(table))
  override def write(table: String, df: DataFrame): Unit =
    tr.span(s"tablestore.write:$table")(super.write(table, df))
  override def writeFull(table: String, df: DataFrame, pkCols: Seq[String]): Unit =
    tr.span(s"bucketedlayout.write_full:$table")(super.writeFull(table, df, pkCols))
  override def upsert(table: String, batch: DataFrame, pkCols: Seq[String]): Unit =
    tr.span(s"bucketedlayout.upsert:$table")(super.upsert(table, batch, pkCols))
  override def overwriteBuckets(table: String, df: DataFrame, pkCols: Seq[String],
                                clearBuckets: Seq[Int]): Unit =
    tr.span(s"bucketedlayout.overwrite_buckets:$table") {
      tr.count("buckets_flagged", clearBuckets.size)
      super.overwriteBuckets(table, df, pkCols, clearBuckets)
    }
}

/** Replicator whose three per-cycle steps are timed, then delegated;
  * `run()` dispatches to these overrides.
  */
final class TracedReplicator(spark: SparkSession, cfg: ReplicationConfig,
                             source: TableStore, sink: TableStore, tr: Tracer)
    extends Replicator(spark, cfg, source, sink) {
  override def validateTables(): Unit = tr.span("replicator.validate")(super.validateTables())
  override def updateTable(t: TableConfig): Unit =
    tr.span(s"replicator.update:${t.name}")(super.updateTable(t))
  override def syncDeletes(t: TableConfig): Unit =
    tr.span(s"replicator.deletes:${t.name}")(super.syncDeletes(t))
}
