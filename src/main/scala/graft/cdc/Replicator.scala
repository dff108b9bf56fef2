package graft.cdc

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Per-table replication settings (reference: internal/config.go).
  *
  * `where` is an optional SQL predicate (the reference's filtered
  * tables); `uses` lists tables the predicate depends on, validated
  * for cycles exactly like the reference's validationStatus machine
  * (job.go:96).
  */
case class TableConfig(
    name: String,
    primaryKeys: Seq[String],
    versionColumn: String,
    where: Option[String] = None,
    uses: Seq[String] = Nil)

/** Job-level knobs (reference: internal/config.go, sslr.json).
  * `updateChunkSize` maps to the incremental write's partition sizing;
  * `deleteChunkSize` is the range-hash bucket width. WITHIN a cycle,
  * throttling maps to Spark's own admission controls
  * (maxFilesPerTrigger when streaming, AQE partition sizing when
  * batch) — a cluster engine throttles by sizing parallelism, not by
  * sleeping a single connection; BETWEEN cycles the CLI additionally
  * enforces the reference's utilization-budget sleep
  * (`graft.Replicate.throttleWaitMs`).
  */
case class ReplicationConfig(
    tables: Seq[TableConfig],
    fullCopyThreshold: Double = 0.5,
    syncUpdates: Boolean = true,
    syncDeletes: Boolean = true,
    resyncOnSchemaChange: Boolean = false,
    updateChunkSize: Int = 10000,
    deleteChunkSize: Long = 50000,
    copyChunks: Int = 0)

/** End-to-end replication job between two [[TableStore]]s — the
  * Spark-native Job.Run (reference: internal/job.go:51).
  *
  * Stores are parquet directories in the specs ([[ParquetStore]]) or
  * databases ([[JdbcStore]], the reference's actual medium). Each
  * cycle reads the state log once, validates (dependency cycles,
  * schema drift, where-clause drift), then polls each table ONCE: a
  * full copy when stale per fullCopyThreshold, else the watermark
  * incremental pull + upsert with, when deletes sync, the range-hash
  * diff + changed-range reload folded in — one key diff and at most one
  * write per table. State (last seen version + where clause per table)
  * persists in a StateStore at the sink's state path, like the
  * reference's __sslr_state.
  *
  * With delete sync on, a [[BucketedParquetStore]] sink's poll is the
  * private `reconcile` (one bucket summary, one overwrite of the flagged
  * buckets from the source) and a flat sink's is `rewriteFlat`.
  *
  * Each table's source and target frames are resolved once per cycle,
  * by validation: every read of the poll (range query, summary, full
  * copy, merge, rewrite) shares that file listing and footer read. A
  * target is read afresh only after the cycle itself rewrote it: the
  * re-layout of a bucketed table, and the count after an upsert.
  */
class Replicator(spark: SparkSession, cfg: ReplicationConfig,
                 source: TableStore, sink: TableStore) {

  /** Convenience: both ends are parquet directories. */
  def this(spark: SparkSession, cfg: ReplicationConfig,
           sourceDir: String, targetDir: String) =
    this(spark, cfg, new ParquetStore(spark, sourceDir),
      new ParquetStore(spark, targetDir))

  val state = new StateStore(spark, sink.statePath)

  /** A table's unfiltered source and, if the sink has it, its target. */
  private case class Frames(source: DataFrame, target: Option[DataFrame])

  /** The frames `validateTables` resolved in this cycle; None outside
    * `run()`, where the hooks read the stores themselves.
    */
  @volatile private var cycleFrames: Option[Map[String, Frames]] = None

  private def framesOf(table: String): Option[Frames] = cycleFrames.flatMap(_.get(table))

  private def readSource(t: TableConfig): DataFrame =
    filtered(t, framesOf(t.name).fold(source.read(t.name))(_.source))

  /** The sink's table as a poll reads it: with the layout column on a bucketed sink. */
  private def storeTarget(table: String): DataFrame = sink match {
    case b: BucketedParquetStore => b.readWithBuckets(table)
    case _ => sink.read(table)
  }

  private def readTarget(table: String): DataFrame =
    framesOf(table).flatMap(_.target).getOrElse(storeTarget(table))

  private def filtered(t: TableConfig, df: DataFrame): DataFrame =
    t.where.map(w => df.filter(expr(w))).getOrElse(df)

  /** Tables whose validation found drift requiring a full resync. */
  private var forceSync = Set.empty[String]

  /** The state log as `run()` read it at the start of the cycle; None
    * outside a cycle, where the hooks read the store themselves.
    */
  @volatile private var cycleState: Option[Map[String, state.TableState]] = None

  private def stateOf(table: String): state.TableState =
    cycleState.fold(state.get(table))(_.getOrElse(table, state.TableState(0L, "")))

  // -- validate ------------------------------------------------------

  /** Cycle-checked dependency validation (reference job.go:96-160). */
  def validateTables(): Unit = {
    // the frames (a listing and a footer read each) are independent
    // per table: resolve them concurrently, walk the dependencies after
    val frames = perTable(cfg.tables.map(_.name)) { name =>
      name -> Frames(source.read(name),
        if (sink.exists(name)) Some(storeTarget(name)) else None)
    }.toMap
    if (cycleState.isDefined) cycleFrames = Some(frames)
    var status = Map.empty[String, String] // unknown -> validating -> valid
    def validate(name: String): Unit = {
      if (status.get(name).contains("valid")) return
      if (status.get(name).contains("validating"))
        throw new IllegalStateException("filtered table dependency loop")
      status += name -> "validating"
      val t = cfg.tables.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"unknown table $name"))
      t.uses.foreach(validate)

      val tgtSchema = frames(name).target.map(df => sink match {
        case _: BucketedParquetStore => df.drop(BucketedLayout.GB).schema
        case _ => df.schema
      })
      SchemaSync.decide(SchemaSync.compare(name, frames(name).source.schema, tgtSchema),
          cfg.resyncOnSchemaChange) match {
        case SchemaSync.Abort =>
          throw new IllegalStateException(s"schema mismatch for table $name")
        case SchemaSync.ForceResync => forceSync += name
        case _ => ()
      }

      // where-clause drift (reference job.go:180)
      val st = stateOf(name)
      val where = t.where.getOrElse("")
      if (st.isEmpty) state.setWhere(name, where)
      else if (st.whereClause != where) {
        if (cfg.resyncOnSchemaChange) { forceSync += name; state.setWhere(name, where) }
        else throw new IllegalStateException(
          s"filtered table $name where clause changed without resyncOnSchemaChange")
      }
      status += name -> "valid"
    }
    cfg.tables.foreach(t => validate(t.name))
  }

  // -- update --------------------------------------------------------

  def updateTable(t: TableConfig): Unit = {
    val st = stateOf(t.name)
    val stale = forceSync.contains(t.name) || st.lastSeenVersion == 0L || !sink.exists(t.name)
    sink match {
      case b: BucketedParquetStore if cfg.syncDeletes && !stale => reconcile(t, b, Some(st))
      case _ => pullAndApply(t, st, stale)
    }
  }

  // updateChunkSize is the reference's rows-per-chunk extraction
  // bound (updates.go:68); the Spark analog is output partition
  // sizing — each written partition carries ~chunkSize rows, hashed
  // by PK so the layout is stable across cycles. (A bucketed sink
  // sizes by its bucket count instead — the layout IS the chunking.)
  private def chunkParts(srcCount: Long): Int =
    math.max(1, math.ceil(srcCount.toDouble / cfg.updateChunkSize).toInt)

  /** Watermark pull + upsert, or a full copy when the target is stale;
    * with delete sync on (a flat sink) the upsert is a [[rewriteFlat]].
    */
  private def pullAndApply(t: TableConfig, st: state.TableState, stale: Boolean): Unit = {
    val src = readSource(t)
    val version = col(t.versionColumn).cast("long")

    val Array(srcCount, maxVersion) = {
      val r = ChangeCapture.updateRange(src, version).head()
      Array(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    val needFull = stale || {
      // the state-recorded count is the cheap path: counting a large
      // object-store target on EVERY poll cycle is O(files) listing
      // I/O; the recorded number is exact because this job is the
      // target's only writer (checkpoint single-writer rule)
      val tgtCount =
        if (st.targetRows >= 0) st.targetRows else readTarget(t.name).count()
      tgtCount < srcCount * cfg.fullCopyThreshold
    }

    if (needFull) copyFull(t, src, srcCount, maxVersion)
    else {
      // pull bounded to the recorded maxVersion: the range and the
      // watermark we persist must describe the same set of rows even
      // if the source gains rows between the two actions (live feeds;
      // see ChangeCapture.incrementalPull on snapshot isolation).
      // eager truncation: the change batch feeds up to four actions
      // (emptiness, affected-bucket collect or key diff, both merge
      // sides) — ONE source extraction, not four (decisive on a JDBC
      // source, and the reads can't disagree on a live one). Durable
      // under spark.graft.checkpointDir: an executor loss mid-merge then
      // re-reads the batch from storage instead of re-querying a
      // source that has already moved past the recorded watermark.
      val changes = graft.util.Lineage.truncate(ChangeCapture.incrementalPull(
        src, version, st.lastSeenVersion, upperBound = Some(maxVersion)))
      if (cfg.syncDeletes) rewriteFlat(t, src, Some(changes)) match {
        case Some(rows) => state.setProgress(t.name, maxVersion, rows)
        case None if maxVersion != st.lastSeenVersion => state.setVersion(t.name, maxVersion)
        case None => ()
      } else if (!changes.isEmpty) {
        sink match {
          case b: BucketedParquetStore =>
            // O(batch) merge: read ONLY the partitions the change batch
            // touches (partition-pruned scan) and swap only those back
            b.upsert(t.name, changes, t.primaryKeys)
          case _ =>
            sink.write(t.name,
              Merge.upsert(readTarget(t.name), changes, t.primaryKeys)
                .repartition(chunkParts(srcCount), t.primaryKeys.map(col): _*))
        }
        // one post-write metadata count per ACTUAL write (idle cycles
        // never touch the target at all), read afresh: the write
        // replaced the files the cycle's frame lists
        state.setProgress(t.name, maxVersion, sink.read(t.name).count())
      } else state.setVersion(t.name, maxVersion)
    }
  }

  /** Full filtered copy of `src`; the row count and max version come
    * from the caller's range query, so the state update is free.
    */
  private def copyFull(t: TableConfig, src: DataFrame, srcCount: Long, maxVersion: Long): Unit = {
    // copyChunks > 1 on a JDBC source with a single integer pk
    // routes the full-copy extraction through the A38 chunk plan:
    // one bounded connection per equi-depth chunk instead of the
    // reference's single streaming connection (copy.go:11)
    val copySrc = (source, t.primaryKeys) match {
      case (j: JdbcStore, Seq(pk)) if cfg.copyChunks > 1 =>
        filtered(t, j.readChunked(t.name, pk, cfg.copyChunks))
      case _ => src
    }
    sink match {
      case b: BucketedParquetStore =>
        b.writeFull(t.name, ChangeCapture.fullCopy(copySrc), t.primaryKeys)
      case _ =>
        sink.write(t.name, ChangeCapture.fullCopy(copySrc)
          .repartition(chunkParts(srcCount), t.primaryKeys.map(col): _*))
    }
    state.setProgress(t.name, maxVersion, srcCount)
  }

  /** Buckets a summary flags: key count or key-hash sum differ, or a
    * source row passed the watermark.
    */
  private def flaggedBuckets(summary: Array[Row]): Seq[Long] = summary.filter { r =>
    r.getAs[Long]("src_keys") != r.getAs[Long]("tgt_keys") ||
      r.getAs[Long]("src_hash") != r.getAs[Long]("tgt_hash") ||
      r.getAs[Long]("changed") > 0
  }.map(_.getAs[Long]("bucket")).toSeq

  private def total(summary: Array[Row], c: String): Long = summary.map(_.getAs[Long](c)).sum

  /** One-pass bucket reconcile of a table into a bucketed sink — the
    * whole poll for that table: the watermark pull, the upsert, the
    * delete diff and its reload in one summary and one rewrite.
    *
    *  1. Summary: ONE aggregation over the source and the target
    *     ([[RangeHashDiff.bucketSummary]], the target read through
    *     `readWithBuckets` so its bucket is the partition column),
    *     collected to the driver — at most `nBuckets` rows.
    *  2. Flagged buckets: key count or key-hash sum differ (an insert
    *     or a delete), or — with `tracked`, the table's state when
    *     updates sync — a source row's version passes the watermark (an
    *     update; exact, as the watermark pull is).
    *  3. Rewrite: one `overwriteBuckets` with the source rows of the
    *     flagged buckets, clearing flagged buckets the source emptied.
    *     The source is the truth, so nothing merges and the target is
    *     not read again.
    *  4. Bookkeeping from the summary: row count, max version and the
    *     new target row count (Σ source keys) — no range query, no
    *     post-write count. The summary, a full copy and the rewrite
    *     share ONE source frame, so a file source's scans see one
    *     listing; rows a LIVE source commits between them can still
    *     make the recorded count off. It only feeds the
    *     fullCopyThreshold check, and such rows carry versions past the
    *     recorded watermark (or change a key hash), so the next poll
    *     flags and rewrites their buckets.
    *
    * With `tracked` = None (updates not synced) the same reconcile
    * runs without the watermark term: delete sync with source reloads.
    */
  private def reconcile(t: TableConfig, b: BucketedParquetStore,
                        tracked: Option[state.TableState]): Unit = {
    // the summary assumes summary buckets == storage partitions: align
    // a stale or changed layout first. A re-layout deleted the files
    // the validated frame lists, so the target is then read afresh
    // (readWithBuckets heals an interrupted swap before the listing)
    val tgt = if (b.ensureLayout(t.name, t.primaryKeys)) b.readWithBuckets(t.name)
      else readTarget(t.name)
    val src = readSource(t)
    val summary = RangeHashDiff.bucketSummary(src, tgt, t.primaryKeys,
      RangeHashDiff.hashBucket(t.primaryKeys, b.nBuckets), col(BucketedLayout.GB),
      tracked.map(st => col(t.versionColumn) -> st.lastSeenVersion)).collect()
    val srcCount = total(summary, "src_keys")
    val maxVersion = summary.flatMap(r => Option(r.getAs[java.lang.Long]("max_version")))
      .map(_.longValue).maxOption.getOrElse(0L)

    // the recorded count, as on the pull path; the summary's target
    // count stands in when none is recorded
    val tgtCount = tracked.map(st =>
      if (st.targetRows >= 0) st.targetRows else total(summary, "tgt_keys"))
    if (tgtCount.exists(_ < srcCount * cfg.fullCopyThreshold))
      copyFull(t, src, srcCount, maxVersion)
    else {
      val flagged = flaggedBuckets(summary).map(_.toInt)
      if (flagged.nonEmpty) {
        val gb = BucketedLayout.bucketExpr(t.primaryKeys, b.nBuckets)
        b.overwriteBuckets(t.name, src.filter(gb.isin(flagged: _*)),
          t.primaryKeys, clearBuckets = flagged)
      }
      tracked match {
        case Some(_) if flagged.nonEmpty => state.setProgress(t.name, maxVersion, srcCount)
        case Some(st) if maxVersion != st.lastSeenVersion => state.setVersion(t.name, maxVersion)
        case None if flagged.nonEmpty => state.setTargetRows(t.name, srcCount)
        case _ => ()
      }
    }
  }

  /** A flat-sink poll with delete sync on: the reference's upsert,
    * range-hash compare and range reload (deletes.go:13-230) as ONE key
    * diff and at most ONE staged rewrite. The summary compares the
    * source with the target the upsert of `batch` will produce, so only
    * a delete (or a change the batch missed) flags a bucket — against
    * the pre-upsert target every insert would flag and reload its range.
    * The rewrite is the upserted target with the flagged buckets swapped
    * for their source rows. Returns Σ source keys when it wrote.
    */
  private def rewriteFlat(t: TableConfig, src: DataFrame,
                          batch: Option[DataFrame]): Option[Long] = {
    val pks = t.primaryKeys
    // contiguous value ranges of a single integral key (deletes.go:160);
    // hash buckets of any other key, which a bigint cast would reject.
    // A NULL key gets a bucket of its own, so a NULL-key row the source
    // deleted is compared and reloaded like any other range (the merge
    // replaces an updated one; the sentinel meets a real key only at
    // chunk size 1, key Long.MinValue: a reload copies the source anyway)
    val bucket = src.select(pks.map(col): _*).schema.map(_.dataType) match {
      case Seq(ByteType | ShortType | IntegerType | LongType) =>
        coalesce(RangeHashDiff.rangeBucket(pks.head, cfg.deleteChunkSize), lit(Long.MinValue))
      case _ => RangeHashDiff.hashBucket(pks, math.max(1, (cfg.deleteChunkSize / 16).toInt))
    }
    val tgt = readTarget(t.name)
    val pulled = batch.filterNot(_.isEmpty)
    val upserted = pulled.fold(tgt)(Merge.upsert(tgt, _, pks))
    val summary = RangeHashDiff.bucketSummary(src, upserted, pks, bucket, bucket).collect()
    val flagged = flaggedBuckets(summary)
    if (pulled.isEmpty && flagged.isEmpty) None
    else {
      val srcCount = total(summary, "src_keys")
      val rows = if (flagged.isEmpty) upserted else {
        val inFlagged = bucket.isin(flagged: _*)
        upserted.filter(!inFlagged).unionByName(src.filter(inFlagged))
      }
      sink.write(t.name, rows.repartition(chunkParts(srcCount), pks.map(col): _*))
      Some(srcCount)
    }
  }

  // -- deletes -------------------------------------------------------

  /** Delete sync with updates off: the poll's diff and rewrite without
    * the watermark term, on either sink.
    */
  def syncDeletes(t: TableConfig): Unit = sink match {
    case b: BucketedParquetStore => reconcile(t, b, tracked = None)
    case _ => rewriteFlat(t, readSource(t), batch = None).foreach(state.setTargetRows(t.name, _))
  }

  /** One full sync cycle over the state log read ONCE: validate (which
    * resolves each table's frames once), then one poll per table
    * (`syncDeletes` alone when updates are off).
    * Tables sync CONCURRENTLY (they touch disjoint paths and the
    * StateStore serializes its own writes) — the reference is
    * sequential only because it owns a single database connection; a
    * cluster engine overlaps one table's shuffle with another's scan.
    */
  def run(): Unit = {
    cycleState = Some(state.all())
    try {
      validateTables()
      perTable(cfg.tables) { t =>
        if (cfg.syncUpdates) updateTable(t)
        else if (cfg.syncDeletes && sink.exists(t.name)) syncDeletes(t)
      }
    } finally {
      cycleState = None
      cycleFrames = None
      forceSync = Set.empty
    }
  }

  /** `f` over `items` on up to 4 threads, results in input order. */
  private def perTable[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, math.max(1, items.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
    finally pool.shutdown()
  }

  /** Continuous polling mode (the reference's `-c` flag, main.go):
    * repeat sync cycles with a pause between them, up to `maxCycles`
    * (bounded for tests; pass Int.MaxValue to run until error).
    * `afterCycle(n)` runs after each completed cycle — a hook for
    * metrics or test mutation. Returns cycles completed. For a
    * push-based low-latency feed use `streaming.CdcStream` instead;
    * this mirrors the reference's poll loop for sources that only
    * support snapshot reads.
    */
  def runContinuous(pollIntervalMs: Long, maxCycles: Int,
                    afterCycle: Int => Unit = _ => ()): Int = {
    var n = 0
    while (n < maxCycles) {
      run()
      n += 1
      afterCycle(n)
      if (n < maxCycles && pollIntervalMs > 0) Thread.sleep(pollIntervalMs)
    }
    n
  }
}
