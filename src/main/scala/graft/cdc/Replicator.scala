package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * cycle reads the state log once, then: validate (dependency cycles,
  * schema drift, where-clause drift) → update (watermark incremental
  * pull + upsert, or full copy when stale per fullCopyThreshold) →
  * delete-sync (range-hash diff + changed-range reload). State (last
  * seen version + where clause per table) persists in a StateStore at
  * the sink's state path, like the reference's __sslr_state.
  *
  * On a [[BucketedParquetStore]] sink with delete sync on, update and
  * delete-sync are ONE reconcile per table per poll (see the private
  * `reconcile`): a per-bucket summary of source against target flags
  * the buckets holding an insert, a delete or a changed row, and one
  * bucket overwrite rewrites exactly those from the source. A table
  * that was fully copied in a cycle skips that cycle's delete diff.
  */
class Replicator(spark: SparkSession, cfg: ReplicationConfig,
                 source: TableStore, sink: TableStore) {

  /** Convenience: both ends are parquet directories. */
  def this(spark: SparkSession, cfg: ReplicationConfig,
           sourceDir: String, targetDir: String) =
    this(spark, cfg, new ParquetStore(spark, sourceDir),
      new ParquetStore(spark, targetDir))

  val state = new StateStore(spark, sink.statePath)

  private def readSource(t: TableConfig): DataFrame = {
    val df = source.read(t.name)
    t.where.map(w => df.filter(expr(w))).getOrElse(df)
  }

  private def targetExists(t: String): Boolean = sink.exists(t)

  private def readTarget(t: String): DataFrame = sink.read(t)

  private def writeTarget(t: String, df: DataFrame): Unit = sink.write(t, df)

  /** Tables whose validation found drift requiring a full resync. */
  private var forceSync = Set.empty[String]

  /** The state log as `run()` read it at the start of the cycle; None
    * outside a cycle, where the hooks read the store themselves.
    */
  @volatile private var cycleState: Option[Map[String, state.TableState]] = None

  private def stateOf(table: String): state.TableState =
    cycleState.fold(state.get(table))(_.getOrElse(table, state.TableState(0L, "")))

  /** Tables whose target already equals the source snapshot this cycle
    * (full copy or bucket reconcile): their delete sync has nothing to do.
    */
  private val synced = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // -- validate ------------------------------------------------------

  /** Cycle-checked dependency validation (reference job.go:96-160). */
  def validateTables(): Unit = {
    // schema reads (a listing and a footer read each) are independent
    // per table: fetch them concurrently, walk the dependencies after
    val schemas = perTable(cfg.tables.map(_.name)) { name =>
      name -> (source.read(name).schema,
        if (targetExists(name)) Some(readTarget(name).schema) else None)
    }.toMap
    var status = Map.empty[String, String] // unknown -> validating -> valid
    def validate(name: String): Unit = {
      if (status.get(name).contains("valid")) return
      if (status.get(name).contains("validating"))
        throw new IllegalStateException("filtered table dependency loop")
      status += name -> "validating"
      val t = cfg.tables.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"unknown table $name"))
      t.uses.foreach(validate)

      val (srcSchema, tgtSchema) = schemas(name)
      SchemaSync.decide(SchemaSync.compare(name, srcSchema, tgtSchema),
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
    val stale = forceSync.contains(t.name) || st.lastSeenVersion == 0L || !targetExists(t.name)
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

  /** Watermark pull + upsert, or a full copy when the target is stale. */
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
      // (emptiness, affected-bucket collect, both merge sides) — ONE
      // source extraction, not four (decisive on a JDBC source, and
      // the reads can't disagree on a live one). Durable under
      // spark.graft.checkpointDir: an executor loss mid-merge then
      // re-reads the batch from storage instead of re-querying a
      // source that has already moved past the recorded watermark.
      val changes = graft.util.Lineage.truncate(ChangeCapture.incrementalPull(
        src, version, st.lastSeenVersion, upperBound = Some(maxVersion)))
      if (!changes.isEmpty) {
        sink match {
          case b: BucketedParquetStore =>
            // O(batch) merge: read ONLY the partitions the change batch
            // touches (partition-pruned scan) and swap only those back
            b.upsert(t.name, changes, t.primaryKeys)
          case _ =>
            writeTarget(t.name,
              Merge.upsert(readTarget(t.name), changes, t.primaryKeys)
                .repartition(chunkParts(srcCount), t.primaryKeys.map(col): _*))
        }
        // one post-write metadata count per ACTUAL write (idle cycles
        // never touch the target at all)
        state.setTargetRows(t.name, readTarget(t.name).count())
      }
      state.setVersion(t.name, maxVersion)
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
        val df = j.readChunked(t.name, pk, cfg.copyChunks)
        t.where.map(w => df.filter(expr(w))).getOrElse(df)
      case _ => src
    }
    sink match {
      case b: BucketedParquetStore =>
        b.writeFull(t.name, ChangeCapture.fullCopy(copySrc), t.primaryKeys)
      case _ =>
        writeTarget(t.name, ChangeCapture.fullCopy(copySrc)
          .repartition(chunkParts(srcCount), t.primaryKeys.map(col): _*))
    }
    state.setProgress(t.name, maxVersion, srcCount)
    synced.add(t.name)
  }

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
    *     post-write count. On a LIVE source the recorded count can be
    *     off by rows that land between the summary and the rewrite; it
    *     only feeds the fullCopyThreshold check, and such rows carry
    *     versions past the recorded watermark (or change a key hash), so
    *     the next poll flags and rewrites their buckets.
    *
    * With `tracked` = None (updates not synced) the same reconcile
    * runs without the watermark term: delete sync with source reloads.
    */
  private def reconcile(t: TableConfig, b: BucketedParquetStore,
                        tracked: Option[state.TableState]): Unit = {
    // the summary assumes summary buckets == storage partitions: align
    // a stale or changed layout first (readWithBuckets then heals an
    // interrupted swap before the scan)
    b.ensureLayout(t.name, t.primaryKeys)
    val summary = RangeHashDiff.bucketSummary(readSource(t), b.readWithBuckets(t.name),
      t.primaryKeys, b.nBuckets, col(BucketedLayout.GB),
      tracked.map(st => col(t.versionColumn) -> st.lastSeenVersion)).collect()
    def total(c: String) = summary.map(_.getAs[Long](c)).sum
    val srcCount = total("src_keys")
    val maxVersion = summary.flatMap(r => Option(r.getAs[java.lang.Long]("max_version")))
      .map(_.longValue).maxOption.getOrElse(0L)

    // the recorded count, as on the pull path; the summary's target
    // count stands in when none is recorded
    val tgtCount = tracked.map(st => if (st.targetRows >= 0) st.targetRows else total("tgt_keys"))
    if (tgtCount.exists(_ < srcCount * cfg.fullCopyThreshold))
      copyFull(t, readSource(t), srcCount, maxVersion)
    else {
      val flagged = summary.filter { r =>
        r.getAs[Long]("src_keys") != r.getAs[Long]("tgt_keys") ||
          r.getAs[Long]("src_hash") != r.getAs[Long]("tgt_hash") ||
          r.getAs[Long]("changed") > 0
      }.map(_.getAs[Long]("bucket").toInt).toSeq
      if (flagged.nonEmpty) {
        val gb = BucketedLayout.bucketExpr(t.primaryKeys, b.nBuckets)
        b.overwriteBuckets(t.name, readSource(t).filter(gb.isin(flagged: _*)),
          t.primaryKeys, clearBuckets = flagged)
      }
      tracked match {
        case Some(_) if flagged.nonEmpty => state.setProgress(t.name, maxVersion, srcCount)
        case Some(st) if maxVersion != st.lastSeenVersion => state.setVersion(t.name, maxVersion)
        case None if flagged.nonEmpty => state.setTargetRows(t.name, srcCount)
        case _ => ()
      }
      synced.add(t.name)
    }
  }

  // -- deletes -------------------------------------------------------

  def syncDeletes(t: TableConfig): Unit = sink match {
    // Bucket-aligned delete sync: the summary's hash buckets ARE the
    // sink's storage partitions, so "divergent bucket" maps 1:1 to
    // "partition to reload" — rewrite exactly those directories,
    // O(divergence) I/O instead of a full-table stage-and-swap.
    case b: BucketedParquetStore => reconcile(t, b, tracked = None)
    case _ => syncDeletesFullRewrite(t)
  }

  private def syncDeletesFullRewrite(t: TableConfig): Unit = {
    val src = readSource(t)
    val tgt = readTarget(t.name)
    val (diff, bucket) = t.primaryKeys match {
      // single numeric pk: contiguous value-range buckets (reference
      // semantics, deletes.go:160 — reloads are contiguous ranges)
      case Seq(pk) =>
        (RangeHashDiff.diffBuckets(src, tgt, pk, cfg.deleteChunkSize),
          RangeHashDiff.rangeBucket(pk, cfg.deleteChunkSize))
      // composite pk: hash buckets — any key shape, same 2-scan diff
      case pks =>
        val nBuckets = math.max(1, (cfg.deleteChunkSize / 16).toInt)
        (RangeHashDiff.hashBucketDiff(src, tgt, pks, nBuckets),
          RangeHashDiff.hashBucket(pks, nBuckets))
    }
    // the diff runs ONCE: the clean step and the reload both take its
    // buckets as a literal set. A NULL key's bucket never matches (as in
    // a join), so such rows stay in the target and are not reloaded.
    val flagged = diff.select("bucket").collect().filterNot(_.isNullAt(0)).map(_.getLong(0))
    if (flagged.nonEmpty) {
      val inFlagged = bucket.isin(flagged.toSeq: _*)
      val cleaned = tgt.filter(!coalesce(inFlagged, lit(false)))
      writeTarget(t.name, cleaned.unionByName(src.filter(inFlagged)))
      state.setTargetRows(t.name, readTarget(t.name).count())
    }
  }

  /** One full sync cycle: validate → update → delete-sync, over the
    * state log read ONCE. Tables sync CONCURRENTLY (they touch disjoint
    * paths and the StateStore serializes its own writes) — the
    * reference is sequential only because it owns a single database
    * connection; a cluster engine overlaps one table's shuffle with
    * another's scan.
    */
  def run(): Unit = {
    synced.clear()
    cycleState = Some(state.all())
    try {
      validateTables()
      perTable(cfg.tables) { t =>
        if (cfg.syncUpdates) updateTable(t)
        if (cfg.syncDeletes && !synced.contains(t.name) && targetExists(t.name)) syncDeletes(t)
      }
    } finally {
      cycleState = None
      forceSync = Set.empty
      synced.clear()
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
