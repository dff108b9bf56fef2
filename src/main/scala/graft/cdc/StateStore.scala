package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-table replication state — the Spark-native form of sslr's
  * `__sslr_state` table (reference: internal/state.go).
  *
  * Stored as an APPEND LOG of JSON-line files, not a rewritten table:
  * every mutation creates ONE tiny uniquely-named file holding one
  * record (table_name, last_seen_version?, where_clause?, seq), with
  * the two value fields nullable so `setVersion` and `setWhere` append
  * independent records. Current state is, per table, the highest-seq
  * non-null value of each field.
  *
  * Appends write through the Hadoop FS API directly (create + rename),
  * NOT a Spark write job: concurrent Spark jobs appending one
  * directory race on the shared `_temporary` committer dir, and the
  * Replicator syncs tables in parallel. Distinct files per append mean
  * there is no read-modify-write window at all — no writer can lose
  * another's update. Same write-ahead shape as Structured Streaming's
  * checkpoint log, and like it one writer PROCESS per state path.
  *
  * The log self-compacts past `compactAfter` files (latest-per-table
  * rewritten as one file) so reads stay a single-file scan.
  */
class StateStore(spark: SparkSession, path: String) {
  private val compactAfter = 64

  // seq: strictly increasing within this process. Seeded from
  // max(existing log seq, ms-epoch base): the clock base alone keeps a
  // restarted process above its own past writes ONLY while the clock
  // never steps backwards — after a clock step (VM migration, NTP
  // correction) fresh appends would sort BELOW existing records and be
  // silently superseded. File names carry their seq, so the existing
  // max is one listing, no scan.
  private val seq = new java.util.concurrent.atomic.AtomicLong({
    val f = graft.util.Fs.fs(spark, path)
    val p = new Path(path)
    val maxExisting =
      if (!f.exists(p)) 0L
      else f.listStatus(p).map(_.getPath.getName)
        .filter(n => n.startsWith("log-") && n.endsWith(".json"))
        .flatMap(_.stripPrefix("log-").takeWhile(_ != '-').toLongOption)
        .foldLeft(0L)(math.max)
    math.max(System.currentTimeMillis() * 1000000L, maxExisting)
  })

  private val schema = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("last_seen_version", LongType, nullable = true),
    StructField("where_clause", StringType, nullable = true),
    StructField("target_rows", LongType, nullable = true),
    StructField("seq", LongType, nullable = false)))

  private def log(): DataFrame =
    if (graft.util.Fs.existsNonEmpty(spark, path)) {
      // a pre-append-log state dir held a rewritten PARQUET table;
      // reading it as JSON parses nothing, every watermark reads as 0,
      // and the next cycle silently degrades to full copies — refuse
      if (graft.util.Fs.hasFileWithSuffix(spark, path, ".parquet"))
        throw new IllegalStateException(
          s"$path holds parquet files — a legacy (pre-append-log) state " +
            "table, not a JSON log. Migrate it: read the old state, " +
            "put() it into a fresh path, and point the store there.")
      spark.read.schema(schema).json(path)
    } else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Latest state per table (the logical `__sslr_state` view):
    * per-field latest non-null record. struct-max aggregation is
    * partial-aggregatable and skips nulls, so this stays one tiny
    * shuffle however many appends accumulated between compactions.
    */
  def stateTable(): DataFrame =
    log().groupBy("table_name")
      .agg(
        max(when(col("last_seen_version").isNotNull,
          struct(col("seq"), col("last_seen_version")))).as("mv"),
        max(when(col("where_clause").isNotNull,
          struct(col("seq"), col("where_clause")))).as("mw"),
        max(when(col("target_rows").isNotNull,
          struct(col("seq"), col("target_rows")))).as("mr"))
      .select(col("table_name"),
        coalesce(col("mv.last_seen_version"), lit(0L)).as("last_seen_version"),
        coalesce(col("mw.where_clause"), lit("")).as("where_clause"),
        coalesce(col("mr.target_rows"), lit(-1L)).as("target_rows"))

  /** `targetRows` < 0 = unknown (never recorded): the fullCopy decision
    * then falls back to counting the target — on a large object-store
    * target the recorded count is the cheap path (VERDICT r1 item).
    */
  case class TableState(lastSeenVersion: Long, whereClause: String,
                        targetRows: Long = -1L) {
    def isEmpty: Boolean = lastSeenVersion == 0L && whereClause.isEmpty
  }

  /** Every table's current state in ONE read of the log — what a
    * replication cycle reads up front instead of a lookup per table.
    */
  // all() holds the read lock across the collect: compaction deletes
  // superseded log files, and an unlocked concurrent reader could list
  // a file that vanishes before its scan task opens it. (stateTable()
  // is lazy — callers running their own actions on it should not race
  // a writer; the Replicator only reads through all() and get().)
  def all(): Map[String, TableState] = {
    val rl = lock.readLock()
    rl.lock()
    try stateTable().collect().map { r =>
      r.getString(0) -> TableState(r.getLong(1), Option(r.getString(2)).getOrElse(""), r.getLong(3))
    }.toMap
    finally rl.unlock()
  }

  /** One table's current state (empty if never recorded). */
  def get(table: String): TableState = all().getOrElse(table, TableState(0L, ""))

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def record(table: String, version: Option[Long], where: Option[String],
                     rows: Option[Long], s: Long): String = {
    val fields = Seq(s"""\"table_name\": ${jsonStr(table)}""") ++
      version.map(v => s"""\"last_seen_version\": $v""") ++
      where.map(w => s"""\"where_clause\": ${jsonStr(w)}""") ++
      rows.map(r => s"""\"target_rows\": $r""") ++
      Seq(s"""\"seq\": $s""")
    fields.mkString("{", ", ", "}\n")
  }

  /** Create one uniquely-named log file atomically (write hidden tmp,
    * rename into place — readers never see a partial file).
    */
  private def writeLogFile(content: String, s: Long): Unit = {
    val f = graft.util.Fs.fs(spark, path)
    val dir = new Path(path)
    if (!f.exists(dir)) f.mkdirs(dir)
    val id = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(dir, s".tmp-$s-$id")
    val out = f.create(tmp, false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val dest = new Path(dir, s"log-$s-$id.json")
    if (!f.rename(tmp, dest))
      throw new java.io.IOException(s"state append rename failed: $dest")
  }

  // appends share the read lock; compaction takes the write lock so it
  // can never delete a file an in-flight append is just writing
  private val lock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  private def append(table: String, version: Option[Long], where: Option[String],
                     rows: Option[Long] = None): Unit = {
    val rl = lock.readLock()
    rl.lock()
    // seq is allocated INSIDE the lock: allocated-but-unwritten records
    // must not exist while a compaction (write lock) snapshots state,
    // or the compacted full record would supersede them with a higher
    // seq and silently drop the pending field value
    try {
      val s = seq.incrementAndGet()
      writeLogFile(record(table, version, where, rows, s), s)
    } finally rl.unlock()
    maybeCompact()
  }

  /** Set all fields at once (one full record). targetRows is written
    * even when negative: a recorded −1 SUPERSEDES an older count (read
    * back as "unknown"), so callers can force a recount — filtering it
    * out would leave the stale count winning the latest-non-null read.
    */
  def put(table: String, state: TableState): Unit =
    append(table, Some(state.lastSeenVersion), Some(state.whereClause),
      Some(state.targetRows))

  def setVersion(table: String, version: Long): Unit =
    append(table, Some(version), None)

  def setWhere(table: String, where: String): Unit =
    append(table, None, Some(where))

  def setTargetRows(table: String, rows: Long): Unit =
    append(table, None, None, Some(rows))

  /** Watermark and target row count in one record (one append). */
  def setProgress(table: String, version: Long, rows: Long): Unit =
    append(table, Some(version), None, Some(rows))

  // Compaction is the one operation that rewrites the log dir. It runs
  // under the write lock (no append can be in flight) and is rare —
  // tryLock: if writers are busy, skip and let a later append compact.
  private def maybeCompact(): Unit = {
    def logFiles(): Int = {
      val f = graft.util.Fs.fs(spark, path)
      val p = new Path(path)
      if (f.exists(p)) f.listStatus(p).count(_.getPath.getName.endsWith(".json")) else 0
    }
    if (logFiles() > compactAfter) {
      val wl = lock.writeLock()
      if (wl.tryLock()) {
        try if (logFiles() > compactAfter) {
          val f = graft.util.Fs.fs(spark, path)
          val olds = f.listStatus(new Path(path))
            .filter(_.getPath.getName.endsWith(".json")).map(_.getPath)
          val latest = stateTable().collect()
          val s = seq.incrementAndGet()
          val lines = latest.map { r =>
            record(r.getString(0), Some(r.getLong(1)),
              Some(Option(r.getString(2)).getOrElse("")),
              Some(r.getLong(3)).filter(_ >= 0), s)
          }.mkString
          // write the compacted file FIRST, then drop the superseded
          // ones — a crash in between leaves duplicates (harmless:
          // latest-seq wins), never lost state
          writeLogFile(lines, s)
          olds.foreach(p => f.delete(p, false))
        } finally wl.unlock()
      }
    }
  }
}
