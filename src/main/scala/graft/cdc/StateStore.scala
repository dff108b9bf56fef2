package graft.cdc

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

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
  * rewritten as one file), so it never holds more than `compactAfter`
  * + 1 files of a few records each. It is therefore read on the
  * driver — one listing and a Jackson parse per file, no Spark job —
  * and a line that does not parse fails the read, naming its file.
  */
class StateStore(spark: SparkSession, path: String) {
  private val compactAfter = 64

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private def isLog(name: String): Boolean = name.startsWith("log-") && name.endsWith(".json")

  /** Every entry of the state dir (none when it does not exist). */
  private def listing(): Seq[Path] = {
    val f = graft.util.Fs.fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) f.listStatus(p).map(_.getPath).toSeq else Nil
  }

  // seq: strictly increasing within this process. Seeded from
  // max(existing log seq, ms-epoch base): the clock base alone keeps a
  // restarted process above its own past writes ONLY while the clock
  // never steps backwards — after a clock step (VM migration, NTP
  // correction) fresh appends would sort BELOW existing records and be
  // silently superseded. File names carry their seq, so the existing
  // max is one listing, no scan.
  private val seq = new java.util.concurrent.atomic.AtomicLong({
    val maxExisting = listing().map(_.getName).filter(isLog)
      .flatMap(_.stripPrefix("log-").takeWhile(_ != '-').toLongOption)
      .foldLeft(0L)(math.max)
    math.max(System.currentTimeMillis() * 1000000L, maxExisting)
  })

  /** The log files; refuses a legacy state dir. */
  private def logFiles(): Seq[Path] = {
    val entries = listing()
    // a pre-append-log state dir held a rewritten PARQUET table;
    // reading it as a log finds no record, every watermark reads as 0,
    // and the next cycle silently degrades to full copies — refuse
    if (entries.exists(_.getName.endsWith(".parquet")))
      throw new IllegalStateException(
        s"$path holds parquet files — a legacy (pre-append-log) state " +
          "table, not a JSON log. Migrate it: read the old state, " +
          "put() it into a fresh path, and point the store there.")
    entries.filter(p => isLog(p.getName))
  }

  private case class Record(table: String, version: Option[Long], where: Option[String],
                            rows: Option[Long], seq: Long)

  private def parse(file: Path, line: String): Record =
    try {
      val n = mapper.readTree(line)
      def field(name: String, ok: JsonNode => Boolean): Option[JsonNode] =
        Option(n.get(name)).filterNot(_.isNull).map { v => require(ok(v), s"bad $name"); v }
      def long(name: String) = field(name, _.isIntegralNumber).map(_.asLong)
      def text(name: String) = field(name, _.isTextual).map(_.textValue)
      Record(text("table_name").get, long("last_seen_version"), text("where_clause"),
        long("target_rows"), long("seq").get)
    } catch {
      case e: Exception => throw new IllegalStateException(
        s"unreadable state log file $file (fix or remove it): $line", e)
    }

  /** Per table, the highest-seq non-null value of each field in `files`. */
  private def latest(files: Seq[Path]): Map[String, TableState] = {
    val f = graft.util.Fs.fs(spark, path)
    val records = files.flatMap { p =>
      val in = f.open(p)
      try new String(in.readAllBytes(), "UTF-8").split('\n').toSeq.filter(_.trim.nonEmpty)
        .map(parse(p, _))
      finally in.close()
    }
    records.groupBy(_.table).map { case (table, rs) =>
      def last[T](get: Record => Option[T]): Option[T] =
        rs.flatMap(r => get(r).map(r.seq -> _)).maxByOption(_._1).map(_._2)
      table -> TableState(last(_.version).getOrElse(0L), last(_.where).getOrElse(""),
        last(_.rows).getOrElse(-1L))
    }
  }

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
  // all() holds the read lock across the scan: compaction deletes
  // superseded log files, and an unlocked concurrent reader could list
  // a file that vanishes before it is opened.
  def all(): Map[String, TableState] = {
    val rl = lock.readLock()
    rl.lock()
    try latest(logFiles())
    finally rl.unlock()
  }

  /** One table's current state (empty if never recorded). */
  def get(table: String): TableState = all().getOrElse(table, TableState(0L, ""))

  private def record(table: String, version: Option[Long], where: Option[String],
                     rows: Option[Long], s: Long): String = {
    val n = mapper.createObjectNode().put("table_name", table)
    version.foreach(n.put("last_seen_version", _))
    where.foreach(n.put("where_clause", _))
    rows.foreach(n.put("target_rows", _))
    mapper.writeValueAsString(n.put("seq", s)) + "\n"
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
  private def maybeCompact(): Unit =
    if (listing().count(p => isLog(p.getName)) > compactAfter) {
      val wl = lock.writeLock()
      if (wl.tryLock()) {
        try {
          val olds = logFiles()
          if (olds.size > compactAfter) {
            val s = seq.incrementAndGet()
            val lines = latest(olds).map { case (t, st) =>
              record(t, Some(st.lastSeenVersion), Some(st.whereClause), Some(st.targetRows), s)
            }.mkString
            // write the compacted file FIRST, then drop the superseded
            // ones — a crash in between leaves duplicates (harmless:
            // latest-seq wins), never lost state
            writeLogFile(lines, s)
            val f = graft.util.Fs.fs(spark, path)
            olds.foreach(f.delete(_, false))
          }
        } finally wl.unlock()
      }
    }
}
