package perfbench

/** Per-layer figures of a traced CDC run, per traced poll cycle unless
  * the name says otherwise (`.initial`, `write_full_s`: the initial
  * sync; ratios: over all traced cycles).
  */
object CdcLayers {

  def metrics(spans: Seq[Span], tracedCycles: Int, changedRows: Long, deletedRows: Long,
              tables: Seq[String], cores: Int): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val self = Tracer.selfTimes(spans)
    def roots(name: String, steady: Boolean) =
      spans.filter(s => s.name == name && (s.cycle > 0) == steady)
    def under(rs: Seq[Span]) = rs.flatMap(Tracer.subtree(spans, _))
    val cycleRoots = roots("replicator.run", steady = true)
    val cycle = under(cycleRoots)
    val probe = under(roots("probe.cycle", steady = true))
    val initial = under(roots("replicator.run", steady = false))
    val n = math.max(1, tracedCycles).toDouble

    def named(ss: Seq[Span], prefix: String) = ss.filter(_.name.startsWith(prefix))
    def dur(ss: Seq[Span], prefix: String) = named(ss, prefix).map(_.durS).sum
    def selfOf(ss: Seq[Span], layer: String) = ss.filter(_.layer == layer).map(s => self(s.id)).sum
    def count(ss: Seq[Span], k: String) = ss.map(_.counts.get(k)).sum
    def countUnder(rs: Seq[Span], k: String) = count(under(rs), k)
    def hasAncestor(s: Span, prefix: String): Boolean =
      byId.get(s.parent).exists(p => p.name.startsWith(prefix) || hasAncestor(p, prefix))

    val rowsWritten = count(cycle, "write_rows.target")
    val reloaded = count(named(cycle, "bucketedlayout.overwrite_buckets:")
      .filter(hasAncestor(_, "replicator.deletes:")), "write_rows.target")
    val rootSecs = cycleRoots.map(_.durS).sum

    Map(
      "replicator.validate_s" -> dur(cycle, "replicator.validate") / n,
      "replicator.update_s" -> dur(cycle, "replicator.update:") / n,
      "replicator.deletes_s" -> dur(cycle, "replicator.deletes:") / n,
      "replicator.self_s" -> selfOf(cycle, "replicator") / n,
      "state.get_s" -> dur(probe, "state.get:") / n,
      "schemasync.compare_s" -> dur(probe, "schemasync.compare:") / n,
      "changecapture.pull_s" -> dur(probe, "changecapture.pull:") / n,
      "changecapture.rows_pulled" -> count(probe, "rows_pulled") / n,
      "merge.upsert_s" -> dur(probe, "merge.upsert:") / n,
      "tablestore.write_s" -> dur(cycle, "tablestore.write:") / n,
      "tablestore.write_s.initial" -> dur(initial, "tablestore.write:"),
      "tablestore.self_s" -> selfOf(cycle, "tablestore") / n,
      "tablestore.source_scan_mb.update" ->
        countUnder(named(cycle, "replicator.update:"), "scan_mb.source") / n,
      "tablestore.source_scan_mb.deletes" ->
        countUnder(named(cycle, "replicator.deletes:"), "scan_mb.source") / n,
      "tablestore.target_scan_mb" -> count(cycle, "scan_mb.target") / n,
      "sink.rows_written" -> rowsWritten / n,
      "sink.mb_written" -> count(cycle, "write_mb.target") / n,
      "sink.files_written" -> count(cycle, "write_files.target") / n,
      "sink.write_amplification" -> (if (changedRows > 0) rowsWritten / changedRows else 0.0),
      "bucketedlayout.upsert_s" -> dur(cycle, "bucketedlayout.upsert:") / n,
      "bucketedlayout.overwrite_buckets_s" -> dur(cycle, "bucketedlayout.overwrite_buckets:") / n,
      "bucketedlayout.write_full_s" -> dur(initial, "bucketedlayout.write_full:"),
      "bucketedlayout.self_s" -> selfOf(cycle, "bucketedlayout") / n,
      "rangehashdiff.buckets_flagged" -> count(cycle, "buckets_flagged") / n,
      "rangehashdiff.rows_reloaded" -> reloaded / n,
      "rangehashdiff.reload_amplification" -> (if (deletedRows > 0) reloaded / deletedRows else 0.0),
      "spark.jobs" -> count(cycle, "jobs") / n,
      "spark.tasks" -> count(cycle, "tasks") / n,
      "spark.shuffle_write_mb" -> count(cycle, "shuffle_write_mb") / n,
      "spark.gc_s" -> count(cycle, "gc_s") / n,
      "spark.executor_busy_ratio" ->
        (if (rootSecs > 0) count(cycle, "executor_run_s") / (rootSecs * cores) else 0.0)
    ) ++ tables.flatMap { t => Seq(
      s"replicator.update_s.$t" -> dur(cycle, s"replicator.update:$t") / n,
      s"replicator.deletes_s.$t" -> dur(cycle, s"replicator.deletes:$t") / n)
    }
  }
}
