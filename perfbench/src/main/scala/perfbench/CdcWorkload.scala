package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cdc._

/** The CDC workloads: a closed loop with one caller polling
  * `Replicator.run()` against pre-generated source snapshots.
  */
object CdcWorkload {

  def snapshotPath(root: String, m: Int, t: String): String = s"$root/$t.parquet/snap=$m"

  final case class Spec(mix: CdcGen.Mix, buckets: Option[Int])

  val specs: Map[String, Spec] = Map(
    "cdc_tail_flat" -> Spec(CdcGen.Tail, None),
    "cdc_churn_bucketed" -> Spec(CdcGen.Churn, Some(16)))

  val schedule = CdcGen.Schedule(idleEvery = 3)
  val scale = 0.5
  /** Change snapshots written per run: one per change poll an untraced
    * run times; a traced run polls them all.
    */
  val maxChanges = 3
  /** Change polls a run times at least; `busy_p50_s` is their median. */
  val minChangePolls = 3
  /** First syncs timed per run, each into its own empty target;
    * `initial_s` is their median.
    */
  val initialSyncs = 3
  val warmScale = 0.05

  /** Inputs of one run: the gate figures of every snapshot, per table. */
  final case class Inputs(root: String, tables: Seq[CdcGen.Table],
                          expect: Map[(Int, String), CdcGen.Expect]) {
    def changed(m: Int): Long = tables.map(t => expect((m, t.name)).changed).sum
    def deleted(m: Int): Long = tables.map(t => expect((m, t.name)).deleted).sum
  }

  def generate(spark: SparkSession, seed: Long, mix: CdcGen.Mix, tables: Seq[CdcGen.Table],
               changes: Int, root: String): Inputs = {
    implicit val ec: ExecutionContext = Util.pool
    val jobs = tables.map { t => Future {
      CdcGen.writeSnapshots(spark, seed, t, mix, changes, s"$root/${t.name}.parquet")
        .map { case (m, e) => (m, t.name) -> e }
    }}
    Inputs(root, tables, Await.result(Future.sequence(jobs), Duration.Inf).flatten.toMap)
  }

  final class Rig(spark: SparkSession, spec: Spec, in: Inputs, target: String, tr: Tracer) {
    val source = new SnapshotSource(spark, in.root, tr)
    val sink: ParquetStore = spec.buckets match {
      case Some(n) => new TracedBucketedStore(spark, target, n, tr)
      case None => new TracedParquetStore(spark, target, tr)
    }
    val cfg = ReplicationConfig(in.tables.map(t => TableConfig(t.name, t.pk, "_v")))
    val rep = new TracedReplicator(spark, cfg, source, sink, tr)

    /** Correctness gate: count plus order-independent content hash of
      * every target table against snapshot `m`; on a mismatch, the
      * exceptAll row differences go to stderr. Returns tables that failed.
      */
    def gate(m: Int): Seq[String] = {
      implicit val ec: ExecutionContext = Util.pool
      val checks = in.tables.map { t => Future {
        val e = in.expect((m, t.name))
        val src = spark.read.parquet(snapshotPath(in.root, m, t.name))
        val tgt = sink.read(t.name).select(src.columns.toSeq.map(col): _*)
        val r = tgt.agg(CdcGen.hashAgg(tgt.columns.toSeq.map(col)).head,
          CdcGen.hashAgg(tgt.columns.toSeq.map(col)).tail: _*).head()
        val ok = r.getLong(0) == e.rows && r.getLong(1) == e.h1 && r.getLong(2) == e.h2
        if (!ok) {
          val missing = src.exceptAll(tgt).count()
          val extra = tgt.exceptAll(src).count()
          System.err.println(s"[perfbench] gate: ${t.name} at snapshot $m differs: " +
            s"rows ${r.getLong(0)} vs ${e.rows}, $missing missing, $extra extra")
        }
        if (ok) None else Some(t.name)
      }}
      Await.result(Future.sequence(checks), Duration.Inf).flatten
    }

    /** Direct calls into the layers the Replicator reaches internally,
      * timed as their own spans before a traced cycle: state lookup,
      * schema comparison, the incremental pull and the merge it feeds.
      */
    def probe(): Unit = tr.span("probe.cycle") {
      in.tables.foreach { t =>
        val st = tr.span(s"state.get:${t.name}")(rep.state.get(t.name))
        val src = source.read(t.name)
        tr.span(s"schemasync.compare:${t.name}") {
          SchemaSync.decide(SchemaSync.compare(t.name, src.schema,
            Some(sink.read(t.name).schema)), false)
        }
        val version = col("_v").cast("long")
        val pulled = tr.span(s"changecapture.pull:${t.name}") {
          val r = ChangeCapture.updateRange(src, version).head()
          val maxV = if (r.isNullAt(1)) 0L else r.getLong(1)
          val changes = ChangeCapture.incrementalPull(src, version, st.lastSeenVersion,
            upperBound = Some(maxV))
          val n = changes.count()
          tr.count("rows_pulled", n.toDouble)
          (changes, n)
        }
        if (pulled._2 > 0) tr.span(s"merge.upsert:${t.name}") {
          Merge.upsert(sink.read(t.name), pulled._1, t.pk)
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
  }

  final case class Cycle(n: Int, idle: Boolean, secs: Double, changed: Long, deleted: Long,
                         srcScanMb: Double, traced: Boolean)

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Int, trace: Boolean,
          work: String, sessionS: Double, beforeTiming: () => Unit): RunResult = {
    val spec = specs(workload)
    val srcRoot = s"$work/source"
    val tgtRoot = s"$work/target"
    val tr = new Tracer(spark, srcRoot, tgtRoot)
    if (trace) tr.attachTaskListener()

    // -- set-up: the inputs, while a replication warms up ---------------
    // The warm-up (a first sync and one change poll of a small input)
    // runs alongside input generation; both are latency-bound.
    var failed = 0
    var attempted = 0
    val (in, setupWallS) = Util.timed {
      val main = Future(generate(spark, seed, spec.mix, CdcGen.tables(scale), maxChanges,
        s"$srcRoot/main"))(Util.pool)
      val warmIn = generate(spark, seed + 1, spec.mix, CdcGen.tables(warmScale), 1,
        s"$srcRoot/warm")
      val rig = new Rig(spark, spec, warmIn, s"$tgtRoot/warm", tr)
      rig.rep.run()
      rig.source.snapshot = 1
      rig.rep.run()
      attempted += 1
      if (rig.gate(1).nonEmpty) failed += 1
      Await.result(main, Duration.Inf)
    }
    val setupS = sessionS + setupWallS
    beforeTiming()
    Util.resetPeakHeap()

    // -- initial syncs, each into an empty target ----------------------
    // The poll loop below continues on the last one's target.
    val syncs = (1 to initialSyncs).map { k =>
      val rig = new Rig(spark, spec, in, s"$tgtRoot/main$k", tr)
      tr.enabled = trace && k == initialSyncs
      tr.cycle = 0
      Util.settle()
      val secs = Util.timed(tr.span("replicator.run")(rig.rep.run()))._2
      tr.drain()
      tr.enabled = false
      attempted += 1
      if (rig.gate(0).nonEmpty) failed += 1
      (rig, secs)
    }
    val rig = syncs.last._1
    val syncS = syncs.map(_._2)
    val mainTarget = s"$tgtRoot/main$initialSyncs"
    System.err.println(s"[perfbench] $workload initial syncs: " +
      syncS.map(x => f"$x%.2fs").mkString(" "))

    // -- timed poll loop ----------------------------------------------
    val cycles = scala.collection.mutable.ArrayBuffer[Cycle]()
    val budgetNs = seconds * 1000000000L
    val loopStart = System.nanoTime()
    def enough: Boolean = System.nanoTime() - loopStart >= budgetNs && cycles.exists(_.idle) &&
      cycles.count(!_.idle) >= minChangePolls
    var j = 0
    // a traced run polls every snapshot
    while ((trace || !enough) && schedule.snapshot(j + 1) <= maxChanges) {
      j += 1
      val m = schedule.snapshot(j)
      val idle = schedule.idle(j)
      // traced runs trace polls 1 and 4 (change polls) and leave 2 and
      // 3 untraced: the untraced change poll, timed between the two
      // traced ones, gives the tracing overhead
      val traced = trace && (j - 1) % 4 % 3 == 0
      rig.source.snapshot = m
      tr.cycle = j
      if (traced) { tr.enabled = true; rig.probe(); tr.drain() }
      val scan0 = tr.totals.get("scan_mb.source")
      Util.settle()
      val (_, secs) = Util.timed(tr.span("replicator.run")(rig.rep.run()))
      tr.drain()
      tr.enabled = false
      val scan = tr.totals.get("scan_mb.source") - scan0
      attempted += 1
      if (rig.gate(m).nonEmpty) failed += 1
      cycles += Cycle(j, idle, secs, if (idle) 0L else in.changed(m),
        if (idle) 0L else in.deleted(m), scan, traced)
    }

    // -- end of run ---------------------------------------------------
    val lastSnap = schedule.snapshot(j)
    val tgtBytes = in.tables.map(t => Util.dataBytes(spark, s"$mainTarget/${t.name}.parquet")).sum
    val srcBytes = in.tables.map(t => Util.dataBytes(spark, snapshotPath(in.root, lastSnap, t.name))).sum
    val tgtFiles = in.tables.map(t => Util.dataFiles(spark, s"$mainTarget/${t.name}.parquet")).sum

    val timedCycles = if (trace) cycles.filter(!_.traced) else cycles
    val change = timedCycles.filter(!_.idle)
    val idleC = timedCycles.filter(_.idle)
    val scanPerCycle = {
      val c = Util.mean(cycles.filter(!_.idle).map(_.srcScanMb).toSeq)
      val i = Util.mean(cycles.filter(_.idle).map(_.srcScanMb).toSeq)
      (c * (schedule.idleEvery - 1) + i) / schedule.idleEvery
    }
    val e2e = Seq(
      "setup_s" -> setupS,
      "initial_s" -> Util.median(syncS),
      "busy_p50_s" -> Util.median(change.map(_.secs).toSeq),
      "scan_mb_per_op" -> scanPerCycle,
      "out_mb_per_in_mb" -> tgtBytes.toDouble / srcBytes)

    val layers = if (!trace) Map.empty[String, Double] else {
      val tracedChange = cycles.filter(c => c.traced && !c.idle)
      val untracedChange = cycles.filter(c => !c.traced && !c.idle)
      val overhead = Util.median(tracedChange.map(_.secs).toSeq) -
        Util.median(untracedChange.map(_.secs).toSeq)
      CdcLayers.metrics(tr.spans, cycles.count(_.traced),
        cycles.filter(_.traced).map(_.changed).sum, cycles.filter(_.traced).map(_.deleted).sum,
        in.tables.map(_.name), spark.sparkContext.defaultParallelism) ++ Map(
        "target.files" -> tgtFiles.toDouble,
        "target.mb" -> tgtBytes / Tracer.MB,
        "replicator.idle_poll_s" -> Util.median(cycles.filter(_.idle).map(_.secs).toSeq),
        "rows_per_s" -> Util.median(untracedChange.map(c => c.changed / c.secs).toSeq),
        "peak_heap_mb" -> Util.peakHeapMb(),
        "trace.overhead_s" -> overhead,
        "trace.overhead_ratio" -> overhead / Util.median(untracedChange.map(_.secs).toSeq))
    }
    System.err.println(s"[perfbench] $workload cycles: " + cycles.map(c =>
      f"${c.n}%d${if (c.idle) "i" else "c"}${if (c.traced) "t" else ""}=${c.secs}%.2fs").mkString(" "))
    RunResult(e2e, layers, attempted, failed, tr.spans,
      Map("cycles" -> cycles.size.toDouble, "change_cycles" -> change.size.toDouble,
        "idle_cycles" -> idleC.size.toDouble, "session_s" -> sessionS))
  }
}
