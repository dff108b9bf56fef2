package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand

/** Named counters of one span (or of the whole run). Listener threads
  * add, the benchmark thread reads after draining the bus.
  */
final class Counters {
  private val m = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit = if (v != 0) m.merge(k, v, (a, b) => a + b)
  def get(k: String): Double = Option(m.get(k)).map(_.doubleValue).getOrElse(0.0)
  def keys: Seq[String] = m.keySet.asScala.toSeq.sorted
}

/** One timed call into a layer: `name` is `<layer>.<call>[:<table>]`. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val cycle: Int, val startNs: Long) {
  @volatile var endNs: Long = -1L
  val counts = new Counters
  def layer: String = name.takeWhile(_ != '.')
  def durS: Double = (endNs - startNs) / 1e9
}

/** Outside-in tracer. Spans are kept in memory and written once, at
  * the end of the run. The active span travels to Spark jobs as the
  * local property [[Tracer.SpanKey]] (inherited by the threads the
  * engine spawns), so the listeners below attribute job, task and scan
  * counts to the span that caused them.
  *
  * The scan/write accounting ([[Tracer.totals]]) is always on: it feeds
  * the end-to-end upstream-load metric. Spans and per-task counts are
  * recorded only while `enabled`.
  */
final class Tracer(spark: SparkSession, sourceRoot: String, targetRoot: String) {
  import Tracer._

  @volatile var enabled = false
  @volatile var cycle = 0
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentHashMap[Long, Span]()
  private val current = new InheritableThreadLocal[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()

  /** Run-wide counters, recorded whether or not spans are enabled. */
  val totals = new Counters

  private val srcPrefix = canon(sourceRoot)
  private val tgtPrefix = canon(targetRoot)

  def spans: Seq[Span] = all.values.asScala.toSeq.sortBy(_.id)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), name,
        if (parent == null) 0L else parent.id, cycle, System.nanoTime())
      all.put(s.id, s)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      current.set(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** Adds a count to the active span (no-op when tracing is off). */
  def count(k: String, v: Double): Unit =
    if (enabled) Option(current.get).foreach(_.counts.add(k, v))

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  private def spanOf(id: java.lang.Long): Option[Span] =
    Option(id).flatMap(i => Option(all.get(i.longValue)))

  private def pathClass(p: String): String = {
    val c = canon(p)
    if (c.startsWith(srcPrefix)) "source"
    else if (c.startsWith(tgtPrefix)) "target"
    else "other"
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val sid = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong)
      sid.foreach { id =>
        e.stageIds.foreach(st => stageSpan.put(st, id))
        Seq("spark.sql.execution.id", "spark.sql.execution.root.id").foreach { k =>
          props.flatMap(p => Option(p.getProperty(k))).foreach(x => execSpan.put(x.toLong, id))
        }
        spanOf(id).foreach(_.counts.add("jobs", 1))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      spanOf(stageSpan.get(e.stageId)).foreach { s =>
        s.counts.add("tasks", 1)
        Option(e.taskMetrics).foreach { tm =>
          s.counts.add("executor_run_s", tm.executorRunTime / 1e3)
          s.counts.add("gc_s", tm.jvmGCTime / 1e3)
          s.counts.add("shuffle_write_mb", tm.shuffleWriteMetrics.bytesWritten / MB)
          s.counts.add("input_mb", tm.inputMetrics.bytesRead / MB)
        }
      }
  }

  /** Scan bytes (split by path prefix into source / target) and rows,
    * bytes and files written, read off each finished query's executed
    * plan.
    */
  private def onExecution(execId: Long, qe: QueryExecution): Unit = {
    val span = if (enabled) spanOf(execSpan.get(execId)) else None
    def add(k: String, v: Double): Unit = {
      totals.add(k, v)
      span.foreach(_.counts.add(k, v))
    }
    val plan = qe.executedPlan
    PlanWalk.scans(plan).foreach { s =>
      val bytes = s.metrics.get("filesSize").map(_.value.toDouble).getOrElse(0.0)
      val cls = s.relation.location.rootPaths.headOption
        .map(p => pathClass(p.toString)).getOrElse("other")
      add(s"scan_mb.$cls", bytes / MB)
    }
    PlanWalk.writes(plan).foreach { w =>
      val cls = w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => pathClass(i.outputPath.toString)
        case _ => "other"
      }
      def metric(k: String) = w.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      add(s"write_rows.$cls", metric("numOutputRows"))
      add(s"write_mb.$cls", metric("numOutputBytes") / MB)
      add(s"write_files.$cls", metric("numFiles"))
    }
  }

  spark.sparkContext.addSparkListener(
    new org.apache.spark.sql.perfbench.ExecutionEndListener(onExecution))

  /** Per-task counts cost a callback per task; only traced runs pay it. */
  def attachTaskListener(): Unit = spark.sparkContext.addSparkListener(sparkListener)
}

object Tracer {
  val SpanKey = "perfbench.span"
  val MB: Double = 1024.0 * 1024.0

  def canon(p: String): String = new Path(p).toUri.getPath.stripSuffix("/") + "/"

  /** Self time: the span's duration minus the union of its children's
    * intervals (children of one span may overlap — tables sync
    * concurrently).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      s.id -> math.max(0.0, (s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  /** The subtree rooted at `root` (the root included). */
  def subtree(spans: Seq[Span], root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.ArrayBuffer[Span]()
    def walk(s: Span): Unit = { out += s; kids.getOrElse(s.id, Nil).foreach(walk) }
    walk(root)
    out.toSeq
  }

  def spansJson(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.map { s =>
      val counts = s.counts.keys.map(k => s""""$k":${Json.num(s.counts.get(k))}""").mkString(",")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"cycle":${s.cycle},""" +
        s""""start_s":${Json.num((s.startNs - t0) / 1e9)},"end_s":${Json.num((s.endNs - t0) / 1e9)},""" +
        s""""dur_s":${Json.num(s.durS)},"self_s":${Json.num(self(s.id))},"counts":{$counts}}"""
    }.mkString("\n")
  }
}

/** Plan walks that see through adaptive query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(p) { case s: FileSourceScanExec => s }
  def writes(p: SparkPlan): Seq[DataWritingCommandExec] =
    collect(p) { case w: DataWritingCommandExec => w }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
