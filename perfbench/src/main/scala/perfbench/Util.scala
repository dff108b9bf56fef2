package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What one run measured. `layers` is empty on untimed-trace runs. */
final case class RunResult(e2e: Seq[(String, Double)], layers: Map[String, Double],
                           attempted: Int, failed: Int, spans: Seq[Span],
                           labels: Map[String, Double])

object Util {

  /** Threads for the benchmark's own concurrent set-up and gate work. */
  val pool: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
      val t = new Thread(r, "perfbench")
      t.setDaemon(true)
      t
    }))

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Collects garbage outside the timed region, so one operation's
    * garbage is not paid for inside the next one's measurement.
    */
  def settle(): Unit = System.gc()

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetPeakHeap(): Unit = { System.gc(); heapPools.foreach(_.resetPeakUsage()) }

  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / Tracer.MB

  private def dataStatus(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter { st =>
          val n = st.getPath.getName
          !n.startsWith(".") && !n.startsWith("_")
        }.toSeq
    }
  }

  /** Bytes of the data files under `dir` (no checksums or markers). */
  def dataBytes(spark: SparkSession, dir: String): Long = dataStatus(spark, dir).map(_.getLen).sum

  def dataFiles(spark: SparkSession, dir: String): Int = dataStatus(spark, dir).size

  /** CPU anchor (range → xxhash64 → sum, no I/O), in seconds. */
  def anchor(spark: SparkSession): Double =
    timed(spark.range(0, 100000000L, 1, 16)
      .select(sum(xxhash64(col("id")) % 1000000L)).head())._2
}
