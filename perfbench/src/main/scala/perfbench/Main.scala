package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one seeded run of one workload.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * The last stdout line is the result object. With `--trace 0` it
  * carries the end-to-end metrics (tracing off); with `--trace 1` the
  * per-layer metrics of a traced run. Full results, run labels
  * (contention anchor drift) and the span log go under `<work>/..`.
  * Exit code 1 when the correctness gate failed.
  */
object Main {

  val e2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "initial_s" -> "s", "busy_p50_s" -> "s",
    "scan_mb_per_op" -> "MB", "out_mb_per_in_mb" -> "ratio")

  val tables = Seq("lineitem", "orders", "events")

  val layerUnits: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "replicator.idle_poll_s" -> "s", "replicator.validate_s" -> "s",
    "replicator.update_s" -> "s") ++
    tables.map(t => s"replicator.update_s.$t" -> "s") ++
    Seq("replicator.deletes_s" -> "s") ++ tables.map(t => s"replicator.deletes_s.$t" -> "s") ++
    Seq(
      "replicator.self_s" -> "s", "state.get_s" -> "s", "schemasync.compare_s" -> "s",
      "changecapture.pull_s" -> "s", "changecapture.rows_pulled" -> "rows", "merge.upsert_s" -> "s",
      "tablestore.write_s" -> "s", "tablestore.write_s.initial" -> "s", "tablestore.self_s" -> "s",
      "tablestore.source_scan_mb.update" -> "MB", "tablestore.source_scan_mb.deletes" -> "MB",
      "tablestore.target_scan_mb" -> "MB",
      "sink.rows_written" -> "rows", "sink.mb_written" -> "MB", "sink.files_written" -> "count",
      "sink.write_amplification" -> "ratio",
      "bucketedlayout.upsert_s" -> "s", "bucketedlayout.write_full_s" -> "s",
      "bucketedlayout.overwrite_buckets_s" -> "s", "bucketedlayout.self_s" -> "s",
      "rangehashdiff.buckets_flagged" -> "count", "rangehashdiff.rows_reloaded" -> "rows",
      "rangehashdiff.reload_amplification" -> "ratio",
      "target.files" -> "count", "target.mb" -> "MB", "peak_heap_mb" -> "MB") ++
    CurationWorkload.stages.map(s => s"pipeline.stage_s.${s._1}" -> "s") ++
    Seq(
      "pipeline.rows_out" -> "rows", "pipeline.kept_ratio" -> "ratio",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_write_mb" -> "MB",
      "spark.gc_s" -> "s", "spark.executor_busy_ratio" -> "ratio",
      "trace.overhead_s" -> "s", "trace.overhead_ratio" -> "ratio", "failed_ratio" -> "ratio")

  private def arg(args: Array[String], name: String): String =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }
      .getOrElse(usage(s"missing $name"))

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench.Main --workload " +
      "cdc_tail_flat|cdc_churn_bucketed|curation_pipeline --seed N --seconds S " +
      "--trace 0|1 --work DIR")
    sys.exit(2)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `--train --work DIR`: a short pass over every workload's code
    * paths on tiny inputs, so a class-data archive recorded from this
    * JVM covers what the measured runs load.
    */
  private def train(work: String): Unit = {
    val spark = session(work)
    val tr = new Tracer(spark, s"$work/source", s"$work/target")
    CdcWorkload.specs.foreach { case (name, spec) =>
      val in = CdcWorkload.generate(spark, 1L, spec.mix, CdcGen.tables(0.02), 1, s"$work/source/$name")
      val rig = new CdcWorkload.Rig(spark, spec, in, s"$work/target/$name", tr)
      rig.rep.run()
      rig.source.snapshot = 1
      rig.rep.run()
      require(rig.gate(1).isEmpty, s"training replication of $name is incorrect")
    }
    val docs = s"$work/source/docs.parquet"
    CurationWorkload.writeDocs(spark, 1L, 20, docs)
    val (_, rowsOut) = graft.Pipeline.run(spark,
      CurationWorkload.config(docs, s"$work/target/docs"))
    require(CurationWorkload.gate(spark, docs, s"$work/target/docs", rowsOut).isEmpty,
      "training pipeline run is incorrect")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--train")) {
      train(Paths.get(arg(args, "--work")).toAbsolutePath.toString)
      sys.exit(0)
    }
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val trace = arg(args, "--trace") match {
      case "1" => true; case "0" => false; case o => usage(s"--trace must be 0 or 1, got $o")
    }
    val work = Paths.get(arg(args, "--work")).toAbsolutePath.toString
    if (!CdcWorkload.specs.contains(workload) && workload != "curation_pipeline")
      usage(s"unknown workload $workload")

    val (spark, sessionS) = Util.timed(session(work))
    var anchor0 = 0.0
    // the "before" reading is taken once set-up has warmed the JIT
    val beforeTiming = () => { anchor0 = Util.anchor(spark) }
    val r =
      if (workload == "curation_pipeline")
        CurationWorkload.run(spark, seed, seconds, trace, work, sessionS, beforeTiming)
      else CdcWorkload.run(spark, workload, seed, seconds, trace, work, sessionS, beforeTiming)
    val anchor1 = Util.anchor(spark)
    spark.stop()

    val failedRatio = r.failed.toDouble / math.max(1, r.attempted)
    val layers = r.layers + ("failed_ratio" -> failedRatio)
    val labels = r.labels ++ Map("anchor_before_s" -> anchor0, "anchor_after_s" -> anchor1,
      "anchor_drift" -> anchor1 / anchor0)
    def obj(kv: Seq[(String, Double, String)]) = kv.map { case (k, v, u) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    val metrics =
      if (trace) layerUnits.map { case (k, u) => (k, layers.getOrElse(k, 0.0), u) }
      else e2eUnits.map { case (k, u) => (k, r.e2e.toMap.getOrElse(k, Double.NaN), u) }
    val line = s"""{"correct":${r.failed == 0},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":${obj(metrics)}}"""

    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    val results = Paths.get(work).getParent.resolve("results")
    Files.createDirectories(results)
    val labelJson = labels.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    Files.write(results.resolve(s"$tag.json"), (s"""{"result":$line,"labels":$labelJson,""" +
      s""""end_to_end":${obj(r.e2e.map { case (k, v) => (k, v, e2eUnits.toMap.apply(k)) })}}""" + "\n")
      .getBytes(StandardCharsets.UTF_8))
    if (trace) Files.write(results.resolve(s"$tag.spans.jsonl"),
      (Tracer.spansJson(r.spans) + "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[perfbench] labels $labelJson")
    println(line)
    System.out.flush()
    sys.exit(if (r.failed == 0) 0 else 1)
  }
}
