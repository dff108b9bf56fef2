package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints `explain("formatted")` for the named queries
  * (default: a representative set) so scan pruning (`ReadSchema`),
  * filter pushdown (`PushedFilters`), join strategies, and
  * whole-stage-codegen coverage can be reviewed. Usage:
  *   runMain graft.Explain [--cut] [queryName ...]
  *
  * `--cut` dumps the EXECUTED (bench) shape instead — lineage cuts
  * stay active, so reuse points show as their checkpoint scans.
  * Two synthetic names dump internal frames a query's returned plan
  * cannot show: `_kll_agg_native` / `_kll_agg_udaf` are
  * profile_quantiles_kll's sketch aggregation (the query collects it
  * eagerly and returns the post-collect verification join).
  */
object Explain {
  /** `(cut, queryNames)` of a command line. Any flag but `--cut` is a
    * usage error: a mistyped flag would otherwise dump the wrong plan
    * shape without a word.
    */
  def parseArgs(args: Seq[String]): (Boolean, Seq[String]) = {
    val (flags, names) = args.partition(_.startsWith("--"))
    val unknown = flags.filterNot(_ == "--cut")
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown flag(s): ${unknown.mkString(" ")}")
    (flags.nonEmpty, names)
  }

  def main(args: Array[String]): Unit = {
    val (cut, given) =
      try parseArgs(args.toSeq)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"${e.getMessage}\nusage: graft.Explain [--cut] [queryName ...]")
          sys.exit(2)
      }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Plan-audit mode: without this, lineage-cut operators dump as an
    // opaque `Scan ExistingRDD ... localCheckpoint` (the r17 minhash
    // evidence defect). Keeping lineage here shows the REAL operator
    // tree — the executed bench plan differs only by the cut points
    // (pass --cut to see exactly those). Audit-only knob; Bench/Verify
    // never set it.
    if (!cut)
      spark.conf.set(graft.util.Lineage.KeepKey, "true")
    val names =
      if (given.nonEmpty) given
      else Seq("q1_agg", "q3_join_agg", "q5_multijoin", "cdc_incremental_pull",
        "cdc_range_hash_fast", "cdc_merge_upsert", "dedup_exact", "ann_topk")
    val internalFrames: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map(
        "_kll_agg_native" -> ((s, d) =>
          graft.queries.PipelineQueries.kllAggFrame(s, d, native = true)),
        "_kll_agg_udaf" -> ((s, d) =>
          graft.queries.PipelineQueries.kllAggFrame(s, d, native = false)))
    names.foreach { name =>
      SparkEntry.queries.get(name).orElse(internalFrames.get(name)) match {
        case Some(fn) =>
          println(s"\n========== $name ==========")
          fn(spark, sfDir).explain("formatted")
        case None => println(s"\n========== $name: UNKNOWN ==========")
      }
    }
    spark.stop()
  }
}
