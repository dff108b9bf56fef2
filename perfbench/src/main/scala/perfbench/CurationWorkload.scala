package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The curation workload: `graft.Pipeline.run` over a generated
  * document corpus, a closed loop with one caller. It never touches
  * `graft.cdc`.
  */
object CurationWorkload {

  /** Base documents, and rotations of them in one corpus: 240 docs. */
  val docs = 60
  val rotations = 4
  /** Untimed passes in set-up: the JIT is still compiling through the
    * first few, and timing them spread the timed figures by a quarter.
    */
  val warmPasses = 3

  /** The stage chain, in order; `shard` must stay last. */
  val stages: Seq[(String, String)] = Seq(
    "entropy_filter" -> """{"op":"entropy_filter","minMicroNatsPerChar":1500000}""",
    "scrub" -> """{"op":"scrub"}""",
    "dedup_exact" -> """{"op":"dedup_exact"}""",
    "dedup_minhash" -> """{"op":"dedup_minhash"}""",
    "quality_band" -> """{"op":"quality_band","stratum":"lang"}""",
    "group_cap" -> s"""{"op":"group_cap","group":"source","k":${docs * rotations / 25}}""",
    "shard" -> """{"op":"shard","numShards":4}""")

  def config(input: String, output: String, nStages: Int = stages.size): String =
    s"""{"input":${Json.str(input)},"output":${Json.str(output)},""" +
      s""""textCol":"text","idCol":"doc_id","stages":[""" +
      stages.take(nStages).map(_._2).mkString(",") + "]}"

  private val vocab = ("batch part spark line column order small sort fast value scan hash " +
    "slow group agg filter query big key window row table stream merge data vector join " +
    "index page cache shard build plan cost tree node edge graph rank score token text " +
    "model train test split sample learn").split(" ").toIndexedSeq

  /** The base corpus, independent of the seed: plain docs, exact and
    * near duplicates of earlier docs, low-entropy junk, and docs that
    * carry numbers and e-mail addresses for the scrubber.
    */
  def baseDocs(n: Int): Seq[(Long, String, String, String)] = {
    val rnd = new scala.util.Random(20201)
    val langs = Seq("en", "de", "fr", "zh")
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until n).map { i =>
      val kind = rnd.nextInt(100)
      val text =
        if (kind < 10 && texts.nonEmpty) texts(rnd.nextInt(texts.size))
        else if (kind < 20 && texts.nonEmpty) {
          val w = texts(rnd.nextInt(texts.size)).split(" ")
          w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
          w.mkString(" ")
        } else if (kind < 23) {
          val c = ('a' + rnd.nextInt(26)).toChar.toString
          Seq.fill(10 + rnd.nextInt(20))(c * (3 + rnd.nextInt(5))).mkString(" ")
        } else {
          val words = Seq.fill(20 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size)))
          if (kind < 33) (words :+ s"mail${rnd.nextInt(999)}@example.org order ${rnd.nextInt(99999)}").mkString(" ")
          else words.mkString(" ")
        }
      texts += text
      (i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(10)}")
    }
  }

  /** Writes a corpus of `rotations` copies of the `n` base docs, each
    * copy under its own seed-chosen character rotation (the
    * `BenchStress.scaledDocs` bijection: letters by 7k, digits by 3k),
    * so every seed gets distinct text with the same duplicate structure.
    * Which near-duplicates MinHash-LSH pairs depends on the rotation;
    * several rotations per corpus average that out, so the work of a
    * pass varies less from seed to seed.
    */
  def writeDocs(spark: SparkSession, seed: Long, n: Int, dir: String): Unit = {
    import spark.implicits._
    def rot(s: String, by: Int) = s.drop(by % s.length) + s.take(by % s.length)
    val lo = "abcdefghijklmnopqrstuvwxyz"
    val di = "0123456789"
    val from = lo + lo.toUpperCase + di
    val ks = new scala.util.Random(seed).shuffle((1 to 25).toList).take(rotations)
    val base = baseDocs(n)
    ks.zipWithIndex.map { case (k, r) =>
      val to = rot(lo, 7 * k) + rot(lo, 7 * k).toUpperCase + rot(di, 3 * k)
      base.map { case (i, text, lang, src) => (r * n + i, text, lang, src) }
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("text", translate(col("text"), from, to))
    }.reduce(_ union _)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(4)
      .write.mode("overwrite").parquet(dir)
  }

  /** Correctness gate over one written output: the written row count
    * equals `rows_out`, output ids are input ids, and no two output docs
    * share exact text. Returns the failures found.
    */
  def gate(spark: SparkSession, input: String, output: String, rowsOut: Long): Seq[String] = {
    val out = spark.read.parquet(output)
    val in = spark.read.parquet(input)
    val written = out.count()
    val foreign = out.select("doc_id").join(in.select("doc_id"), Seq("doc_id"), "left_anti").count()
    val dupText = out.groupBy("text").count().filter(col("count") > 1).count()
    Seq(
      if (written != rowsOut) Some(s"wrote $written rows, run reported $rowsOut") else None,
      if (foreign > 0) Some(s"$foreign output ids not in the input") else None,
      if (dupText > 0) Some(s"$dupText texts kept more than once") else None,
      if (rowsOut <= 0) Some("empty output") else None).flatten
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
          work: String, sessionS: Double, beforeTiming: () => Unit): RunResult = {
    val input = s"$work/source/docs.parquet"
    val outRoot = s"$work/target"
    val tr = new Tracer(spark, s"$work/source", outRoot)
    if (trace) tr.attachTaskListener()
    var attempted = 0
    var failed = 0
    def check(in: String, out: String, rowsOut: Long): Unit = {
      attempted += 1
      val errs = gate(spark, in, out, rowsOut)
      errs.foreach(e => System.err.println(s"[perfbench] gate: $out: $e"))
      if (errs.nonEmpty) failed += 1
    }

    // -- set-up: the inputs, then untimed passes over the corpus -------
    val setupWallS = Util.timed {
      writeDocs(spark, seed, docs, input)
      (1 to warmPasses).foreach { k =>
        val out = s"$outRoot/warm$k"
        val (_, rowsOut) = graft.Pipeline.run(spark, config(input, out))
        check(input, out, rowsOut)
      }
    }._2
    val setupS = sessionS + setupWallS
    beforeTiming()
    Util.resetPeakHeap()

    // -- timed loop: full passes; the first, still warming, is initial_s -
    final case class Pass(n: Int, secs: Double, rowsIn: Long, rowsOut: Long, scanMb: Double,
                          traced: Boolean)
    val full = scala.collection.mutable.ArrayBuffer[Pass]()
    val budgetNs = seconds * 1000000000L
    val loopStart = System.nanoTime()
    var j = 0
    while (System.nanoTime() - loopStart < budgetNs || full.size < 4) {
      j += 1
      val traced = trace && j % 2 == 1
      val out = s"$outRoot/run$j"
      tr.enabled = traced
      tr.cycle = j
      val scan0 = tr.totals.get("scan_mb.source")
      Util.settle()
      val ((rowsIn, rowsOut), secs) =
        Util.timed(tr.span("pipeline.run")(graft.Pipeline.run(spark, config(input, out))))
      tr.drain()
      tr.enabled = false
      full += Pass(j, secs, rowsIn, rowsOut, tr.totals.get("scan_mb.source") - scan0, traced)
      check(input, out, rowsOut)
    }
    val inBytes = Util.dataBytes(spark, input)
    val outBytes = Util.dataBytes(spark, s"$outRoot/run$j")

    // -- traced extras: marginal time of each stage prefix -------------
    // Prefix 0 is a plain copy of the input (Pipeline.run needs at least
    // one stage), so the first stage's figure is its time over the I/O.
    val layers = if (!trace) Map.empty[String, Double] else {
      val prefixS = (0 to stages.size).map { k =>
        tr.enabled = true
        tr.cycle = 1000 + k
        val out = s"$outRoot/prefix$k"
        val (_, s) = Util.timed(tr.span(s"pipeline.prefix:$k") {
          if (k == 0) spark.read.parquet(input).write.mode("overwrite").parquet(out)
          else graft.Pipeline.run(spark, config(input, out, k))
        })
        tr.drain()
        tr.enabled = false
        s
      }
      val roots = tr.spans.filter(_.name == "pipeline.run")
      val under = roots.flatMap(Tracer.subtree(tr.spans, _))
      def count(k: String) = under.map(_.counts.get(k)).sum
      val n = math.max(1, roots.size).toDouble
      val rootSecs = roots.map(_.durS).sum
      val tracedS = Util.median(full.filter(_.traced).map(_.secs).toSeq)
      val plainS = Util.median(full.filter(!_.traced).map(_.secs).toSeq)
      stages.indices.map(i => s"pipeline.stage_s.${stages(i)._1}" -> (prefixS(i + 1) - prefixS(i))).toMap ++
        Map(
          "pipeline.rows_out" -> full.last.rowsOut.toDouble,
          "pipeline.kept_ratio" -> full.last.rowsOut.toDouble / full.last.rowsIn,
          "rows_per_s" -> Util.median(full.filter(!_.traced).map(p => p.rowsIn / p.secs).toSeq),
          "peak_heap_mb" -> Util.peakHeapMb(),
          "spark.jobs" -> count("jobs") / n,
          "spark.tasks" -> count("tasks") / n,
          "spark.shuffle_write_mb" -> count("shuffle_write_mb") / n,
          "spark.gc_s" -> count("gc_s") / n,
          "spark.executor_busy_ratio" ->
            count("executor_run_s") / (rootSecs * spark.sparkContext.defaultParallelism),
          "trace.overhead_s" -> (tracedS - plainS),
          "trace.overhead_ratio" -> (tracedS - plainS) / plainS)
    }

    val timedFull = (if (trace) full.filter(!_.traced) else full).filter(_.n > 1)
    val e2e = Seq(
      "setup_s" -> setupS,
      "initial_s" -> full.head.secs,
      "busy_p50_s" -> Util.median(timedFull.map(_.secs).toSeq),
      "scan_mb_per_op" -> Util.mean(full.map(_.scanMb).toSeq),
      "out_mb_per_in_mb" -> outBytes.toDouble / inBytes)
    System.err.println(s"[perfbench] curation passes: " +
      full.map(p => f"${p.n}%d${if (p.traced) "t" else ""}=${p.secs}%.2fs").mkString(" "))
    RunResult(e2e, layers, attempted, failed, tr.spans,
      Map("passes" -> full.size.toDouble, "session_s" -> sessionS))
  }
}
