package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.streaming.{AnomalyStream, CdcStream, DriftStream, EventStream}
import graft.util.Tables

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-stream").toString

  test("streaming CDC upsert converges target to the union of all feed batches") {
    val feedDir = tmp(); val target = s"${tmp()}/events.parquet"; val cp = tmp()
    val events = Tables.events(spark, sfDir).cache()

    // batch 1 lands before the stream starts
    events.filter($"event_id" < 400).coalesce(1)
      .write.mode("append").parquet(feedDir)

    val q = CdcStream.upsertStream(spark, feedDir, target, cp, Seq("event_id"))
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(target).count() == 400)

      // batch 2: overlap (replays 300-399) + new rows — upsert must dedup
      events.filter($"event_id" >= 300 && $"event_id" < 700).coalesce(1)
        .write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val tgt = spark.read.parquet(target)
      assert(tgt.count() == 700)
      assert(tgt.select("event_id").distinct().count() == 700)
    } finally q.stop()
  }

  test("streaming CDC upsert handles a PK-only feed (presence sets)") {
    val feedDir = tmp(); val target = s"${tmp()}/k.parquet"; val cp = tmp()
    Seq(Tuple1(1L), Tuple1(2L), Tuple1(1L)).toDF("id")
      .coalesce(1).write.mode("append").parquet(feedDir)
    val q = CdcStream.upsertStream(spark, feedDir, target, cp, Seq("id"))
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(target).as[Long].collect().toSet == Set(1L, 2L))
    } finally q.stop()
  }

  test("bucketed streaming upsert rewrites only the partitions a micro-batch touches") {
    import graft.cdc.BucketedLayout
    val feedDir = tmp(); val target = s"${tmp()}/events.parquet"; val cp = tmp()
    val events = Tables.events(spark, sfDir).cache()
    events.filter($"event_id" < 400).coalesce(1)
      .write.mode("append").parquet(feedDir)
    val q = CdcStream.upsertStream(spark, feedDir, target, cp, Seq("event_id"),
      versionColumn = Some("event_id"), nBuckets = Some(8))
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(target).drop(BucketedLayout.GB).count() == 400)
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) Option(d.listFiles()).toSeq.flatten.flatMap(walk) else Seq(d)
      def files() = walk(new java.io.File(target))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
      val before = files()

      // micro-batch 2: 5 fresh keys — only their buckets may change
      val extra = events.limit(5).withColumn("event_id", $"event_id" + 90000L).cache()
      extra.coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val after = files()
      val touched = extra.select(BucketedLayout.bucketExpr(Seq("event_id"), 8).as("gb"))
        .distinct().as[Int].collect().toSet
      assert(touched.size < 8)
      def untouchedOf(m: Map[String, (Long, Long)]) =
        m.filter { case (p, _) => !touched.exists(k => p.contains(s"graft_bucket=$k/")) }
      assert(untouchedOf(after) == untouchedOf(before),
        "micro-batch must not rewrite partitions outside its key buckets")
      assert(spark.read.parquet(target).drop(BucketedLayout.GB).count() == 405)
    } finally q.stop()
  }

  test("empty first micro-batch does not wedge a flat streaming target") {
    val feedDir = tmp(); val target = s"${tmp()}/t.parquet"; val cp = tmp()
    val events = Tables.events(spark, sfDir).cache()
    // a zero-row parquet file → the stream's FIRST micro-batch is empty;
    // without the guard the zero-row overwrite leaves a schema-less shell
    // that flips the exists gate and wedges every later merge
    events.limit(0).coalesce(1).write.mode("append").parquet(feedDir)
    val q = CdcStream.upsertStream(spark, feedDir, target, cp, Seq("event_id"))
    try {
      q.processAllAvailable()
      assert(!new java.io.File(target).exists(), "empty batch must not write")

      events.filter($"event_id" < 200).coalesce(1)
        .write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      assert(spark.read.parquet(target).count() == 200)

      // and a later merge (overlap + new) still works
      events.filter($"event_id" >= 100 && $"event_id" < 300).coalesce(1)
        .write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val tgt = spark.read.parquet(target)
      assert(tgt.count() == 300)
      assert(tgt.select("event_id").distinct().count() == 300)
    } finally q.stop()
  }

  test("empty first micro-batch does not wedge a bucketed streaming target") {
    import graft.cdc.BucketedLayout
    val feedDir = tmp(); val target = s"${tmp()}/t.parquet"; val cp = tmp()
    val events = Tables.events(spark, sfDir).cache()
    events.limit(0).coalesce(1).write.mode("append").parquet(feedDir)
    val q = CdcStream.upsertStream(spark, feedDir, target, cp, Seq("event_id"),
      versionColumn = Some("event_id"), nBuckets = Some(4))
    try {
      q.processAllAvailable()
      assert(!new java.io.File(target).exists(), "empty batch must not write")

      events.filter($"event_id" < 200).coalesce(1)
        .write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      assert(spark.read.parquet(target).drop(BucketedLayout.GB).count() == 200)

      events.filter($"event_id" >= 100 && $"event_id" < 300).coalesce(1)
        .write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val tgt = spark.read.parquet(target).drop(BucketedLayout.GB)
      assert(tgt.count() == 300)
      assert(tgt.select("event_id").distinct().count() == 300)
    } finally q.stop()
  }

  test("streaming CDC upsert collapses duplicate PKs within one micro-batch by version") {
    val feedDir = tmp(); val target = s"${tmp()}/t.parquet"; val cp = tmp()
    // one file → one micro-batch carrying THREE change rows for PK 1
    Seq((1L, 1L, "old"), (1L, 3L, "new"), (1L, 2L, "mid"), (2L, 1L, "x"))
      .toDF("id", "ver", "v").coalesce(1).write.mode("append").parquet(feedDir)
    val q = CdcStream.upsertStream(spark, feedDir, target, cp, Seq("id"),
      versionColumn = Some("ver"))
    try {
      q.processAllAvailable()
      val out = spark.read.parquet(target).as[(Long, Long, String)].collect().toSet
      assert(out == Set((1L, 3L, "new"), (2L, 1L, "x")),
        "last-writer-wins must hold within a single micro-batch")
    } finally q.stop()
  }

  test("streaming windowed aggregation emits finalized windows") {
    val feedDir = tmp()
    val events = Tables.events(spark, sfDir)
    events.coalesce(1).write.mode("append").parquet(feedDir)
    val feed = EventStream.fileFeed(spark, feedDir, events.schema)
    val agg = EventStream.windowedAgg(feed)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      // append mode holds back windows newer than the watermark; feed a
      // far-future row to flush everything, then check completeness
      events.limit(1).withColumn("ts", lit("2030-01-01 00:00:00").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val out = spark.table("win_out")
      val batch = Analytics.qEventsWindowShape(spark, sfDir)
      assert(out.count() >= batch * 9 / 10, s"only ${out.count()} of ~$batch windows emitted")
    } finally q.stop()
  }

  object Analytics {
    /** number of (hour, event_type) groups the batch twin produces */
    def qEventsWindowShape(s: org.apache.spark.sql.SparkSession, dir: String): Long =
      graft.queries.Analytics.qEventsWindow(s, dir).count()
  }

  test("stateful sessionize matches the batch sessionizer's session count") {
    val feedDir = tmp()
    val events = Tables.events(spark, sfDir).cache()
    events.coalesce(1).write.mode("append").parquet(feedDir)
    val feed = EventStream.fileFeed(spark, feedDir, events.schema)
    val sessions = EventStream.sessionize(feed, gapMinutes = 30)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      // advance the watermark far enough to time out every open session
      events.limit(1).withColumn("ts", lit("2030-01-01 00:00:00").cast("timestamp"))
        .coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val streamed = spark.table("sess_out")
        .filter($"session_start_ms" < lit(1893456000000L)) // drop the flush row's own session
      val batchSessions = graft.queries.Analytics.qEventsSessionize(spark, sfDir)
        .select($"user_id", $"session_seq").distinct().count()
      assert(streamed.count() == batchSessions,
        s"streamed ${streamed.count()} sessions vs batch $batchSessions")
      // event counts must also reconcile: every event lands in exactly one session
      val nEvents = streamed.agg(sum($"n_events")).head().getLong(0)
      assert(nEvents == events.count())
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    val feedDir = tmp()
    val events = Tables.events(spark, sfDir).cache()
    events.coalesce(1).write.mode("append").parquet(feedDir)
    val feed = EventStream.fileFeed(spark, feedDir, events.schema)
    val q = EventStream.intervalJoin(feed).writeStream.outputMode("append")
      .format("memory").queryName("corr_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("corr_out").count()
      val c = events.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
      val p = events.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("purchase_id"))
      val batch = c.join(p, expr(
        "user_id = p_user AND p_ts BETWEEN click_ts - INTERVAL 1 HOUR AND click_ts")).count()
      assert(batch > 0, "fixture must produce at least one correlated pair")
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
    } finally q.stop()
  }

  test("streaming near-dup filter admits only novel docs across micro-batches") {
    val feedDir = tmp(); val outDir = s"${tmp()}/out.parquet"
    val stateDir = tmp(); val cp = tmp()
    val t1 = "the quick brown fox jumps over the lazy dog near the river bank today"
    val t2 = "completely different content about distributed query engines and parquet files"
    val t3 = "training data pipelines need scalable deduplication across many document shards " +
      "because web crawls repeat boilerplate text and templated pages at enormous rates daily"
    val t3near = t3.replace("daily", "weekly") // 1 of ~24 distinct tokens, J ≈ 0.96
    Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(feedDir)
    // 4 bands of 4 hashes: band-collision probability at J≈0.96 is
    // ~1-(1-0.96⁴)⁴ ≈ 0.9996 — and the hash family is deterministic,
    // so this either always passes or never does
    val q = CdcStream.nearDupStream(spark, feedDir, outDir, stateDir, cp,
      "text", "doc_id", numHashes = 16, numBands = 4)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet ==
        Set(1L, 2L))

      // batch 2: exact replay of t1 (new id), a novel doc, and a
      // same-batch near-copy of the novel doc (one word changed)
      Seq((3L, t1), (4L, t3), (5L, t3near)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val admitted = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
      assert(admitted == Set(1L, 2L, 4L),
        s"got $admitted: 3 dups stored 1; 5 dups same-batch 4")
    } finally q.stop()
  }

  test("streaming exact dedup admits novel content only, across triggers and replays") {
    val feedDir = tmp(); val outDir = s"${tmp()}/out.parquet"
    val stateDir = tmp(); val cp = tmp()
    val t1 = "alpha beta gamma delta epsilon"
    val t2 = "one two three four five"
    val t3 = "completely fresh words never seen before"
    Seq((1L, t1), (2L, t2), (3L, t2)).toDF("doc_id", "text") // 3 dups 2 in-batch
      .coalesce(1).write.mode("append").parquet(feedDir)
    val q = CdcStream.exactDedupStream(spark, feedDir, outDir, stateDir, cp,
      "text", "doc_id")
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet ==
        Set(1L, 2L))
      // trigger 2: exact replay of t1 under a new id + one novel doc;
      // whitespace/case variants of t2 must also hit the stored hash
      Seq((4L, t1), (5L, t3), (6L, s"  ONE two   three FOUR five "))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val admitted = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
      assert(admitted == Set(1L, 2L, 5L),
        s"got $admitted: 4 dups stored 1; 6 normalizes to stored 2")
    } finally q.stop()
  }

  test("exact-dedup batch step is replay-idempotent and probes only its buckets") {
    val outDir = s"${tmp()}/out.parquet"; val stateDir = tmp()
    val t1 = "alpha beta gamma"; val t2 = "delta epsilon zeta"
    def admittedIds() = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet

    val b0 = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
    CdcStream.exactDedupBatch(spark, b0, 0L, outDir, stateDir, "text", "doc_id")
    assert(admittedIds() == Set(1L, 2L))
    // replay after a crash-between-output-and-store: identical result,
    // no double-admitted rows, store rows recorded once
    CdcStream.exactDedupBatch(spark, b0, 0L, outDir, stateDir, "text", "doc_id")
    assert(admittedIds() == Set(1L, 2L) && spark.read.parquet(outDir).count() == 2)
    val store = spark.read.parquet(s"$stateDir/hashes.parquet")
    assert(store.count() == 2, "replay must overwrite, not append, store rows")

    // next batch still dedups against the store
    CdcStream.exactDedupBatch(spark,
      Seq((7L, t1), (8L, "brand new content here")).toDF("doc_id", "text"),
      1L, outDir, stateDir, "text", "doc_id")
    assert(admittedIds() == Set(1L, 2L, 8L))

    // the store layout is hash-bucketed and marked with its count
    assert(graft.cdc.BucketedLayout.readBucketCount(
      spark, s"$stateDir/hashes.parquet").contains(64))
  }

  test("near-dup batch step is replay-idempotent (at-least-once safe)") {
    val outDir = s"${tmp()}/out.parquet"; val stateDir = tmp()
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val t2 = "one two three four five six seven eight nine ten eleven twelve thirteen"
    def admittedIds() = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet

    val b0 = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
    CdcStream.nearDupBatch(spark, b0, 0L, outDir, stateDir, "text", "doc_id",
      numBands = 4)
    assert(admittedIds() == Set(1L, 2L))

    // REPLAY batch 0 (crash-after-partial-commit scenario): must not
    // self-collide with its stored signatures nor duplicate output
    CdcStream.nearDupBatch(spark, b0, 0L, outDir, stateDir, "text", "doc_id",
      numBands = 4)
    assert(admittedIds() == Set(1L, 2L), "replay must be a no-op")
    assert(spark.read.parquet(outDir).count() == 2, "no double-admitted rows")

    // batch 1 still dedups against the (singly-recorded) store
    val b1 = Seq((3L, t1), (4L, "totally novel words appear here and nowhere else at all"))
      .toDF("doc_id", "text")
    CdcStream.nearDupBatch(spark, b1, 1L, outDir, stateDir, "text", "doc_id",
      numBands = 4)
    assert(admittedIds() == Set(1L, 2L, 4L))
  }

  test("near-dup store probe lists and scans only the batch's hash buckets") {
    val outDir = s"${tmp()}/out.parquet"; val stateDir = tmp()
    val nB = 8
    def doc(i: Int) = (i.toLong, s"document number $i " +
      (1 to 12).map(j => s"w${i}x$j unique").mkString(" "))
    // two seed batches spread signatures across several store buckets
    CdcStream.nearDupBatch(spark, Seq(doc(1), doc(2), doc(3)).toDF("doc_id", "text"),
      0L, outDir, stateDir, "text", "doc_id", numBands = 4, nStoreBuckets = nB)
    CdcStream.nearDupBatch(spark, Seq(doc(4), doc(5), doc(6)).toDF("doc_id", "text"),
      1L, outDir, stateDir, "text", "doc_id", numBands = 4, nStoreBuckets = nB)
    val bandsPath = s"$stateDir/bands.parquet"
    val existing = new java.io.File(bandsPath).listFiles()
      .filter(_.getName.startsWith("gb=")).map(_.getName).toSet
    assert(existing.size > 1, s"fixture must span several buckets, got $existing")

    // probe a strict subset of the existing buckets: every file the
    // scan would read must live inside exactly those bucket dirs
    val probed = existing.take(existing.size - 1)
      .map(_.stripPrefix("gb=").toInt).toSeq
    val df = CdcStream.probeStore(spark, bandsPath, probed, 2L).get
    val files = df.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f => probed.exists(k => f.contains(s"gb=$k/"))),
      s"probe read outside its buckets: ${files.mkString(",")}")

    // and the current batch's own partitions are excluded from rows:
    // probing as batch 1 must only surface batch-0 ids
    val seen = CdcStream.probeStore(spark, bandsPath,
      existing.map(_.stripPrefix("gb=").toInt).toSeq, 1L).get
      .select("id").distinct().as[Long].collect().toSet
    assert(seen == Set(1L, 2L, 3L), s"replay probe must exclude own batch, got $seen")
  }

  test("near-dup filter refuses a legacy flat signature store (no silent re-admission)") {
    val outDir = s"${tmp()}/out.parquet"; val stateDir = tmp()
    // a pre-bucketed store: flat batch=<id> dirs at the store root
    new java.io.File(s"$stateDir/bands.parquet/batch=0").mkdirs()
    new java.io.File(s"$stateDir/sets.parquet/batch=0").mkdirs()
    val b = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      CdcStream.nearDupBatch(spark, b, 1L, outDir, stateDir, "text", "doc_id",
        numBands = 4)
    }
    assert(e.getMessage.contains("legacy"), e.getMessage)
  }

  test("legacy near-dup store migrates to the bucketed layout with state intact") {
    import graft.ops.Dedup
    val outDir = s"${tmp()}/out.parquet"; val stateDir = tmp()
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // hand-build the LEGACY flat layout exactly as round-3 code wrote
    // it: plain batch=<id> dirs holding (band,sig,id) / (id,toks,n)
    val toks = Dedup.tokenSet(Seq((1L, t1)).toDF("doc_id", "text"), "text", "doc_id")
    Dedup.bandSignatures(Dedup.minHashSignatures(toks, 16), 16, 4)
      .write.parquet(s"$stateDir/bands.parquet/batch=0")
    Dedup.tokenHashSets(toks)
      .write.parquet(s"$stateDir/sets.parquet/batch=0")
    Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$outDir/batch=0")

    // simulate a crash BETWEEN the two publish renames of an earlier
    // attempt: the original store sits aside, nothing owns the root —
    // migration must restore it and complete (no lost store)
    val bandsRoot = new java.io.File(s"$stateDir/bands.parquet")
    assert(bandsRoot.renameTo(new java.io.File(s"$stateDir/bands.parquet.__premigration")))

    CdcStream.migrateNearDupStore(spark, stateDir, nStoreBuckets = 8)
    // post-migration: gb= hash partitions, no flat batch dirs left,
    // count recorded, crash artifacts cleaned up
    val dirs = bandsRoot.listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("gb=")) && !dirs.exists(_.startsWith("batch=")), dirs.toSeq)
    assert(graft.cdc.BucketedLayout.readBucketCount(
      spark, s"$stateDir/bands.parquet").contains(8))
    assert(!new java.io.File(s"$stateDir/bands.parquet.__premigration").exists())
    assert(!new java.io.File(s"$stateDir/bands.parquet.__migrating").exists())

    // a stream configured with a DIFFERENT store bucket count must
    // refuse loudly — its probes would miss every stored signature
    val mm = intercept[IllegalStateException] {
      CdcStream.nearDupBatch(spark, Seq((9L, t1)).toDF("doc_id", "text"),
        2L, outDir, stateDir, "text", "doc_id", numBands = 4, nStoreBuckets = 16)
    }
    assert(mm.getMessage.contains("store buckets"), mm.getMessage)

    // the migrated signatures still reject an exact copy (new id, batch 1)
    CdcStream.nearDupBatch(spark, Seq((2L, t1), (3L, "totally different fresh words " +
      "appearing nowhere else at all in anything")).toDF("doc_id", "text"),
      1L, outDir, stateDir, "text", "doc_id", numBands = 4, nStoreBuckets = 8)
    val admitted = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 3L), s"got $admitted: 2 must dedup against migrated state")
  }

  test("near-dup store compaction bounds per-bucket dirs and keeps old signatures") {
    val outDir = s"${tmp()}/out.parquet"; val stateDir = tmp()
    val nB = 2; val maxDirs = 3
    def doc(i: Int) = (i.toLong, s"document number $i " +
      (1 to 12).map(j => s"w${i}x$j unique").mkString(" "))
    (0 until 8).foreach { b =>
      CdcStream.nearDupBatch(spark, Seq(doc(b)).toDF("doc_id", "text"),
        b.toLong, outDir, stateDir, "text", "doc_id", numBands = 4,
        nStoreBuckets = nB, maxStoreDirsPerBucket = maxDirs)
    }
    // every bucket of both stores holds at most maxDirs batch dirs
    for (store <- Seq("bands.parquet", "sets.parquet")) {
      val buckets = Option(new java.io.File(s"$stateDir/$store").listFiles())
        .toSeq.flatten.filter(_.getName.startsWith("gb="))
      assert(buckets.nonEmpty)
      buckets.foreach { bk =>
        val dirs = bk.listFiles().filter(_.getName.startsWith("batch=")).map(_.getName)
        assert(dirs.length <= maxDirs,
          s"$store/${bk.getName} has ${dirs.toSeq}: compaction must bound listing")
      }
    }
    // a signature admitted in batch 0 (long since folded into a base
    // dir) still rejects an exact copy arriving in batch 8
    CdcStream.nearDupBatch(spark, Seq((100L, doc(0)._2)).toDF("doc_id", "text"),
      8L, outDir, stateDir, "text", "doc_id", numBands = 4,
      nStoreBuckets = nB, maxStoreDirsPerBucket = maxDirs)
    val admitted = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    assert(admitted == (0L until 8L).toSet,
      s"copy of a compacted doc must still be rejected, got $admitted")
  }

  test("near-dup store marker lands before the first data write") {
    // a crash between the first data write and a trailing marker write
    // would leave a bucketed store unmarked — a restart with a
    // different nStoreBuckets would then pass requireStoreBuckets and
    // silently miss stored signatures. Pin the ordering: when the data
    // write itself fails, the marker must already be on disk.
    val store = s"${tmp()}/bands.parquet"
    val failing = Seq((1L, "x")).toDF("id", "payload")
      .withColumn("boom", raise_error(lit("simulated mid-write crash")))
    intercept[Exception] {
      CdcStream.writeStorePartitions(failing, lit(0), 0L, store, nStoreBuckets = 8)
    }
    assert(graft.cdc.BucketedLayout.readBucketCount(spark, store).contains(8),
      "bucket-count marker must be stamped before the first data write")
    // and a later write with a different count refuses against it
    intercept[IllegalStateException] {
      CdcStream.requireStoreBuckets(spark, store, 16)
    }
  }

  test("near-dup store compaction keeps the LATEST batch's row per key") {
    // same id admitted in two folded batches with different token sets
    // (id reuse): the compacted keeper must be the max-batch row, not
    // an arbitrary dropDuplicates survivor — a replayed trigger must
    // recompute the SAME compaction.
    val store = s"${tmp()}/sets.parquet"
    val bucketDir = s"$store/gb=0"
    Seq((5L, Array(10L, 20L), 2L)).toDF("id", "toks", "n")
      .coalesce(1).write.parquet(s"$bucketDir/batch=0")
    Seq((5L, Array(30L, 40L, 50L), 3L)).toDF("id", "toks", "n")
      .coalesce(1).write.parquet(s"$bucketDir/batch=1")
    CdcStream.compactBucket(spark, store, 0, batchId = 3L,
      keyCols = Seq("id"), maxDirs = 1)
    val dirs = new java.io.File(bucketDir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs == Set("batch=-5"), s"both sources must fold into one base, got $dirs")
    val kept = spark.read.parquet(s"$bucketDir/batch=-5")
      .as[(Long, Array[Long], Long)].collect()
    assert(kept.length == 1)
    assert(kept.head._1 == 5L && kept.head._2.toSeq == Seq(30L, 40L, 50L) &&
      kept.head._3 == 3L, s"keeper must be the batch-1 row, got ${kept.toSeq}")
  }

  test("streaming MV maintenance tracks recompute under churn, replays, and a crash window") {
    import scala.util.Random
    import graft.streaming.AggStream
    val dir = tmp()
    val basePath = s"$dir/base.parquet"; val aggPath = s"$dir/agg.parquet"
    val rnd = new Random(83)
    var truth = Map.empty[Long, (Int, Double)] // pk -> (grp, v)
    var nextPk = 0L
    def copyDir(src: String, dst: String): Unit = {
      import java.nio.file.{Files, Paths}
      val s = Paths.get(src); val d = Paths.get(dst)
      Files.walk(s).forEach { p =>
        val t = d.resolve(s.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    }
    val maxDeltaDirs = 3
    def check(cycle: Int): Unit = {
      val gotBase = spark.read.parquet(basePath)
        .as[(Long, Int, Double, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(gotBase == truth, s"cycle $cycle: base diverged")
      val gotAgg = AggStream.readAgg(spark, aggPath, Seq("grp")).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
      val want = truth.values.groupBy(_._1).map { case (g, rows) =>
        g -> (rows.size.toLong, rows.map(r => BigDecimal(r._2).setScale(2)).sum)
      }
      assert(gotAgg == want, s"cycle $cycle: maintained aggregate diverged from recompute")
    }
    (0 until 8).foreach { b =>
      val ups = (0 until rnd.nextInt(30) + 1).map { _ =>
        val pk = if (truth.nonEmpty && rnd.nextBoolean())
          truth.keys.toSeq(rnd.nextInt(truth.size))
        else { nextPk += 1; nextPk }
        (pk, rnd.nextInt(5), rnd.nextInt(400) / 4.0, b.toLong, false)
      }.distinctBy(_._1)
      val upKeys = ups.map(_._1).toSet
      val dels = truth.keys.filter(pk => !upKeys.contains(pk) && rnd.nextInt(6) == 0)
        .map(pk => (pk, 0, 0.0, b.toLong, true)).toSeq
      val batch = (ups ++ dels).toDF("pk", "grp", "v", "ver", "del")
      def run() = AggStream.foldBatch(spark, batch, b.toLong, basePath, aggPath,
        Seq("pk"), Seq("grp"), "v", versionColumn = Some("ver"), deleteCol = Some("del"),
        maxDeltaDirs = maxDeltaDirs)
      if (b == 3) {
        // crash window: the delta published (stamped) but the base
        // upsert didn't — a replay must skip the fold (the base has
        // NOT advanced, but neither may the delta double-apply) and
        // re-run only the idempotent base merge
        val save = s"$dir/base_save"
        copyDir(basePath, save)
        run()                                  // delta stamped AND base merged...
        graft.util.Fs.delete(spark, basePath)  // ...now undo the base half
        copyDir(save, basePath)
      }
      run()
      if (b == 5) {
        // crash window INSIDE the base swap: destination deleted, the
        // completed staging dir not yet renamed — the replay must
        // promote staging instead of restarting the replica from this
        // batch (the staging dir carries its _SUCCESS commit marker)
        assert(new java.io.File(basePath).renameTo(new java.io.File(s"$basePath.staging")))
      }
      if (rnd.nextInt(2) == 0 || b == 5) run() // plain at-least-once replay
      truth = (truth -- dels.map(_._1)) ++ ups.map(u => u._1 -> (u._2, u._3))
      check(b)
    }
    // the stamp is what made the replays safe: it must carry the last batch id
    assert(AggStream.readStamp(spark, aggPath).contains(7L))
    // the delta log is compacted: listing stays bounded with stream age
    val dirs = new java.io.File(aggPath).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName)
    assert(dirs.length <= maxDeltaDirs,
      s"delta log must stay bounded, got ${dirs.toSeq}")
  }

  test("MV maintenance refuses a fresh checkpoint against an old store; tolerates stamp damage") {
    import graft.streaming.AggStream
    val dir = tmp()
    val basePath = s"$dir/base.parquet"; val aggPath = s"$dir/agg.parquet"
    def run(rows: Seq[(Long, Int, Double, Long, Boolean)], b: Long) =
      AggStream.foldBatch(spark, rows.toDF("pk", "grp", "v", "ver", "del"), b,
        basePath, aggPath, Seq("pk"), Seq("grp"), "v",
        versionColumn = Some("ver"), deleteCol = Some("del"))
    run(Seq((1L, 0, 1.0, 7L, false)), 7L)
    // batch ids restarting BELOW the stamp = a fresh checkpoint pointed
    // at an old store: folding would silently skip and diverge — refuse
    val e = intercept[IllegalStateException] { run(Seq((2L, 0, 2.0, 0L, false)), 0L) }
    assert(e.getMessage.contains("checkpoint"), e.getMessage)
    // a truncated/garbled stamp reads as absent (refold is safe), not a
    // crash loop
    graft.util.Fs.writeSmallText(spark, aggPath, "_graft_batch", "")
    assert(AggStream.readStamp(spark, aggPath).isEmpty)
    run(Seq((2L, 1, 2.0, 8L, false)), 8L)
    val agg = AggStream.readAgg(spark, aggPath, Seq("grp")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(agg == Map(0 -> 1L, 1 -> 1L), s"got $agg")

    // an ALL-TOMBSTONE bootstrap batch must not wedge later triggers
    // with a schema-less shell (neither store may become unreadable)
    val dir2 = tmp()
    AggStream.foldBatch(spark,
      Seq((9L, 0, 0.0, 0L, true)).toDF("pk", "grp", "v", "ver", "del"), 0L,
      s"$dir2/base.parquet", s"$dir2/agg.parquet", Seq("pk"), Seq("grp"), "v",
      versionColumn = Some("ver"), deleteCol = Some("del"), nBuckets = Some(4))
    AggStream.foldBatch(spark,
      Seq((1L, 2, 8.0, 1L, false)).toDF("pk", "grp", "v", "ver", "del"), 1L,
      s"$dir2/base.parquet", s"$dir2/agg.parquet", Seq("pk"), Seq("grp"), "v",
      versionColumn = Some("ver"), deleteCol = Some("del"), nBuckets = Some(4))
    val agg2 = AggStream.readAgg(spark, s"$dir2/agg.parquet", Seq("grp")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(agg2 == Map(2 -> 1L), s"got $agg2")
    assert(spark.read.parquet(s"$dir2/base.parquet").count() == 1)
  }

  test("MV maintenance on a bucketed base rewrites only the touched partitions") {
    import graft.streaming.AggStream
    import graft.cdc.BucketedLayout
    val dir = tmp()
    val basePath = s"$dir/base.parquet"; val aggPath = s"$dir/agg.parquet"
    val n = 8
    def run(rows: Seq[(Long, Int, Double, Long, Boolean)], b: Long) =
      AggStream.foldBatch(spark, rows.toDF("pk", "grp", "v", "ver", "del"), b,
        basePath, aggPath, Seq("pk"), Seq("grp"), "v",
        versionColumn = Some("ver"), deleteCol = Some("del"), nBuckets = Some(n))
    run((0L until 64L).map(pk => (pk, (pk % 5).toInt, pk / 4.0, 0L, false)), 0L)
    assert(BucketedLayout.readBucketCount(spark, basePath).contains(n))
    def snapshot(): Map[String, Seq[(String, Long, Long)]] =
      new java.io.File(basePath).listFiles().filter(_.getName.startsWith("graft_bucket="))
        .map(d => d.getName -> d.listFiles().toSeq.map(f =>
          (f.getName, f.length(), f.lastModified())).sortBy(_._1)).toMap
    val before = snapshot()
    // one upsert + one delete: at most 2 buckets may change
    run(Seq((3L, 9, 99.0, 1L, false), (7L, 0, 0.0, 1L, true)), 1L)
    val after = snapshot()
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
    assert(changed.size <= 2, s"only touched partitions may change, got $changed")
    // and the maintained view tracks the recompute over the bucketed base
    val gotAgg = AggStream.readAgg(spark, aggPath, Seq("grp")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    val truth = ((0L until 64L).filter(pk => pk != 3L && pk != 7L)
      .map(pk => ((pk % 5).toInt, pk / 4.0)) :+ (9, 99.0))
      .groupBy(_._1).map { case (g, rows) =>
        g -> (rows.size.toLong, rows.map(r => BigDecimal(r._2).setScale(2)).sum)
      }
    assert(gotAgg == truth)
  }

  test("MV maintenance retracts a NULL-pk row's update and delete, as the base merge applies them") {
    import graft.streaming.AggStream
    for (nBuckets <- Seq(None, Some(4))) {
      val dir = tmp()
      val basePath = s"$dir/base.parquet"; val aggPath = s"$dir/agg.parquet"
      var truth = Map.empty[Option[Long], (Int, Double)] // pk -> (grp, v)
      Seq(
        Seq((Some(1L), 0, 1.0, false), (None, 0, 2.0, false), (Some(2L), 1, 4.0, false)),
        Seq((None, 1, 8.0, false)),  // the NULL-pk row moves to group 1
        Seq((None, 0, 0.0, true))    // and is deleted
      ).zipWithIndex.foreach { case (rows, b) =>
        AggStream.foldBatch(spark,
          rows.map { case (pk, g, v, del) => (pk, g, v, b.toLong, del) }
            .toDF("pk", "grp", "v", "ver", "del"), b.toLong,
          basePath, aggPath, Seq("pk"), Seq("grp"), "v",
          versionColumn = Some("ver"), deleteCol = Some("del"), nBuckets = nBuckets)
        truth = rows.foldLeft(truth) { case (t, (pk, g, v, del)) =>
          if (del) t - pk else t + (pk -> (g, v)) }
        val base = spark.read.parquet(basePath).select("pk", "grp", "v")
          .as[(Option[Long], Int, Double)].collect().toSeq
        assert(base.sortBy(_.toString) == truth.toSeq.map { case (pk, (g, v)) => (pk, g, v) }
          .sortBy(_.toString), s"$nBuckets batch $b: base replica diverged")
        val gotAgg = AggStream.readAgg(spark, aggPath, Seq("grp")).collect()
          .map(r => r.getInt(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
        val want = truth.values.groupBy(_._1).map { case (g, rs) =>
          g -> (rs.size.toLong, rs.map(r => BigDecimal(r._2).setScale(2)).sum)
        }
        assert(gotAgg == want, s"$nBuckets batch $b: aggregate diverged from the base")
      }
    }
  }

  test("streaming SCD2 history converges to the batch rebuild") {
    import graft.streaming.Scd2Stream
    import graft.cdc.Scd2
    val feedDir = tmp(); val hist = s"${tmp()}/history.parquet"; val cp = tmp()
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_id", "event_type").cache()
    // three feed files → at maxFilesPerTrigger=1 the stream folds
    // three genuinely separate micro-batches in arrival order
    for ((lo, hi) <- Seq((0L, 300L), (300L, 700L), (700L, 1000L)))
      ev.filter($"event_id" >= lo && $"event_id" < hi).coalesce(1)
        .write.mode("append").parquet(feedDir)
    val q = Scd2Stream.historyStream(spark, feedDir, hist, cp,
      Seq("user_id"), "event_id", Seq("event_type"), maxFilesPerTrigger = 1)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(hist)
    val want = Scd2.buildHistory(ev, Seq("user_id"), "event_id", Seq("event_type"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("SCD2 fold is replay-idempotent and heals a crashed swap") {
    import graft.streaming.Scd2Stream
    import graft.cdc.Scd2
    val hist = s"${tmp()}/history.parquet"
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_id", "event_type").cache()
    val b1 = ev.filter($"event_id" < 500)
    val b2 = ev.filter($"event_id" >= 500 && $"event_id" < 900)
    def run(b: org.apache.spark.sql.DataFrame) =
      Scd2Stream.foldBatch(spark, b, hist, Seq("user_id"), "event_id", Seq("event_type"))
    run(b1)
    run(b2)
    run(b2) // at-least-once replay of the SAME batch
    val want = Scd2.buildHistory(ev.filter($"event_id" < 900),
      Seq("user_id"), "event_id", Seq("event_type"))
    val got = spark.read.parquet(hist)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "replayed fold must be a fixpoint")
    // crash window: live deleted, staged history present with _SUCCESS
    // (exactly the state Fs.replace dies in between delete and rename)
    val f = graft.util.Fs.fs(spark, hist)
    val live = new org.apache.hadoop.fs.Path(hist)
    val staging = new org.apache.hadoop.fs.Path(s"$hist.staging")
    assert(f.rename(live, staging))
    val b3 = ev.filter($"event_id" >= 900)
    run(b3) // must heal the swap, then fold on the recovered history
    val want3 = Scd2.buildHistory(ev, Seq("user_id"), "event_id", Seq("event_type"))
    val got3 = spark.read.parquet(hist)
    assert(got3.exceptAll(want3).isEmpty && want3.exceptAll(got3).isEmpty,
      "post-crash fold must see the healed history, not restart from the batch")
  }

  test("streaming dedup within watermark drops replayed keys") {
    val feedDir = tmp()
    val events = Tables.events(spark, sfDir).filter($"event_id" < 100).cache()
    events.coalesce(1).write.mode("append").parquet(feedDir)
    events.coalesce(1).write.mode("append").parquet(feedDir) // exact replay
    val feed = EventStream.fileFeed(spark, feedDir, events.schema)
    val deduped = CdcStream.dedupStream(feed, "ts", Seq("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 100)
    } finally q.stop()
  }

  test("drift monitor: exact recompute parity, novel tokens drift more, replay-idempotent") {
    val docs = Tables.documents(spark, sfDir).cache()
    val refModel = DriftStream.referenceModel(docs, "text").localCheckpoint()
    val batch = docs.filter($"doc_id" % 3 === 0)
    val got = DriftStream.drift(batch, refModel, "text", "source").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // driver-side exact recompute of the quantized smoothed drift
    def toks(t: String) = t.replaceAll("\\s+", " ").trim.toLowerCase.split(" ").filter(_.nonEmpty)
    val refCounts = docs.select("text").collect()
      .flatMap(r => toks(r.getString(0))).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val nr = refCounts.values.sum
    val v = refCounts.size.toLong
    val byStratum = batch.select("source", "text").collect()
      .flatMap(r => toks(r.getString(1)).map(t => (r.getString(0), t)))
      .groupBy(_._1)
    byStratum.foreach { case (src, pairs) =>
      val cb = pairs.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
      val nb = cb.values.sum
      val want = cb.map { case (t, c) =>
        c * math.round(math.log(c.toDouble * (nr + v).toDouble
          / ((refCounts.getOrElse(t, 0L) + 1).toDouble * nb.toDouble)) * 1e6)
      }.sum
      assert(got(src) == ((nb, want)), s"drift mismatch for stratum $src")
    }
    // a batch of reference-typical text drifts less per token than novel text
    val typical = DriftStream.drift(docs.limit(50), refModel, "text", "source")
      .agg((sum($"drift_micro") / sum($"n_tokens")).as("d")).head().getDouble(0)
    val novelRows = Seq((1L, "zzq1 zzq2 zzq3 zzq4 zzq5", "novel")).toDF("doc_id", "text", "source")
    val novel = DriftStream.drift(novelRows, refModel, "text", "source")
      .agg((sum($"drift_micro") / sum($"n_tokens")).as("d")).head().getDouble(0)
    assert(novel > typical, "unseen vocabulary must score as stronger drift")
    // streaming end-to-end: two file drops → two batch partitions; a
    // replayed batch overwrites to identical rows
    val feedDir = tmp(); val refDir = tmp(); val monDir = tmp(); val ckpt = tmp()
    docs.limit(200).coalesce(1).write.mode("overwrite").parquet(refDir)
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(feedDir)
    val q = DriftStream.driftStream(spark, feedDir, refDir, monDir, ckpt, "text", "source")
    try {
      q.processAllAvailable()
      docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
    } finally q.stop()
    val mon = spark.read.parquet(monDir)
    assert(mon.select("batch").distinct().count() == 2)
    val before = mon.collect().toSet
    val ref2 = DriftStream.referenceModel(spark.read.parquet(refDir), "text")
    DriftStream.driftBatch(spark.read.parquet(feedDir).filter($"doc_id" % 2 === 0),
      ref2, 0L, monDir, "text", "source")
    assert(spark.read.parquet(monDir).collect().toSet == before,
      "replaying batch 0 must rewrite identical monitor rows")
  }

  test("streaming pipeline: per-row stages per trigger, corpus-global stages refused") {
    val docs = Tables.documents(spark, sfDir).cache()
    val feedDir = tmp(); val outDir = tmp(); val ckpt = tmp()
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(feedDir)
    val cfg = s"""{"input": "$feedDir", "output": "$outDir",
      |"stages": [{"op": "gopher_filter"}, {"op": "lang_filter", "keep": ["en", "de"]}]}"""
      .stripMargin
    val q = Pipeline.stream(spark, cfg, ckpt)
    try {
      q.processAllAvailable()
      docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.option("basePath", outDir).parquet(outDir)
    assert(out.select("batch").distinct().count() == 2)
    // per-row stages per batch ≡ the same stages over the union
    val g = docs.join(graft.ops.TextAnalysis.gopherFilter(docs, "text", "doc_id")
        .filter($"gopher_mask" === 0L).select("doc_id"), Seq("doc_id"), "left_semi")
    val want = g.join(graft.ops.TextAnalysis.langId(g, "text", "doc_id")
        .filter($"lang_pred".isin("en", "de")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    assert(out.select("doc_id").as[Long].collect().toSet == want)
    // replay rewrites identical bytes
    val before = spark.read.parquet(s"$outDir/batch=0").collect().toSet
    // (re-run batch 0 through the same per-row stages directly)
    val batch0 = spark.read.parquet(feedDir).filter($"doc_id" % 2 === 0)
    val re = Seq("gopher_filter" -> "{}",
      "lang_filter" -> """{"keep":["en","de"]}""")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val replayed = re.foldLeft(batch0.toDF()) { case (df, (op, json)) =>
      graft.Pipeline.applyStage(df, op,
        om.readTree(if (op == "lang_filter") json else "{}"), "text", "doc_id")
    }
    replayed.write.mode("overwrite").parquet(s"$outDir/batch=0")
    assert(spark.read.parquet(s"$outDir/batch=0").collect().toSet == before)
    // a corpus-global stage is refused, naming the counterpart
    val bad = intercept[IllegalArgumentException] {
      Pipeline.stream(spark, s"""{"input": "$feedDir", "output": "$outDir",
        |"stages": [{"op": "dedup_exact"}]}""".stripMargin, tmp())
    }
    assert(bad.getMessage.contains("exactDedupStream"))
    val badNd = intercept[IllegalArgumentException] {
      Pipeline.stream(spark, s"""{"input": "$feedDir", "output": "$outDir",
        |"stages": [{"op": "dedup_minhash"}]}""".stripMargin, tmp())
    }
    assert(badNd.getMessage.contains("nearDupStream"))
    val badPack = intercept[IllegalArgumentException] {
      Pipeline.stream(spark, s"""{"input": "$feedDir", "output": "$outDir",
        |"stages": [{"op": "pack"}]}""".stripMargin, tmp())
    }
    assert(badPack.getMessage.contains("corpus-wide prefix sum"))
    // chunk is a pure per-row granularity change: streamable
    val qc = Pipeline.stream(spark, s"""{"input": "$feedDir", "output": "${tmp()}",
      |"stages": [{"op": "chunk", "size": 32, "overlap": 8}]}""".stripMargin, tmp())
    try qc.processAllAvailable() finally qc.stop()
  }

  test("quota admission: cross-trigger caps, deterministic order, replay-idempotent") {
    import graft.streaming.QuotaStream
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source").cache()
    val feedDir = tmp(); val outDir = tmp(); val stateDir = tmp(); val ckpt = tmp()
    // source is doc_id-mod-20-correlated, so split on mod 40 to land
    // ~13 docs/source in trigger 0 and ~12 in trigger 1 (a plain
    // parity split would put entire sources in one trigger). Quota 20:
    // trigger 0 admits all 13, trigger 1 only the remaining 7.
    docs.filter($"doc_id" % 40 < 20).coalesce(1).write.mode("append").parquet(feedDir)
    val q = QuotaStream.quotaStream(spark, feedDir, outDir, stateDir, ckpt,
      "source", "doc_id", quota = 20)
    try {
      q.processAllAvailable()
      docs.filter($"doc_id" % 40 >= 20).coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.option("basePath", outDir).parquet(outDir).cache()
    val bySource = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySource.values.forall(_ == 20L),
      s"every 25-doc source must admit exactly the 20-quota: $bySource")
    val b0 = out.filter($"batch" === 0).count()
    val b1 = out.filter($"batch" === 1).count()
    assert(b0 > b1, "trigger 0 admits freely; trigger 1 only the remainder")
    // state versions: cumulative counts after batch 1 all equal 20
    val st = spark.read.parquet(s"$stateDir/batch=1")
      .as[(String, Long)].collect().toMap
    assert(st.values.forall(_ == 20L))
    // within-trigger admission is the deterministic hash order, not
    // scan order — driver recompute of the trigger-0 selection
    val batch0 = docs.filter($"doc_id" % 40 < 20)
    val got0 = spark.read.parquet(s"$outDir/batch=0")
      .select("doc_id").as[Long].collect().toSet
    val rows0 = batch0.as[(Long, String)].collect()
    val want0 = rows0.map { case (id, src) =>
      (src, graft.util.Hashing.portableHash64Const(s"graft:quota:$id"), id)
    }.groupBy(_._1).iterator.flatMap { case (_, g) =>
      g.sortBy(r => (r._2, r._3)).take(20).map(_._3)
    }.toSet
    assert(got0 == want0, "trigger-0 admission must follow the hash order")
    // at-least-once replay: re-running batch 0 against the post-batch-1
    // state must see only versions < 0 (none) and rewrite identical bytes
    val before = spark.read.parquet(s"$outDir/batch=0").collect().toSet
    QuotaStream.quotaBatch(spark, batch0.toDF(), 0L, outDir, stateDir,
      "source", "doc_id", 20)
    assert(spark.read.parquet(s"$outDir/batch=0").collect().toSet == before,
      "replaying batch 0 must rewrite identical admitted rows")
    assert(spark.read.parquet(s"$stateDir/batch=0")
      .as[(String, Long)].collect().toMap.values.forall(_ <= 20L))
  }

  test("quota admission: NULL group keys form one capped group, not a quota bypass") {
    import graft.streaming.QuotaStream
    val outDir = tmp(); val stateDir = tmp()
    val b0 = Seq((1L, Option.empty[String]), (2L, None), (3L, None), (4L, Some("a")))
      .toDF("doc_id", "source")
    QuotaStream.quotaBatch(spark, b0, 0L, outDir, stateDir, "source", "doc_id", 2)
    val out0 = spark.read.parquet(s"$outDir/batch=0")
    assert(out0.filter($"source".isNull).count() == 2,
      "the null group is capped at quota within a trigger")
    // second trigger: the null group is already at its LIFETIME cap —
    // a plain equi-join would never match the null state row and
    // re-admit quota more nulls every trigger
    val b1 = Seq((5L, Option.empty[String]), (6L, None), (7L, Some("a")))
      .toDF("doc_id", "source")
    QuotaStream.quotaBatch(spark, b1, 1L, outDir, stateDir, "source", "doc_id", 2)
    val out1 = spark.read.parquet(s"$outDir/batch=1")
    assert(out1.filter($"source".isNull).count() == 0,
      "the lifetime quota must hold for the null group across triggers")
    assert(out1.filter($"source" === "a").count() == 1)
    // state carries exactly ONE null-key row with the true total — the
    // full_outer merge must not stack duplicate null rows per version
    val st = spark.read.parquet(s"$stateDir/batch=1")
    assert(st.filter($"source".isNull).count() == 1)
    assert(st.filter($"source".isNull).select("admitted").as[Long].head() == 2L)
  }

  test("monitor state stores prune versions to a flat bounded window") {
    import graft.streaming.{CardinalityStream, QuotaStream}
    val qOut = tmp(); val qSt = tmp(); val cOut = tmp(); val cSt = tmp()
    for (b <- 0L until 8L) {
      val batch = (0 until 20).map(i => (s"s${i % 2}", b * 100 + i))
        .toDF("source", "doc_id")
      QuotaStream.quotaBatch(spark, batch, b, qOut, qSt,
        "source", "doc_id", quota = 50)
      CardinalityStream.cardinalityBatch(spark,
        batch.select($"source".as("src"), $"doc_id".cast("string").as("v")),
        b, cOut, cSt, "src", "v", k = 16)
    }
    def versions(dir: String): Seq[Long] =
      new java.io.File(dir).listFiles().toSeq.map(_.getName)
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
        .sorted
    // after 8 triggers only the newest KEEP_VERSIONS (4) state dirs
    // survive — the listing cost every trigger pays (and the storage
    // footprint) stays FLAT with stream age, like the near-dup store's
    // compaction; an unpruned store would hold one version per trigger
    // forever
    assert(versions(qSt) == Seq(4L, 5L, 6L, 7L), s"quota state: ${versions(qSt)}")
    assert(versions(cSt) == Seq(4L, 5L, 6L, 7L), s"cardinality state: ${versions(cSt)}")
    // reports are NOT state: every trigger's output dir stays published
    assert(versions(qOut).size == 8 && versions(cOut).size == 8)
  }

  test("streaming pipeline: explicit schema launches on an empty feed dir; inference fails loudly") {
    val feedDir = tmp(); val outDir = tmp(); val ckpt = tmp()
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source").cache()
    // eager inference on the empty dir: actionable failure, not a bare
    // AnalysisException
    val noSchema = intercept[IllegalArgumentException] {
      Pipeline.stream(spark, s"""{"input": "$feedDir", "output": "$outDir",
        |"stages": [{"op": "gopher_filter"}]}""".stripMargin, tmp())
    }
    assert(noSchema.getMessage.contains("explicit schema"))
    // a DDL schema in the config launches the monitor BEFORE any file
    // exists; files arriving later flow through normally
    val ddl = docs.schema.toDDL
    val q = Pipeline.stream(spark, s"""{"input": "$feedDir", "output": "$outDir",
      |"schemaDdl": "$ddl",
      |"stages": [{"op": "gopher_filter"}]}""".stripMargin, ckpt)
    try {
      q.processAllAvailable() // zero files: no output, no crash
      docs.limit(100).coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.option("basePath", outDir).parquet(outDir)
    assert(out.count() > 0)
    // the per-stream feedSchema param gives the same launch-on-empty
    import graft.streaming.QuotaStream
    val emptyFeed = tmp()
    val q2 = QuotaStream.quotaStream(spark, emptyFeed, tmp(), tmp(), tmp(),
      "source", "doc_id", quota = 5, feedSchema = Some(docs.schema))
    try q2.processAllAvailable() finally q2.stop()
  }

  test("robust anomaly monitor: a mostly-garbage trigger is fully flagged via MAD") {
    val events = Tables.events(spark, sfDir)
      .select("event_id", "event_type", "value").cache()
    val refStats = graft.ops.Profile.madStats(events, "event_type", "value")
      .localCheckpoint()
    // probe ≡ batch scan on the reference's own corpus
    val viaProbe = graft.ops.Profile
      .madProbe(events, refStats, "event_type", "value", 5.0)
      .select("event_id", "mad_score_milli").as[(Long, Long)].collect().toMap
    val viaBatch = graft.ops.Profile
      .madOutliers(events, "event_type", "value", 5.0)
      .select("event_id", "mad_score_milli").as[(Long, Long)].collect().toMap
    assert(viaProbe == viaBatch && viaProbe.nonEmpty)
    // a 100%-shifted trigger: the shift is INVISIBLE to its own stats
    // (median shifts with the data, deviations don't — the self-scan
    // flags exactly the same internal outliers as unshifted), while
    // the frozen reference flags every row
    val slice = events.limit(40).cache()
    val shifted = slice.withColumn("value", col("value") + 100000.0)
    val selfShifted = graft.ops.Profile
      .madOutliers(shifted, "event_type", "value", 5.0)
      .select("event_id").as[Long].collect().toSet
    val selfPlain = graft.ops.Profile
      .madOutliers(slice, "event_type", "value", 5.0)
      .select("event_id").as[Long].collect().toSet
    assert(selfShifted == selfPlain,
      "a wholesale shift must be invisible to the batch's own MAD scan")
    assert(graft.ops.Profile
      .madProbe(shifted, refStats, "event_type", "value", 5.0).count() == 40)
    // streaming e2e + replay
    val feedDir = tmp(); val refDir = tmp(); val monDir = tmp(); val ckpt = tmp()
    events.coalesce(1).write.mode("overwrite").parquet(refDir)
    shifted.coalesce(1).write.mode("append").parquet(feedDir)
    val q = AnomalyStream.madAnomalyStream(spark, feedDir, refDir, monDir, ckpt,
      "event_type", "value")
    try q.processAllAvailable() finally q.stop()
    val mon = spark.read.parquet(monDir)
    assert(mon.count() == 40)
    val before = mon.collect().toSet
    AnomalyStream.madAnomalyBatch(shifted.toDF(), refStats, 0L, monDir,
      "event_type", "value", 5.0)
    assert(spark.read.parquet(monDir).collect().toSet == before,
      "replaying batch 0 must rewrite identical monitor rows")
  }

  test("anomaly monitor: frozen-reference scoring, batch-parity, replay-idempotent") {
    val events = Tables.events(spark, sfDir)
      .select("event_id", "event_type", "value").cache()
    // reference = the full corpus; a probe of the corpus against its
    // own frozen moments must equal the batch scan exactly
    val refStats = graft.ops.Profile.momentStats(events, "event_type", "value")
      .localCheckpoint()
    val viaProbe = graft.ops.Profile
      .zscoreProbe(events, refStats, "event_type", "value", 3.0)
      .select("event_id", "z_milli").as[(Long, Long)].collect().toMap
    val viaBatch = graft.ops.Profile
      .zscoreOutliers(events, "event_type", "value", 3.0)
      .select("event_id", "z_milli").as[(Long, Long)].collect().toMap
    assert(viaProbe == viaBatch && viaProbe.nonEmpty)
    // a wholesale-anomalous batch is INVISIBLE to its own moments but
    // fully flagged against the frozen reference — the monitor's
    // reason to exist
    val shifted = events.limit(50).withColumn("value", col("value") + 10000.0)
    assert(graft.ops.Profile
      .zscoreOutliers(shifted, "event_type", "value", 3.0).count() == 0)
    assert(graft.ops.Profile
      .zscoreProbe(shifted, refStats, "event_type", "value", 3.0)
      .count() == 50)
    // streaming end-to-end: two file drops → two batch partitions; a
    // replayed batch overwrites to identical rows
    val feedDir = tmp(); val refDir = tmp(); val monDir = tmp(); val ckpt = tmp()
    events.coalesce(1).write.mode("overwrite").parquet(refDir)
    events.filter($"event_id" % 2 === 0).coalesce(1)
      .write.mode("append").parquet(feedDir)
    val q = AnomalyStream.anomalyStream(spark, feedDir, refDir, monDir, ckpt,
      "event_type", "value")
    try {
      q.processAllAvailable()
      events.filter($"event_id" % 2 === 1).coalesce(1)
        .write.mode("append").parquet(feedDir)
      q.processAllAvailable()
    } finally q.stop()
    val mon = spark.read.parquet(monDir)
    assert(mon.select("batch").distinct().count() == 2)
    assert(mon.count() == viaProbe.size,
      "the two triggers together must flag exactly the batch scan's tail")
    val before = mon.collect().toSet
    AnomalyStream.anomalyBatch(
      spark.read.parquet(feedDir).filter($"event_id" % 2 === 0),
      refStats, 0L, monDir, "event_type", "value", 3.0)
    assert(spark.read.parquet(monDir).collect().toSet == before,
      "replaying batch 0 must rewrite identical monitor rows")
  }

  private def freshRows(rows: Seq[(String, String, Option[Double])]) =
    rows.toDF("k", "s", "value")
      .select($"k", $"s".cast("timestamp").as("ts"), $"value")

  test("freshness monitor: silent keys stay reported, LOCF value survives, two staleness axes") {
    import graft.streaming.FreshnessStream
    val out = tmp(); val st = tmp()
    FreshnessStream.freshnessBatch(spark,
      freshRows(Seq(("a", "2024-01-01 10:00:00", Some(1.0)),
                    ("b", "2024-01-01 10:30:00", Some(5.0)))),
      0L, out, st, "k", "ts", "value")
    // trigger 1: only `a` arrives — and with a NULL value (transport
    // alive, value dead); `b` is fully silent
    FreshnessStream.freshnessBatch(spark,
      freshRows(Seq(("a", "2024-01-01 12:30:00", None))),
      1L, out, st, "k", "ts", "value")
    val r = spark.read.parquet(s"$out/batch=1")
      .select("k", "batch_rows", "rows_seen", "stale_ms", "buckets_missed",
        "last_value", "value_stale_ms", "stale")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r.keySet == Set("a", "b"),
      "every known key reports each trigger, silent ones included")
    val a = r("a"); val b = r("b")
    // a: transport fresh (it IS the clock), value stale 2.5 h
    assert(a.getLong(1) == 1L && a.getLong(2) == 2L)
    assert(a.getLong(3) == 0L && a.getLong(4) == 0L && a.getInt(7) == 0)
    assert(a.getDouble(5) == 1.0, "LOCF value survives a null-value row")
    assert(a.getLong(6) == 9000000L, "value staleness = 2.5 h")
    // b: silent 2 h = 2 missed hourly buckets -> stale at the default
    assert(b.getLong(1) == 0L && b.getLong(2) == 1L)
    assert(b.getLong(3) == 7200000L && b.getLong(4) == 2L && b.getInt(7) == 1)
    assert(b.getDouble(5) == 5.0 && b.getLong(6) == 7200000L)
    // replay: re-running trigger 1 rewrites identical report and state
    val rep = spark.read.parquet(s"$out/batch=1").collect().toSet
    val stt = spark.read.parquet(s"$st/batch=1").collect().toSet
    FreshnessStream.freshnessBatch(spark,
      freshRows(Seq(("a", "2024-01-01 12:30:00", None))),
      1L, out, st, "k", "ts", "value")
    assert(spark.read.parquet(s"$out/batch=1").collect().toSet == rep)
    assert(spark.read.parquet(s"$st/batch=1").collect().toSet == stt)
  }

  test("freshness monitor: retirement bounds state, ties resolve by (ts, value), null rows count") {
    import graft.streaming.FreshnessStream
    val out = tmp(); val st = tmp()
    // same-timestamp duplicate observations: the (ts, value) struct
    // max picks 9.0 deterministically; a null-ts row only counts
    FreshnessStream.freshnessBatch(spark,
      freshRows(Seq(("a", "2024-01-01 10:00:00", Some(1.0)),
                    ("a", "2024-01-01 10:00:00", Some(9.0)),
                    ("b", "2024-01-01 10:00:00", Some(2.0)))),
      0L, out, st, "k", "ts", "value",
      retireAfterBuckets = Some(3L))
    val nullTs = Seq(("a", null.asInstanceOf[String], Some(3.0)))
      .toDF("k", "s", "value")
      .select($"k", $"s".cast("timestamp").as("ts"), $"value")
    FreshnessStream.freshnessBatch(spark, nullTs,
      1L, out, st, "k", "ts", "value", retireAfterBuckets = Some(3L))
    val r1 = spark.read.parquet(s"$out/batch=1")
      .select("k", "rows_seen", "last_value", "stale_ms")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r1("a").getLong(1) == 3L, "null-ts rows advance rows_seen")
    assert(r1("a").getDouble(2) == 9.0,
      "same-ts duplicates pick the struct max, never the arrival order")
    assert(r1("a").getLong(3) == 0L, "a null-ts row cannot move the clock")
    // trigger 2: a jumps 4+ hours ahead; b exceeds retireAfter=3 ->
    // reported once as retired, then dropped from state and reports
    FreshnessStream.freshnessBatch(spark,
      freshRows(Seq(("a", "2024-01-01 14:30:00", Some(4.0)))),
      2L, out, st, "k", "ts", "value", retireAfterBuckets = Some(3L))
    val r2 = spark.read.parquet(s"$out/batch=2")
      .select("k", "buckets_missed", "retired")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r2("b").getLong(1) == 4L && r2("b").getInt(2) == 1,
      "the retiring key reports one final time")
    assert(!spark.read.parquet(s"$st/batch=2")
      .select("k").as[String].collect().contains("b"))
    FreshnessStream.freshnessBatch(spark,
      freshRows(Seq(("a", "2024-01-01 15:00:00", Some(5.0)))),
      3L, out, st, "k", "ts", "value", retireAfterBuckets = Some(3L))
    assert(spark.read.parquet(s"$out/batch=3")
      .select("k").as[String].collect().toSeq == Seq("a"),
      "retired keys leave the report population")
    // state versions stay pruned like every monitor store
    for (b <- 4L until 10L)
      FreshnessStream.freshnessBatch(spark,
        freshRows(Seq(("a", "2024-01-01 15:00:00", Some(5.0)))),
        b, out, st, "k", "ts", "value", retireAfterBuckets = Some(3L))
    val vers = new java.io.File(st).listFiles().toSeq.map(_.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).sorted
    assert(vers == Seq(6L, 7L, 8L, 9L), s"state versions: $vers")
  }

  test("semantic dedup stream: same-cell near-dups drop across triggers, cell-boundary miss pinned, replay-idempotent") {
    import graft.streaming.SemanticDupStream
    val out = tmp(); val st = tmp()
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
                    (1L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("cid", "cvec")
    def vecs(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "embedding")
    def step(rows: Seq[(Long, Seq[Double])], id: Long) =
      SemanticDupStream.semanticDupBatch(spark, vecs(rows), id, out, st,
        cents, "embedding", "vec_id", threshold = 0.95, dim = Some(4),
        nStoreBuckets = 8)
    // trigger 0: two originals in different cells, plus a same-batch
    // near-copy of the first (greedy by id: the copy drops)
    step(Seq(
      1L -> Seq(0.9, 0.1, 0.0, 0.0),   // cell 0, admitted
      2L -> Seq(0.1, 0.9, 0.0, 0.0),   // cell 1, admitted
      3L -> Seq(0.9, 0.1, 0.0, 0.0)),  // == vec 1, same cell: dropped
      0L)
    def ids(b: Long) = spark.read.parquet(s"$out/batch=$b")
      .select("vec_id").as[Long].collect().toSet
    assert(ids(0L) == Set(1L, 2L))
    // trigger 1: a cross-trigger near-copy of an ADMITTED vector
    // drops via the store; a novel vector admits; a near-identical
    // pair STRADDLING the cell boundary is never compared — both
    // admit (the SemDeDup trade, pinned)
    step(Seq(
      10L -> Seq(0.9, 0.1001, 0.0, 0.0),  // ~vec 1, cell 0: dropped
      11L -> Seq(0.0, 0.05, 0.95, 0.0),   // novel, cell 1: admitted
      12L -> Seq(0.71, 0.70, 0.0, 0.0),   // cell 0 \ near-identical
      13L -> Seq(0.70, 0.71, 0.0, 0.0)),  // cell 1 / both admit
      1L)
    assert(ids(1L) == Set(11L, 12L, 13L),
      "store rejects the same-cell copy; the boundary pair is the documented miss")
    // replay trigger 1: identical output, store not self-colliding
    val before = spark.read.parquet(s"$out/batch=1").collect().toSet
    step(Seq(
      10L -> Seq(0.9, 0.1001, 0.0, 0.0),
      11L -> Seq(0.0, 0.05, 0.95, 0.0),
      12L -> Seq(0.71, 0.70, 0.0, 0.0),
      13L -> Seq(0.70, 0.71, 0.0, 0.0)),
      1L)
    assert(spark.read.parquet(s"$out/batch=1").collect().toSet == before)
    // trigger 2: the boundary survivors now live in the store — a new
    // copy of each still drops within its own cell
    step(Seq(20L -> Seq(0.71, 0.70, 0.0, 0.0)), 2L)
    assert(ids(2L).isEmpty, "stored boundary vector rejects its same-cell copy")
  }

  test("profile drift monitor: ppm shares vs cumulative baseline, cold start, replay-idempotent") {
    import graft.streaming.ProfileStream
    val out = tmp(); val st = tmp()
    def rows(n: Int, nullEvery: Int, blankEvery: Int) =
      (0 until n).map { i =>
        val lang = if (nullEvery > 0 && i % nullEvery == 0) null
                   else "en"
        val text = if (blankEvery > 0 && i % blankEvery == 0) "" else s"doc $i"
        (i.toLong, lang, text)
      }.toDF("id", "lang", "text")
    def step(df: org.apache.spark.sql.DataFrame, id: Long) =
      ProfileStream.profileBatch(spark, df, id, out, st, Seq("lang", "text"),
        tolerancePpm = 50000L, minBaseRows = 100L)
    def rep(b: Long) = spark.read.parquet(s"$out/batch=$b").collect()
      .map(r => r.getString(0) -> r).toMap
    // trigger 0: 200 rows, 10% null lang — exact ppm, and the COLD
    // START guard: no baseline yet, so nothing may flag
    step(rows(200, 10, 0), 0L)
    val r0 = rep(0L)
    assert(r0("lang").getAs[Long]("batch_null_ppm") == 100000L)
    assert(r0("lang").getAs[Long]("base_rows") == 0L)
    assert(r0("lang").getAs[Int]("null_drift") == 0, "cold start never flags")
    assert(r0("text").getAs[Long]("batch_blank_ppm") == 0L)
    // trigger 1: same profile vs a 200-row baseline — quiet
    step(rows(100, 10, 0), 1L)
    val r1 = rep(1L)
    assert(r1("lang").getAs[Long]("base_rows") == 200L)
    assert(r1("lang").getAs[Long]("base_null_ppm") == 100000L)
    assert(r1("lang").getAs[Int]("null_drift") == 0)
    // trigger 2: the crawler regression — 50% null lang, 25% blank
    // text — both axes trip against the exact cumulative baseline
    step(rows(100, 2, 4), 2L)
    val r2 = rep(2L)
    assert(r2("lang").getAs[Long]("batch_null_ppm") == 500000L)
    assert(r2("lang").getAs[Long]("base_null_ppm") == 100000L)
    assert(r2("lang").getAs[Int]("null_drift") == 1, "null share jump must flag")
    assert(r2("text").getAs[Int]("blank_drift") == 1, "blank share jump must flag")
    assert(r2("text").getAs[Int]("null_drift") == 0, "text nulls did not move")
    // replay trigger 2: byte-identical report, state not double-counted
    val before = spark.read.parquet(s"$out/batch=2").collect().toSet
    step(rows(100, 2, 4), 2L)
    assert(spark.read.parquet(s"$out/batch=2").collect().toSet == before)
    assert(spark.read.parquet(s"$st/batch=2")
      .filter($"col_name" === "lang").select("rows_total")
      .as[Long].head() == 400L, "replay must not double-count the baseline")
    // state versions stay pruned like every monitor store
    for (b <- 3L until 9L) step(rows(50, 10, 0), b)
    val vers = new java.io.File(st).listFiles().toSeq.map(_.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).sorted
    assert(vers == Seq(5L, 6L, 7L, 8L), s"state versions: $vers")
  }

  test("profile drift monitor end-to-end over a file feed") {
    import graft.streaming.ProfileStream
    val feed = tmp(); val out = tmp(); val st = tmp(); val ckpt = tmp()
    (0 until 200).map(i => (i.toLong, if (i % 10 == 0) null else "en"))
      .toDF("id", "lang")
      .coalesce(1).write.mode("append").parquet(feed)
    val q = ProfileStream.profileStream(spark, feed, out, st, ckpt,
      Seq("lang"), tolerancePpm = 50000L, minBaseRows = 100L)
    try {
      q.processAllAvailable()
      (0 until 100).map(i => (i.toLong, if (i % 2 == 0) null else "en"))
        .toDF("id", "lang")
        .coalesce(1).write.mode("append").parquet(feed)
      q.processAllAvailable()
    } finally q.stop()
    val reports = spark.read.option("basePath", out).parquet(out)
      .filter($"col_name" === "lang")
      .select("base_rows", "null_drift").as[(Long, Int)].collect().toSet
    assert(reports == Set((0L, 0), (200L, 1)),
      "the 50%-null batch must flag against the 10%-null baseline")
  }

  test("semantic dedup stream: zero-norm vectors dedup by exact code equality") {
    import graft.streaming.SemanticDupStream
    val out = tmp(); val st = tmp()
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
                    (1L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("cid", "cvec")
    def step(rows: Seq[(Long, Seq[Double])], id: Long) =
      SemanticDupStream.semanticDupBatch(spark, rows.toDF("vec_id", "embedding"),
        id, out, st, cents, "embedding", "vec_id", threshold = 0.95,
        dim = Some(4), nStoreBuckets = 8)
    def ids(b: Long) = spark.read.parquet(s"$out/batch=$b")
      .select("vec_id").as[Long].collect().toSet
    // trigger 0: two all-zero vectors in one batch — a zero norm
    // forces an all-zero quantized code, so they are exact code
    // duplicates: the first admits, the second drops (pre-round-9
    // both were admitted forever); a normal vector rides along
    step(Seq(
      1L -> Seq(0.0, 0.0, 0.0, 0.0),
      2L -> Seq(0.0, 0.0, 0.0, 0.0),
      3L -> Seq(0.9, 0.1, 0.0, 0.0)), 0L)
    assert(ids(0L) == Set(1L, 3L))
    // trigger 1: the admitted zero vector rejects later ones via the
    // store; sub-quantization-step vectors (|x| < 1e-4 floors to 0)
    // are zero-CODE too and drop the same way; a normal vector near
    // the zero boundary is NOT a code-dup of zero — it admits
    step(Seq(
      10L -> Seq(0.0, 0.0, 0.0, 0.0),      // store zero-dup: drops
      11L -> Seq(5e-5, 0.0, 0.0, 0.0),     // quantizes to zero code: drops
      12L -> Seq(0.1, 0.9, 0.0, 0.0)), 1L) // normal: admits
    assert(ids(1L) == Set(12L))
  }

  test("semantic dedup stream end-to-end over a file feed") {
    import graft.streaming.SemanticDupStream
    val feed = tmp(); val out = tmp(); val st = tmp(); val ckpt = tmp()
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cid", "cvec")
    Seq((1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.9)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(feed)
    val q = SemanticDupStream.semanticDupStream(spark, feed, out, st, ckpt,
      cents, "embedding", "vec_id", threshold = 0.95, dim = Some(2),
      nStoreBuckets = 4)
    try {
      q.processAllAvailable()
      Seq((10L, Seq(0.9, 0.1)), (11L, Seq(0.5, 0.86)))
        .toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(feed)
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read.option("basePath", out).parquet(out)
      .select("vec_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 11L),
      "the cross-trigger copy must drop through the file feed too")
  }

  test("freshness monitor: a never-timestamped key is visible, unstale, and never retired") {
    import graft.streaming.FreshnessStream
    val out = tmp(); val st = tmp()
    def nullTsBatch(k: String, v: Double) =
      Seq((k, null.asInstanceOf[String], Some(v)))
        .toDF("k", "s", "value")
        .select($"k", $"s".cast("timestamp").as("ts"), $"value")
    // key `ghost` only ever sends null-ts rows; key `a` drives the clock
    FreshnessStream.freshnessBatch(spark,
      freshRows(Seq(("a", "2024-01-01 10:00:00", Some(1.0))))
        .unionByName(nullTsBatch("ghost", 7.0)),
      0L, out, st, "k", "ts", "value", retireAfterBuckets = Some(2L))
    FreshnessStream.freshnessBatch(spark,
      freshRows(Seq(("a", "2024-01-01 15:00:00", Some(2.0)))),
      1L, out, st, "k", "ts", "value", retireAfterBuckets = Some(2L))
    val r = spark.read.parquet(s"$out/batch=1")
      .select("k", "rows_seen", "stale", "retired")
      .collect().map(x => x.getString(0) -> x).toMap
    // no transport evidence => neither stale nor retirable: the key
    // must stay visible (a null retired would silently drop it)
    assert(r.contains("ghost"), "never-timestamped key must keep reporting")
    assert(r("ghost").getLong(1) == 1L)
    assert(r("ghost").getInt(2) == 0 && r("ghost").getInt(3) == 0)
    assert(spark.read.parquet(s"$st/batch=1")
      .select("k").as[String].collect().contains("ghost"))
  }

  test("freshness stream end-to-end over a file feed") {
    import graft.streaming.FreshnessStream
    val feed = tmp(); val out = tmp(); val st = tmp(); val ckpt = tmp()
    freshRows(Seq(("a", "2024-01-01 10:00:00", Some(1.0)),
                  ("b", "2024-01-01 10:00:00", Some(2.0))))
      .coalesce(1).write.mode("append").parquet(feed)
    val q = FreshnessStream.freshnessStream(spark, feed, out, st, ckpt,
      "k", "ts", "value")
    try {
      q.processAllAvailable()
      freshRows(Seq(("a", "2024-01-01 13:00:00", Some(3.0))))
        .coalesce(1).write.mode("append").parquet(feed)
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.read.option("basePath", out).parquet(out)
      .filter(col("batch") === 1)
      .select("k", "buckets_missed", "stale", "last_value")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(last("a") == ((0L, 0, 3.0)))
    assert(last("b") == ((3L, 1, 2.0)),
      "the silent key surfaces stale through the file feed too")
  }

  test("ewma monitor: exact integer fold, first-obs seed, carry-forward, warmup-gated drift") {
    import graft.streaming.EwmaStream
    val out = tmp(); val st = tmp()
    def b(rows: (String, Double)*) = rows.toSeq.toDF("k", "v")
    // key a: 10.0 → 20.0 → 100.0; key b observed once then silent
    EwmaStream.ewmaBatch(spark, b("a" -> 10.0, "a" -> 10.0, "b" -> 5.0),
      0L, out, st, "k", "v", toleranceMilli = 3000L, minBatches = 2L)
    EwmaStream.ewmaBatch(spark, b("a" -> 20.0),
      1L, out, st, "k", "v", toleranceMilli = 3000L, minBatches = 2L)
    EwmaStream.ewmaBatch(spark, b("a" -> 100.0),
      2L, out, st, "k", "v", toleranceMilli = 3000L, minBatches = 2L)
    def report(id: Long) = spark.read.parquet(s"$out/batch=$id")
      .select("k", "batch_rows", "obs_milli", "level_prev_milli",
        "level_milli", "n_batches", "drift")
      .as[(String, Long, Long, Long, Long, Long, Int)].collect()
      .map(t => t._1 -> t).toMap
    val r0 = report(0)
    assert(r0("a") == (("a", 2L, 10000L, -1L, 10000L, 1L, 0)),
      "first observation seeds the level, sentinel prev, no flag")
    assert(r0("b") == (("b", 1L, 5000L, -1L, 5000L, 1L, 0)))
    val r1 = report(1)
    assert(r1("a") == (("a", 1L, 20000L, 10000L, 15000L, 2L, 0)),
      "halving fold; prev_n=1 < minBatches so the jump is warmup, not drift")
    assert(!r1.contains("b"), "silent keys are unreported")
    val r2 = report(2)
    assert(r2("a") == (("a", 1L, 100000L, 15000L, 57500L, 3L, 1)),
      "|100000 - 15000| > 3000 with prev_n=2 >= minBatches: drift")
    // b's state carried forward untouched through both silent batches
    assert(spark.read.parquet(s"$st/batch=2")
      .filter(col("k") === "b")
      .select("level_milli", "n_batches", "rows_seen")
      .as[(Long, Long, Long)].head() == ((5000L, 1L, 1L)))
  }

  test("page-hinkley monitor: sustained shift alarms once and re-arms, point blip never does") {
    import graft.streaming.PageHinkleyStream
    val out = tmp(); val st = tmp()
    def b(rows: (String, Double)*) = rows.toSeq.toDF("k", "v")
    def run(id: Long, rows: (String, Double)*) =
      PageHinkleyStream.phBatch(spark, b(rows: _*), id, out, st, "k", "v",
        deltaMilli = 500L, lambdaMilli = 3000L, minBatches = 3L)
    def report(id: Long) = spark.read.parquet(s"$out/batch=$id")
      .select("k", "batch_rows", "obs_milli", "mean_milli", "ph_up",
        "ph_dn", "n_batches", "alarm")
      .as[(String, Long, Long, Long, Long, Long, Long, Int)].collect()
      .map(t => t._1 -> t).toMap
    // a: 4 stable batches at 10.0 then a SUSTAINED shift to 13.0;
    // b: the same history but the 13.0 is a one-batch BLIP
    (0L to 3L).foreach(id => run(id, "a" -> 10.0, "b" -> 10.0))
    assert(report(3L)("a") == (("a", 1L, 10000L, 10000L, 0L, 0L, 4L, 0)),
      "a stationary stream accumulates nothing (each step is -delta)")
    run(4L, "a" -> 13.0, "b" -> 13.0)
    val r4 = report(4L)
    assert(r4("a") == (("a", 1L, 13000L, 10600L, 1900L, 0L, 5L, 0)),
      "one shifted batch builds evidence but stays under lambda")
    run(5L, "a" -> 13.0, "b" -> 10.0)
    val r5 = report(5L)
    assert(r5("a") == (("a", 1L, 13000L, 11000L, 3400L, 0L, 6L, 1)),
      "the second shifted batch pushes PH-up past lambda: alarm")
    assert(r5("b") == (("b", 1L, 10000L, 10500L, 900L, 0L, 6L, 0)),
      "the blip's evidence decays once the stream returns — no alarm")
    // the alarm reset re-arms detection against the NEW level
    run(6L, "a" -> 13.0)
    assert(report(6L)("a") == (("a", 1L, 13000L, 13000L, 0L, 0L, 1L, 0)),
      "post-alarm the detector restarts from the post-shift regime")
  }

  test("page-hinkley monitor: at-least-once replay rewrites identical bytes; versions pruned") {
    import graft.streaming.PageHinkleyStream
    val out = tmp(); val st = tmp()
    def b(n: Int) = (0 until 30).map(i => (s"k${i % 3}", (i % 7 + n).toDouble))
      .toDF("k", "v")
    (0L to 5L).foreach(id =>
      PageHinkleyStream.phBatch(spark, b(id.toInt), id, out, st, "k", "v",
        deltaMilli = 200L, lambdaMilli = 2000L))
    val report5 = spark.read.parquet(s"$out/batch=5").collect().toSet
    val state5 = spark.read.parquet(s"$st/batch=5").collect().toSet
    PageHinkleyStream.phBatch(spark, b(5), 5L, out, st, "k", "v",
      deltaMilli = 200L, lambdaMilli = 2000L)
    assert(spark.read.parquet(s"$out/batch=5").collect().toSet == report5)
    assert(spark.read.parquet(s"$st/batch=5").collect().toSet == state5)
    val versions = graft.util.Fs.fs(spark, st)
      .listStatus(new org.apache.hadoop.fs.Path(st))
      .map(_.getPath.getName).count(_.startsWith("batch="))
    assert(versions <= 4, s"state versions must stay pruned, got $versions")
  }

  test("e-value monitor: lgamma is exact on knowns, null and shift behave") {
    import graft.streaming.EValueStream
    // lgamma sanity against closed forms: Γ(1)=Γ(2)=1, Γ(5)=24,
    // Γ(0.5)=√π — the Lanczos constants are only trusted measured
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(close(EValueStream.lgamma(1.0), 0.0))
    assert(close(EValueStream.lgamma(2.0), 0.0))
    assert(close(EValueStream.lgamma(5.0), math.log(24.0)))
    assert(close(EValueStream.lgamma(0.5), 0.5 * math.log(math.Pi)))
    // balanced counts: the shared-rate model explains the data at
    // least as well -> log E stays at or below ~0
    assert(EValueStream.logBf(30, 70, 30, 70) < 0.5)
    // a gross 10% vs 90% split on 100-a-side: overwhelming evidence
    assert(EValueStream.logBf(10, 90, 90, 10) > 10.0)
  }

  test("e-value monitor: no-effect stream never alarms across replays; planted shift alarms once and re-arms") {
    import graft.streaming.EValueStream
    val out = tmp(); val st = tmp()
    // deterministic pseudo-random conversions: hash the row index so
    // the fixture replays byte-identically (no RNG in specs)
    def h(i: Long): Long = {
      var z = i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & 0x7FFFFFFFL
    }
    def batchDf(id: Long, pCtlPct: Int, pTrtPct: Int, n: Int = 250) =
      (0 until n).map { j =>
        val i = id * 100000L + j
        val arm = if (j % 2 == 0) "control" else "treatment"
        val p = if (arm == "control") pCtlPct else pTrtPct
        ("exp1", arm, if (h(i) % 100 < p) 1 else 0)
      }.toDF("exp", "arm", "conv")
    def run(id: Long, pc: Int, pt: Int): Unit =
      EValueStream.evalueBatch(spark, batchDf(id, pc, pt), id, out, st,
        "exp", "arm", "conv", alphaPpm = 50000L, minPerArm = 20L)
    def rep(id: Long) = spark.read.parquet(s"$out/batch=$id")
      .select("cn", "cs", "tn", "ts", "log_e_micro", "alarm")
      .as[(Long, Long, Long, Long, Long, Int)].head()
    // 40 no-effect batches (p = 0.30 both arms, 10k rows total): the
    // e-process must NEVER alarm — that is the always-valid contract
    // the batch family can't give a peeking analyst
    (0L until 40L).foreach(id => run(id, 30, 30))
    (0L until 40L).foreach { id =>
      assert(rep(id)._6 == 0, s"no-effect batch $id alarmed: ${rep(id)}")
    }
    // at-least-once replay rewrites identical bytes (integer state +
    // StrictMath-pinned arithmetic)
    val r39 = spark.read.parquet(s"$out/batch=39").collect().toSet
    val s39 = spark.read.parquet(s"$st/batch=39").collect().toSet
    run(39L, 30, 30)
    assert(spark.read.parquet(s"$out/batch=39").collect().toSet == r39)
    assert(spark.read.parquet(s"$st/batch=39").collect().toSet == s39)
    // planted 30% vs 60% effect: evidence accumulates to ONE alarm...
    val alarmAt = (40L until 60L).find { id =>
      run(id, 30, 60); rep(id)._6 == 1
    }
    assert(alarmAt.nonEmpty, "a 2x conversion shift must alarm")
    // ...the alarm resets the counts (re-arm, the Page–Hinkley
    // contract): the state row restarts from zero trials
    val reset = spark.read.parquet(s"$st/batch=${alarmAt.get}")
      .select("cn", "cs", "tn", "ts", "n_alarms")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(reset == ((0L, 0L, 0L, 0L, 1L)), reset.toString)
    // and the re-armed detector catches the STILL-shifted stream again
    val again = ((alarmAt.get + 1) until (alarmAt.get + 21)).find { id =>
      run(id, 30, 60); rep(id)._6 == 1
    }
    assert(again.nonEmpty, "the re-armed e-process must alarm again")
    // null conversions and foreign arm labels advance rows_seen only
    val odd = Seq(("exp1", "control", Option.empty[Int]),
      ("exp1", "holdout", Some(1))).toDF("exp", "arm", "conv")
    val lastState = spark.read.parquet(s"$st/batch=${again.get}")
      .select("cn", "tn").as[(Long, Long)].head()
    EValueStream.evalueBatch(spark, odd, again.get + 1, out, st,
      "exp", "arm", "conv")
    val afterOdd = spark.read.parquet(s"$st/batch=${again.get + 1}")
      .select("cn", "tn", "rows_seen").as[(Long, Long, Long)].head()
    assert((afterOdd._1, afterOdd._2) == lastState,
      "null conv / foreign arm must not add trials")
  }

  test("e-value rate monitor: on-target SLO never alarms, off-target alarms once and re-arms") {
    import graft.streaming.EValueStream
    val out = tmp(); val st = tmp()
    def h(i: Long): Long = {
      var z = i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & 0x7FFFFFFFL
    }
    // conformal-coverage deployment shape: p0 = 80% (a 20%-alpha
    // conformal filter's guaranteed pass rate)
    def batchDf(id: Long, pPct: Int, n: Int = 200) =
      (0 until n).map { j =>
        val i = id * 100000L + j
        ("filterA", if (h(i) % 100 < pPct) 1 else 0)
      }.toDF("k", "ok")
    def run(id: Long, p: Int): Unit =
      EValueStream.rateBatch(spark, batchDf(id, p), id, out, st,
        "k", "ok", p0Ppm = 800000L, alphaPpm = 50000L, minTrials = 50L)
    def rep(id: Long) = spark.read.parquet(s"$out/batch=$id")
      .select("n", "s", "rate_ppm", "log_e_micro", "alarm")
      .as[(Long, Long, Long, Long, Int)].head()
    // 30 on-target batches (6000 trials at the reference rate): the
    // point-null e-process must never alarm
    (0L until 30L).foreach(id => run(id, 80))
    (0L until 30L).foreach { id =>
      assert(rep(id)._5 == 0, s"on-target batch $id alarmed: ${rep(id)}")
    }
    // replay rewrites identical bytes
    val r29 = spark.read.parquet(s"$out/batch=29").collect().toSet
    run(29L, 80)
    assert(spark.read.parquet(s"$out/batch=29").collect().toSet == r29)
    // coverage collapses to 55%: the SLO breach must alarm, reset,
    // and the re-armed monitor must catch the still-broken rate again
    val alarmAt = (30L until 50L).find { id => run(id, 55); rep(id)._5 == 1 }
    assert(alarmAt.nonEmpty, "a 80%->55% rate collapse must alarm")
    val reset = spark.read.parquet(s"$st/batch=${alarmAt.get}")
      .select("n", "s", "n_alarms").as[(Long, Long, Long)].head()
    assert(reset == ((0L, 0L, 1L)), reset.toString)
    val again = ((alarmAt.get + 1) until (alarmAt.get + 21)).find { id =>
      run(id, 55); rep(id)._5 == 1
    }
    assert(again.nonEmpty, "the re-armed rate monitor must alarm again")
  }

  test("e-value conditional mode: zero alarms at adversarial fixed shared rates, shift alarms and re-arms, byte-identical replay") {
    import graft.streaming.EValueStream
    def h(i: Long): Long = {
      var z = i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & 0x7FFFFFFFL
    }
    def batchDf(id: Long, pCtlPct: Int, pTrtPct: Int, salt: Long, n: Int = 250) =
      (0 until n).map { j =>
        val i = salt * 10000000L + id * 100000L + j
        val arm = if (j % 2 == 0) "control" else "treatment"
        val p = if (arm == "control") pCtlPct else pTrtPct
        ("exp1", arm, if (h(i) % 100 < p) 1 else 0)
      }.toDF("exp", "arm", "conv")
    // the uniform-over-p guarantee is exactly what the mixture mode
    // CANNOT promise at extreme fixed rates — drive the conditional
    // mode at p = 2%, 50%, 98% shared: never an alarm
    for ((p, salt) <- Seq((2, 1L), (50, 2L), (98, 3L))) {
      val out = tmp(); val st = tmp()
      (0L until 30L).foreach { id =>
        EValueStream.evalueBatch(spark, batchDf(id, p, p, salt), id, out, st,
          "exp", "arm", "conv", alphaPpm = 50000L, minPerArm = 20L,
          mode = "conditional")
      }
      val alarms = spark.read.option("basePath", out).parquet(out)
        .filter(col("alarm") === 1).count()
      assert(alarms == 0L, s"fixed shared rate $p% alarmed $alarms times")
    }
    // a genuine 30% vs 60% shift still alarms (the conditioning costs
    // data, not power-at-infinity), resets the accumulator (re-arm),
    // and an at-least-once replay rewrites identical bytes
    val out = tmp(); val st = tmp()
    def run(id: Long, pc: Int, pt: Int): Unit =
      EValueStream.evalueBatch(spark, batchDf(id, pc, pt, 4L), id, out, st,
        "exp", "arm", "conv", alphaPpm = 50000L, minPerArm = 20L,
        mode = "conditional")
    def alarmOf(id: Long) = spark.read.parquet(s"$out/batch=$id")
      .select("alarm").as[Int].head()
    val alarmAt = (0L until 40L).find { id => run(id, 30, 60); alarmOf(id) == 1 }
    assert(alarmAt.nonEmpty, "a 2x shift must alarm in conditional mode")
    val reset = spark.read.parquet(s"$st/batch=${alarmAt.get}")
      .select("cn", "cs", "tn", "ts", "lec", "n_alarms")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(reset == ((0L, 0L, 0L, 0L, 0L, 1L)), reset.toString)
    val r = spark.read.parquet(s"$out/batch=${alarmAt.get}").collect().toSet
    val s = spark.read.parquet(s"$st/batch=${alarmAt.get}").collect().toSet
    run(alarmAt.get, 30, 60)
    assert(spark.read.parquet(s"$out/batch=${alarmAt.get}").collect().toSet == r)
    assert(spark.read.parquet(s"$st/batch=${alarmAt.get}").collect().toSet == s)
    val again = ((alarmAt.get + 1) until (alarmAt.get + 41)).find { id =>
      run(id, 30, 60); alarmOf(id) == 1
    }
    assert(again.nonEmpty, "the re-armed conditional e-process must alarm again")
  }

  test("mean monitor: stationary bounded metric never alarms, mean shift alarms once and re-arms, clamp and nulls behave") {
    import graft.streaming.EValueStream
    val out = tmp(); val st = tmp()
    def h(i: Long): Long = {
      var z = i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & 0x7FFFFFFFL
    }
    // revenue-like metric in [0, 20] dollars, reference mean 10.00:
    // stationary batches draw uniform cents in [0, 2000]
    def batchDf(id: Long, shifted: Boolean, n: Int = 250) =
      (0 until n).map { j =>
        val i = id * 100000L + j
        val cents = if (shifted) 1900L else h(i) % 2001L
        ("rev", cents.toDouble / 100.0)
      }.toDF("k", "v")
    def run(id: Long, shifted: Boolean): Unit =
      EValueStream.meanBatch(spark, batchDf(id, shifted), id, out, st,
        "k", "v", mu0Cents = 1000L, loCents = 0L, hiCents = 2000L,
        alphaPpm = 50000L, minTrials = 50L)
    def rep(id: Long) = spark.read.parquet(s"$out/batch=$id")
      .select("n", "mean_cents_milli", "log_e_micro", "alarm")
      .as[(Long, Long, Long, Int)].head()
    // 25 stationary batches (6250 values at the reference mean):
    // never an alarm — the always-valid contract for the metric axis
    (0L until 25L).foreach(id => run(id, shifted = false))
    (0L until 25L).foreach { id =>
      assert(rep(id)._4 == 0, s"stationary batch $id alarmed: ${rep(id)}")
    }
    // at-least-once replay rewrites identical bytes (integer state,
    // StrictMath bets)
    val r24 = spark.read.parquet(s"$out/batch=24").collect().toSet
    val s24 = spark.read.parquet(s"$st/batch=24").collect().toSet
    run(24L, shifted = false)
    assert(spark.read.parquet(s"$out/batch=24").collect().toSet == r24)
    assert(spark.read.parquet(s"$st/batch=24").collect().toSet == s24)
    // mean shift 10.00 -> 19.00: the betting martingale must alarm...
    val alarmAt = (25L until 110L).find { id =>
      run(id, shifted = true); rep(id)._4 == 1
    }
    assert(alarmAt.nonEmpty, "a 10->19 mean shift must alarm")
    // ...reset the betting state (re-arm)...
    val reset = spark.read.parquet(s"$st/batch=${alarmAt.get}")
      .select("nb", "n", "sc", "leu", "led", "n_alarms")
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(reset == ((0L, 0L, 0L, 0L, 0L, 1L)), reset.toString)
    // ...and catch the still-shifted stream again
    val again = ((alarmAt.get + 1) until (alarmAt.get + 31)).find { id =>
      run(id, shifted = true); rep(id)._4 == 1
    }
    assert(again.nonEmpty, "the re-armed mean monitor must alarm again")
    // out-of-range values CLAMP (the declared statistic); NULLs AND
    // NaNs advance rows_seen only (a NaN would otherwise coerce to 0
    // cents and drag the clamped mean toward loCents)
    val out2 = tmp(); val st2 = tmp()
    val odd = Seq(("rev", Some(99999.0)), ("rev", Some(-5.0)),
      ("rev", Option.empty[Double]), ("rev", Some(Double.NaN)))
      .toDF("k", "v")
    EValueStream.meanBatch(spark, odd, 0L, out2, st2, "k", "v",
      mu0Cents = 1000L, loCents = 0L, hiCents = 2000L)
    val st0 = spark.read.parquet(s"$st2/batch=0")
      .select("n", "sc", "rows_seen").as[(Long, Long, Long)].head()
    assert(st0 == ((2L, 2000L, 4L)),
      s"clamp to [0,2000] and null/NaN discipline: $st0")
  }

  test("page-hinkley monitor: end-to-end over a file feed catches a planted shift") {
    import graft.streaming.PageHinkleyStream
    val feed = tmp(); val out = tmp(); val st = tmp(); val ckpt = tmp()
    def write(v: Double) =
      Seq(("api", v), ("api", v)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(feed)
    write(10.0)
    val q = PageHinkleyStream.phStream(spark, feed, out, st, ckpt,
      "k", "v", deltaMilli = 500L, lambdaMilli = 3000L, minBatches = 3L,
      maxFilesPerTrigger = 1)
    try {
      q.processAllAvailable()
      Seq(10.0, 10.0, 10.0, 13.0, 13.0, 13.0).foreach { v =>
        write(v); q.processAllAvailable()
      }
    } finally q.stop()
    val alarms = spark.read.option("basePath", out).parquet(out)
      .filter(col("alarm") === 1).count()
    assert(alarms == 1L, s"exactly one alarm for one regime change, got $alarms")
  }

  test("e-value monitor: end-to-end over a file feed — null prefix silent, persistent effect re-alarms per reset") {
    import graft.streaming.EValueStream
    val feed = tmp(); val out = tmp(); val st = tmp(); val ckpt = tmp()
    def h(i: Long): Long = {
      var z = i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & 0x7FFFFFFFL
    }
    var fileNo = 0L
    def write(pCtl: Int, pTrt: Int, n: Int = 300): Unit = {
      val base = fileNo * 100000L; fileNo += 1
      (0 until n).map { j =>
        val arm = if (j % 2 == 0) "control" else "treatment"
        val p = if (arm == "control") pCtl else pTrt
        ("exp1", arm, if (h(base + j) % 100 < p) 1 else 0)
      }.toDF("exp", "arm", "conv")
        .coalesce(1).write.mode("append").parquet(feed)
    }
    write(30, 30)
    val q = EValueStream.evalueStream(spark, feed, out, st, ckpt,
      "exp", "arm", "conv", alphaPpm = 50000L, minPerArm = 20L,
      maxFilesPerTrigger = 1)
    try {
      q.processAllAvailable()
      // two more null batches, then a strong planted effect
      Seq((30, 30), (30, 30), (30, 75), (30, 75), (30, 75),
        (30, 75), (30, 75)).foreach { case (pc, pt) =>
        write(pc, pt); q.processAllAvailable()
      }
    } finally q.stop()
    // the null prefix never alarms; the PERSISTENT effect re-alarms
    // after each reset (unlike Page–Hinkley, which re-baselines to
    // the post-shift level, the e-process tests a CONTRAST — still
    // present in fresh post-reset traffic, so each detection is an
    // independent, validly-peeked rediscovery)
    def alarmAt(id: Long): Long = spark.read.parquet(s"$out/batch=$id")
      .filter(col("alarm") === 1).count()
    (0L to 2L).foreach(id =>
      assert(alarmAt(id) == 0L, s"null batch $id must not alarm"))
    val effectAlarms = (3L to 7L).map(alarmAt).sum
    assert(effectAlarms >= 3L,
      s"a persistent 30-vs-75 effect must re-alarm per reset window, got $effectAlarms")
  }

  test("embedding drift monitor: same-embedder stream stays quiet, covariance swap alarms and re-arms, replay identical") {
    import graft.streaming.EmbDriftStream
    val out = tmp(); val st = tmp(); val refDir = tmp()
    val D = 8
    // deterministic synthetic embedder: unit-ish vectors whose energy
    // concentrates on the first half of the dims; the "swapped" model
    // concentrates on the second half — same norms, different
    // covariance structure (exactly what the poly-2 kernel sees)
    def h(i: Long, j: Int): Double = {
      var z = (i * 31 + j) * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      ((z ^ (z >>> 27)) & 0xFFFFFF).toDouble / 0xFFFFFF.toDouble - 0.5
    }
    def vec(i: Long, swapped: Boolean): Seq[Float] =
      (0 until D).map { j =>
        val active = if (swapped) j >= D / 2 else j < D / 2
        (if (active) 0.5 + 0.4 * h(i, j) else 0.05 * h(i, j)).toFloat
      }
    def batchDf(id: Long, swapped: Boolean, n: Int = 120) =
      (0 until n).map(j => ("feedA", vec(id * 1000L + j, swapped)))
        .toDF("k", "emb")
    // reference: 300 vectors from the ORIGINAL embedder
    (0 until 300).map(j => ("ref", vec(900000L + j, swapped = false)))
      .toDF("k", "emb").select("emb", "k")
      .write.mode("overwrite").parquet(refDir)
    def run(id: Long, swapped: Boolean): Unit =
      EmbDriftStream.driftBatch(spark, batchDf(id, swapped), id, out, st,
        "k", "emb", refDir, dim = D, alarmMicro = 100000L, minRows = 100L)
    def rep(id: Long) = spark.read.parquet(s"$out/batch=$id")
      .select("n", "mmd2_micro", "alarm")
      .as[(Long, Long, Int)].head()
    // 5 same-embedder batches: mmd2 stays far under the alarm line
    (0L until 5L).foreach(id => run(id, swapped = false))
    (0L until 5L).foreach { id =>
      val r = rep(id)
      assert(r._3 == 0 && r._2 < 50000L, s"null batch $id: $r")
    }
    // replay the newest batch: byte-identical report and state
    val r4 = spark.read.parquet(s"$out/batch=4").collect().toSet
    val s4 = spark.read.parquet(s"$st/batch=4").collect().toSet
    run(4L, swapped = false)
    assert(spark.read.parquet(s"$out/batch=4").collect().toSet == r4)
    assert(spark.read.parquet(s"$st/batch=4").collect().toSet == s4)
    // the embedder is silently swapped: accumulated drift must alarm
    // (the reset means detection, not a stuck saturated statistic)
    val alarmAt = (5L until 15L).find { id =>
      run(id, swapped = true); rep(id)._3 == 1
    }
    assert(alarmAt.nonEmpty, "a covariance swap must alarm")
    val reset = spark.read.parquet(s"$st/batch=${alarmAt.get}")
      .select("n", "n_alarms").as[(Long, Long)].head()
    assert(reset == ((0L, 1L)), reset.toString)
    // still-swapped traffic re-alarms after re-arming
    val again = ((alarmAt.get + 1) until (alarmAt.get + 11)).find { id =>
      run(id, swapped = true); rep(id)._3 == 1
    }
    assert(again.nonEmpty, "the re-armed monitor must catch the still-swapped feed")
  }

  test("ewma monitor: at-least-once replay rewrites identical bytes; versions pruned") {
    import graft.streaming.EwmaStream
    val out = tmp(); val st = tmp()
    def b(n: Int) = (0 until 30).map(i => (s"k${i % 3}", (i % 7 + n).toDouble))
      .toDF("k", "v")
    (0L to 5L).foreach(id =>
      EwmaStream.ewmaBatch(spark, b(id.toInt), id, out, st, "k", "v", 500L))
    val report5 = spark.read.parquet(s"$out/batch=5").collect().toSet
    val state5 = spark.read.parquet(s"$st/batch=5").collect().toSet
    // replay the newest batch (the only one Structured Streaming ever
    // re-runs — retention keeps its prior version): reads state < 5,
    // recomputes the identical integers — no float drift, no double
    // count
    EwmaStream.ewmaBatch(spark, b(5), 5L, out, st, "k", "v", 500L)
    assert(spark.read.parquet(s"$out/batch=5").collect().toSet == report5)
    assert(spark.read.parquet(s"$st/batch=5").collect().toSet == state5)
    val versions = graft.util.Fs.fs(spark, st)
      .listStatus(new org.apache.hadoop.fs.Path(st))
      .map(_.getPath.getName).count(_.startsWith("batch="))
    assert(versions <= 4, s"state versions must stay pruned, got $versions")
  }

  test("seasonality monitor: days close at the clock, phase baseline folds, late rows dropped") {
    import graft.streaming.SeasonalityStream
    val out = tmp(); val st = tmp()
    def b(rows: (String, Long)*) = rows.toSeq.toDF("k", "ms")
      .select(col("k"), timestamp_millis(col("ms") * 86400000L).as("ts"))
    def run(id: Long, rows: (String, Long)*) =
      SeasonalityStream.seasonalityBatch(spark, b(rows: _*), id, out, st,
        "k", "ts", toleranceMilli = 500L, latenessDays = 0L,
        minPhaseDays = 2L)
    def report(id: Long) = spark.read.parquet(s"$out/batch=$id")
      .select("day", "phase", "n", "expected_milli", "resid_milli",
        "phase_days", "drift", "late_dropped_total")
      .as[(Long, Long, Long, Long, Long, Long, Int, Long)].collect()
      .map(t => t._1 -> t).toMap
    // batch 0: two rows on day 0, one on day 7 -> clock 7 closes day 0
    run(0L, "a" -> 0L, "a" -> 0L, "a" -> 7L)
    val r0 = report(0L)
    assert(r0.keySet == Set(0L))
    assert(r0(0L) == ((0L, 0L, 2L, -1L, 0L, 0L, 0, 0L)),
      "first phase-0 day: unseen-phase sentinel, no flag")
    // batch 1: day 7 grows, day 14 opens (closes 7), day 1 is LATE
    // (prior clock 7, lateness 0 -> frontier 6)
    run(1L, "a" -> 7L, "a" -> 14L, "a" -> 14L, "a" -> 14L, "a" -> 1L)
    val r1 = report(1L)
    assert(r1.keySet == Set(7L))
    assert(r1(7L) == ((7L, 0L, 2L, 2000L, 0L, 1L, 0, 1L)),
      "day 7 folds both triggers' rows; warmup phase_days=1 gates drift; late counted")
    // batch 2: day 21 closes day 14 against baseline mean (2+2)/2
    run(2L, "a" -> 21L, "a" -> 21L, "a" -> 21L, "a" -> 21L, "a" -> 21L)
    val r2 = report(2L)
    assert(r2(14L) == ((14L, 0L, 3L, 2000L, 1000L, 2L, 1, 1L)),
      "phase_days >= minPhaseDays and |resid| > tolerance: drift")
    // state bound: 1 baseline phase row + 1 open day + 1 late row
    val state = spark.read.parquet(s"$st/batch=2")
    assert(state.count() == 3L, state.collect().mkString(","))
    assert(state.filter(col("kind") === "b")
      .select("c1", "c2").as[(Long, Long)].head() == ((7L, 3L)),
      "baseline holds 3 closed phase-0 days totalling 7 rows")
  }

  test("seasonality monitor: replay rewrites identical bytes; versions pruned") {
    import graft.streaming.SeasonalityStream
    val out = tmp(); val st = tmp()
    def b(n: Int) = (0 until 40).map(i =>
        (s"k${i % 3}", ((n * 3 + i % 5).toLong * 86400000L + i)))
      .toDF("k", "ms")
      .select(col("k"), timestamp_millis(col("ms")).as("ts"))
    (0L to 5L).foreach(id =>
      SeasonalityStream.seasonalityBatch(spark, b(id.toInt), id, out, st,
        "k", "ts", toleranceMilli = 500L))
    val report5 = spark.read.parquet(s"$out/batch=5").collect().toSet
    val state5 = spark.read.parquet(s"$st/batch=5").collect().toSet
    SeasonalityStream.seasonalityBatch(spark, b(5), 5L, out, st,
      "k", "ts", toleranceMilli = 500L)
    assert(spark.read.parquet(s"$out/batch=5").collect().toSet == report5)
    assert(spark.read.parquet(s"$st/batch=5").collect().toSet == state5)
    val versions = graft.util.Fs.fs(spark, st)
      .listStatus(new org.apache.hadoop.fs.Path(st))
      .map(_.getPath.getName).count(_.startsWith("batch="))
    assert(versions <= 4, s"state versions must stay pruned, got $versions")
  }

  test("seasonality stream end-to-end over a file feed") {
    import graft.streaming.SeasonalityStream
    val feed = tmp(); val out = tmp(); val st = tmp(); val ckpt = tmp()
    def rows(days: Long*) = days.map(d => ("a", d)).toDF("k", "ms")
      .select(col("k"), timestamp_millis(col("ms") * 86400000L).as("ts"))
    rows(0L, 0L, 7L).coalesce(1).write.mode("append").parquet(feed)
    val q = SeasonalityStream.seasonalityStream(spark, feed, out, st, ckpt,
      "k", "ts", toleranceMilli = 500L, latenessDays = 0L, minPhaseDays = 1L)
    try {
      q.processAllAvailable()
      rows(14L).coalesce(1).write.mode("append").parquet(feed)
      q.processAllAvailable()
    } finally q.stop()
    val day7 = spark.read.option("basePath", out).parquet(out)
      .filter(col("day") === 7L)
      .select("n", "expected_milli", "resid_milli", "drift")
      .as[(Long, Long, Long, Int)].head()
    assert(day7 == ((1L, 2000L, -1000L, 1)),
      "the weekly under-run surfaces through the file feed")
  }

  test("ewma stream end-to-end over a file feed") {
    import graft.streaming.EwmaStream
    val feed = tmp(); val out = tmp(); val st = tmp(); val ckpt = tmp()
    Seq(("a", 10.0), ("a", 10.0)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(feed)
    val q = EwmaStream.ewmaStream(spark, feed, out, st, ckpt, "k", "v",
      toleranceMilli = 1000L, minBatches = 1L)
    try {
      q.processAllAvailable()
      Seq(("a", 50.0)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(feed)
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.read.option("basePath", out).parquet(out)
      .filter(col("batch") === 1)
      .select("obs_milli", "level_prev_milli", "level_milli", "drift")
      .as[(Long, Long, Long, Int)].head()
    assert(last == ((50000L, 10000L, 30000L, 1)),
      "the level shift surfaces through the file feed")
  }

  test("IvfStream: continuous appends accumulate, replays overwrite, drift decision logs") {
    import graft.sim.IvfIndex
    import graft.streaming.IvfStream
    val emb = graft.util.Tables.embeddings(spark, sfDir).cache()
    val store = tmp()
    IvfIndex.build(spark, emb.filter($"vec_id" % 2 === 0), "embedding",
      "vec_id", k = 8, iters = 0, dim = 64, store, nStoreBuckets = 4)
    val base = IvfIndex.assignments(spark, store).count()

    // trigger 1: clean batch appends and decides "keep"
    val b1 = emb.filter($"vec_id" % 4 === 1)
    val d1 = IvfStream.ivfBatch(spark, b1, "embedding", "vec_id", store,
      storeBatchId = 1000000L, dim = 64, toleranceMicro = 250000L).head()
    assert(d1.getAs[String]("decision") == "keep")
    assert(IvfIndex.assignments(spark, store).count() == base + b1.count())

    // replayed trigger (same store batch id): no duplication
    IvfStream.ivfBatch(spark, b1, "embedding", "vec_id", store,
      storeBatchId = 1000000L, dim = 64, toleranceMicro = 250000L)
    assert(IvfIndex.assignments(spark, store).count() == base + b1.count(),
      "a replayed trigger must overwrite its own partitions")

    // trigger 2: a re-embedded feed (planted shift) decides "recluster"
    val b2 = emb.filter($"vec_id" % 4 === 3).withColumn("embedding", expr(
      """transform(embedding, (x, i) ->
        |  CASE WHEN i = 3 THEN CAST(x AS DOUBLE) + 0.5d
        |       ELSE CAST(x AS DOUBLE) END)""".stripMargin))
    val d2 = IvfStream.ivfBatch(spark, b2, "embedding", "vec_id", store,
      storeBatchId = 1000001L, dim = 64, toleranceMicro = 250000L).head()
    assert(d2.getAs[String]("decision") == "recluster")

    // the decision log carries one row per trigger, replay-stable
    val log = IvfStream.decisions(spark, store)
      .select("batch", "decision").as[(Long, String)].collect().toSet
    assert(log == Set((1000000L, "keep"), (1000001L, "recluster")))

    // e2e through a real file feed
    val feedDir = tmp(); val cp = tmp(); val store2 = tmp()
    IvfIndex.build(spark, emb.filter($"vec_id" % 2 === 0), "embedding",
      "vec_id", k = 8, iters = 0, dim = 64, store2, nStoreBuckets = 4)
    emb.filter($"vec_id" % 4 === 1).coalesce(1)
      .write.mode("append").parquet(feedDir)
    val q = IvfStream.ivfStream(spark, feedDir, store2, "embedding",
      "vec_id", cp, dim = 64, toleranceMicro = 250000L)
    try {
      q.processAllAvailable()
      emb.filter($"vec_id" % 4 === 3).coalesce(1)
        .write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      assert(IvfIndex.assignments(spark, store2).count() == emb.count())
      assert(IvfStream.decisions(spark, store2).count() == 2)
    } finally q.stop()
    emb.unpersist(); ()
  }

  test("GraphAnnStream: continuous inserts accumulate, replays overwrite, health log reads degrees and dead edges") {
    import graft.sim.GraphAnnIndex
    import graft.streaming.GraphAnnStream
    val emb = graft.util.Tables.embeddings(spark, sfDir).cache()
    val store = tmp()
    GraphAnnIndex.build(spark, emb.filter($"vec_id" % 2 === 0), "embedding",
      "vec_id", k = 4, iters = 1, buckets = 20, dim = 64, store,
      nStoreBuckets = 4)
    val baseNodes = GraphAnnIndex.nodes(spark, store).count()
    val baseEdges = GraphAnnIndex.edges(spark, store).count()

    // trigger 1: inserts land node rows + fwd/rev edges, health row out
    val b1 = emb.filter($"vec_id" % 4 === 1)
    val h1 = GraphAnnStream.graphBatch(spark, b1, "embedding", "vec_id",
      store, storeBatchId = 1000000L, connectK = 4, entries = 3, beam = 3,
      rounds = 2, dim = 64).head()
    assert(GraphAnnIndex.nodes(spark, store).count() == baseNodes + b1.count())
    assert(h1.getAs[Long]("n_live") == baseNodes + b1.count())
    assert(h1.getAs[Long]("n_dead_edges") == 0L)
    // degree readout is sane: the fwd cap guarantees >= connectK at
    // the max; rev fan-in is unbounded by design (hubs), so only the
    // floor is pinned
    assert(h1.getAs[Long]("max_deg") >= 4L && h1.getAs[Long]("min_deg") >= 0L,
      h1.toString)
    val edges1 = GraphAnnIndex.edges(spark, store).count()
    assert(edges1 > baseEdges)

    // replayed trigger (same store batch id): exclude-own-writes read
    // + dynamic-partition overwrite => byte-stable store, no growth
    GraphAnnStream.graphBatch(spark, b1, "embedding", "vec_id",
      store, storeBatchId = 1000000L, connectK = 4, entries = 3, beam = 3,
      rounds = 2, dim = 64)
    assert(GraphAnnIndex.edges(spark, store).count() == edges1,
      "a replayed trigger must overwrite its own partitions")
    assert(GraphAnnIndex.nodes(spark, store).count() == baseNodes + b1.count())

    // deletions surface in the health row as pending tombstones +
    // dead edges (the vacuum-scheduling signal)
    GraphAnnIndex.delete(spark, emb.filter($"vec_id" % 20 === 0)
      .select("vec_id"), "vec_id", store, batchId = 1000001L)
    val b2 = emb.filter($"vec_id" % 4 === 3)
    val h2 = GraphAnnStream.graphBatch(spark, b2, "embedding", "vec_id",
      store, storeBatchId = 1000002L, connectK = 4, entries = 3, beam = 3,
      rounds = 2, dim = 64).head()
    assert(h2.getAs[Long]("n_tombstoned") > 0L)
    assert(h2.getAs[Long]("n_dead_edges") > 0L)
    val logged = GraphAnnStream.health(spark, store)
      .select("batch").as[Long].collect().toSet
    assert(logged == Set(1000000L, 1000002L))

    // e2e through a real file feed: inserted vectors become searchable
    val feedDir = tmp(); val cp = tmp(); val store2 = tmp()
    GraphAnnIndex.build(spark, emb.filter($"vec_id" % 2 === 0), "embedding",
      "vec_id", k = 4, iters = 1, buckets = 20, dim = 64, store2,
      nStoreBuckets = 4)
    emb.filter($"vec_id" % 4 === 1).coalesce(1)
      .write.mode("append").parquet(feedDir)
    val q = GraphAnnStream.graphStream(spark, feedDir, store2, "embedding",
      "vec_id", cp, connectK = 4, entries = 3, beam = 3, rounds = 2,
      dim = 64)
    try {
      q.processAllAvailable()
      // second trigger carries an exact copy of vec 0 at a fresh id:
      // reachable through its reverse edges after the insert
      emb.filter($"vec_id" === 0).withColumn("vec_id", lit(900001L))
        .coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      assert(GraphAnnStream.health(spark, store2).count() == 2)
      val res = GraphAnnIndex.searchTopK(spark, store2,
        emb.filter($"vec_id" === 0), "embedding", "vec_id",
        entries = 3, beam = 5, rounds = 3, topK = 4, dim = 64)
      assert(res.filter($"neighbor_id" === 900001L && $"cosine" > 0.999)
        .count() == 1L, "streamed insert must be reachable")
    } finally q.stop()
    emb.unpersist(); ()
  }

  test("streaming schema drift: abort policy fails the stream loudly, target untouched") {
    val feedDir = tmp(); val target = s"${tmp()}/t.parquet"; val cp = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(feedDir)
    val q = CdcStream.upsertStream(spark, feedDir, target, cp, Seq("id"),
      versionColumn = Some("v"))  // onSchemaDrift defaults to abort
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(target).count() == 2)

      // mid-stream source DDL change: a column appears in new feed files
      Seq((3L, "c", 30L)).toDF("id", "v", "extra")
        .coalesce(1).write.mode("append").parquet(feedDir)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msgs.contains("schema drift") && msgs.contains("extra"),
        s"abort must name the drift and both DDLs, got: $msgs")
      // the failed trigger must not have half-applied anything
      val tgt = spark.read.parquet(target)
      assert(tgt.columns.toSet == Set("id", "v") && tgt.count() == 2)
    } finally q.stop()
  }

  test("streaming schema drift: resync policy evolves the target and keeps upserting") {
    import graft.cdc.BucketedLayout
    val feedDir = tmp(); val target = s"${tmp()}/t.parquet"; val cp = tmp()
    Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("id", "ver", "v")
      .coalesce(1).write.mode("append").parquet(feedDir)
    val q = CdcStream.upsertStream(spark, feedDir, target, cp, Seq("id"),
      versionColumn = Some("ver"), nBuckets = Some(4), onSchemaDrift = "resync")
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(target).drop(BucketedLayout.GB).count() == 2)

      // drift: column add, with one row REPLAYING pk=2 at a higher version
      Seq((2L, 20L, "b2", 200L), (3L, 20L, "c", 300L))
        .toDF("id", "ver", "v", "extra")
        .coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val evolved = spark.read.parquet(target).drop(BucketedLayout.GB)
      assert(evolved.columns.toSet == Set("id", "ver", "v", "extra"))
      val rows = evolved.select("id", "ver", "v", "extra")
        .as[(Long, Long, String, Option[Long])].collect().sortBy(_._1).toSeq
      assert(rows == Seq((1L, 10L, "a", None), (2L, 20L, "b2", Some(200L)),
        (3L, 20L, "c", Some(300L))),
        "pre-drift rows get null in the added column; the drift batch upserts normally")

      // post-drift steady state: the next trigger is InSync (no rewrite)
      Seq((4L, 30L, "d", 400L)).toDF("id", "ver", "v", "extra")
        .coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      assert(spark.read.parquet(target).drop(BucketedLayout.GB).count() == 4)

      // drift the OTHER way: new files drop `extra` — resync removes it
      Seq((5L, 40L, "e")).toDF("id", "ver", "v")
        .coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val dropped = spark.read.parquet(target).drop(BucketedLayout.GB)
      assert(dropped.columns.toSet == Set("id", "ver", "v") && dropped.count() == 5)
    } finally q.stop()
  }

  test("transition monitor: exact cross-batch continuity, replay idempotence, drift alert") {
    import graft.streaming.TransitionStream
    def dirs() = (tmp(), tmp())
    val (out, st) = dirs()
    def ev(rows: Seq[(Long, Long, Long, String)]) =
      rows.toDF("user_id", "ts_ms", "event_id", "event_type")
    // user 1's A->B pair is SPLIT across the two triggers: batch 0
    // ends at A (ms 2), batch 1 opens with B (ms 3)
    val b0 = ev(Seq((1L, 1L, 10L, "A"), (1L, 2L, 11L, "A"),
      (2L, 1L, 20L, "A"), (2L, 2L, 21L, "B")))
    val b1 = ev(Seq((1L, 3L, 12L, "B"), (2L, 3L, 22L, "A")))
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      TransitionStream.transitionBatch(spark, batch, id, out, st,
        "user_id", "ts_ms", "event_id", "event_type",
        tolPpm = 200000L, minCount = 1L)
    run(b0, 0L); run(b1, 1L)
    // lifetime matrix after both triggers == one-shot batch counts
    val lifetime = spark.read.parquet(s"$st/counts/batch=1")
      .as[(String, String, Long)].collect().toSet
    val oneShot = graft.ops.Stats.transitionMatrix(
        b0.unionByName(b1), "user_id",
        Seq($"ts_ms".asc, $"event_id".asc), "event_type")
      .select("state", "next_state", "n_transitions")
      .as[(String, String, Long)].collect().toSet
    assert(lifetime === oneShot,
      "split-across-triggers must count exactly like one batch")
    // replay of trigger 1 rewrites identical bytes (exclude-own-writes)
    val before = spark.read.parquet(s"$out/batch=1")
      .collect().map(_.toString).sorted.toSeq
    run(b1, 1L)
    assert(spark.read.parquet(s"$out/batch=1")
      .collect().map(_.toString).sorted.toSeq === before)
    assert(spark.read.parquet(s"$st/counts/batch=1")
      .as[(String, String, Long)].collect().toSet === lifetime)
    // drift: a batch that flips A's distribution to all A->A alerts
    val drift = ev(Seq.tabulate(12)(i =>
      (3L, 10L + i, 100L + i, "A")))
    run(drift, 2L)
    val alerts = spark.read.parquet(s"$out/batch=2")
      .filter($"alert").select("state", "next_state")
      .as[(String, String)].collect().toSet
    assert(alerts === Set(("A", "A")),
      "the flooded self-transition must alert, nothing else")
  }

  test("streaming join-view maintenance tracks recompute under two-sided churn, replays, and crash windows") {
    import scala.util.Random
    import graft.streaming.JoinStream
    import graft.cdc.BucketedLayout
    val dir = tmp()
    val factPath = s"$dir/fact.parquet"; val dimPath = s"$dir/dim.parquet"
    val viewPath = s"$dir/view.parquet"
    val rnd = new Random(97)
    var factT = Map.empty[Long, (Long, Double)] // pk -> (fk, v)
    var dimT = Map.empty[Long, String]          // dk -> payload
    var nextPk = 0L
    def copyDir(src: String, dst: String): Unit = {
      import java.nio.file.{Files, Paths}
      val s = Paths.get(src); val d = Paths.get(dst)
      Files.walk(s).forEach { p =>
        val t = d.resolve(s.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    }
    def check(cycle: Int): Unit = {
      val gotView = JoinStream.readView(spark, viewPath)
        .select("pk", "fk", "v", "payload")
        .as[(Long, Long, Double, String)].collect().toSet
      val want = factT.flatMap { case (pk, (fk, v)) =>
        dimT.get(fk).map(p => (pk, fk, v, p)) }.toSet
      assert(gotView == want, s"cycle $cycle: view diverged from recompute")
      val gotFact = spark.read.parquet(factPath).drop(BucketedLayout.GB)
        .select("pk", "fk", "v").as[(Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(gotFact == factT, s"cycle $cycle: fact replica diverged")
      val gotDim = spark.read.parquet(dimPath)
        .select("dk", "payload").as[(Long, String)].collect().toMap
      assert(gotDim == dimT, s"cycle $cycle: dim replica diverged")
    }
    (0 until 8).foreach { b =>
      // batch 0 seeds enough dim coverage that the bootstrap view is
      // non-empty; fk space 0..29 keeps danglers present throughout
      val fUps = (0 until rnd.nextInt(25) + 5).map { _ =>
        val pk = if (factT.nonEmpty && rnd.nextBoolean())
          factT.keys.toSeq(rnd.nextInt(factT.size))
        else { nextPk += 1; nextPk }
        (pk, rnd.nextInt(30).toLong, rnd.nextInt(400) / 4.0)
      }.distinctBy(_._1)
      val fUpK = fUps.map(_._1).toSet
      val fDels = factT.keys.filter(pk =>
        !fUpK.contains(pk) && rnd.nextInt(7) == 0).toSeq
      val dUps = (0 until rnd.nextInt(8) + (if (b == 0) 10 else 0)).map { _ =>
        (rnd.nextInt(30).toLong, s"c$b-${rnd.nextInt(50)}")
      }.distinctBy(_._1)
      val dUpK = dUps.map(_._1).toSet
      val dDels = dimT.keys.filter(dk =>
        !dUpK.contains(dk) && rnd.nextInt(6) == 0).toSeq
      val rows =
        fUps.map { case (pk, fk, v) => ("fact", Option(pk), Option(fk),
          Option(v), Option.empty[Long], Option.empty[String], b.toLong, false) } ++
        fDels.map(pk => ("fact", Option(pk), Option.empty[Long],
          Option.empty[Double], Option.empty[Long], Option.empty[String], b.toLong, true)) ++
        dUps.map { case (dk, p) => ("dim", Option.empty[Long], Option.empty[Long],
          Option.empty[Double], Option(dk), Option(p), b.toLong, false) } ++
        dDels.map(dk => ("dim", Option.empty[Long], Option.empty[Long],
          Option.empty[Double], Option(dk), Option.empty[String], b.toLong, true))
      val batch = rows.toDF("side", "pk", "fk", "v", "dk", "payload", "ver", "del")
      def run() = JoinStream.foldBatch(spark, batch, b.toLong,
        factPath, dimPath, viewPath, Seq("pk"), "fk", "dk",
        Seq("pk", "fk", "v"), Seq("dk", "payload"), "ver", "del", nBuckets = 4)
      if (b == 3) {
        // crash window: view buckets swapped AND stamped, but neither
        // replica merge landed — the replay must skip the view fold
        // (the replicas have NOT advanced, but the view must not
        // double-fold) and re-run only the idempotent replica merges
        val sf = s"$dir/fsave"; val sd = s"$dir/dsave"
        copyDir(factPath, sf); copyDir(dimPath, sd)
        run()
        graft.util.Fs.delete(spark, factPath); copyDir(sf, factPath)
        graft.util.Fs.delete(spark, dimPath); copyDir(sd, dimPath)
      }
      run()
      if (b == 5) {
        // crash inside the dim flat swap: destination deleted, the
        // completed staging not yet renamed — the replay's entry
        // recovery must promote staging, not misread an empty dim
        assert(new java.io.File(dimPath)
          .renameTo(new java.io.File(s"$dimPath.staging")))
      }
      if (rnd.nextInt(2) == 0 || b == 5) run() // plain at-least-once replay
      factT = (factT -- fDels) ++ fUps.map(u => u._1 -> (u._2, u._3))
      dimT = (dimT -- dDels) ++ dUps
      check(b)
    }
    // the stamp is what made the replays safe: it carries the last id
    assert(JoinStream.readStamp(spark, viewPath).contains(7L))
  }

  test("join-view maintenance drops a NULL-pk fact row's old image on update and delete") {
    import graft.streaming.JoinStream
    import graft.cdc.BucketedLayout
    for (outer <- Seq(false, true)) {
      val dir = tmp()
      val factPath = s"$dir/fact.parquet"; val dimPath = s"$dir/dim.parquet"
      val viewPath = s"$dir/view.parquet"
      val dim = Map(1L -> "a", 2L -> "b")
      var factT = Map.empty[Option[Long], (Long, Double)] // pk -> (fk, v)
      def fact(pk: Option[Long], fk: Long, v: Double, del: Boolean = false) =
        ("fact", pk, Option(fk), Option(v), Option.empty[Long], Option.empty[String], del)
      Seq(
        dim.toSeq.map { case (dk, p) => ("dim", Option.empty[Long], Option.empty[Long],
          Option.empty[Double], Option(dk), Option(p), false) } ++
          Seq(fact(Some(1L), 1L, 1.0), fact(None, 1L, 2.0)),
        Seq(fact(None, 2L, 3.0)),            // the NULL-pk row re-homes onto dim 2
        Seq(fact(None, 0L, 0.0, del = true)) // and is deleted
      ).zipWithIndex.foreach { case (rows, b) =>
        JoinStream.foldBatch(spark,
          rows.map { case (side, pk, fk, v, dk, p, del) => (side, pk, fk, v, dk, p, b.toLong, del) }
            .toDF("side", "pk", "fk", "v", "dk", "payload", "ver", "del"), b.toLong,
          factPath, dimPath, viewPath, Seq("pk"), "fk", "dk",
          Seq("pk", "fk", "v"), Seq("dk", "payload"), "ver", "del", nBuckets = 4, outer = outer)
        rows.foreach { case (side, pk, fk, v, _, _, del) =>
          if (side == "fact") factT = if (del) factT - pk else factT + (pk -> (fk.get, v.get))
        }
        val gotView = JoinStream.readView(spark, viewPath)
          .select("pk", "fk", "v", "payload")
          .as[(Option[Long], Long, Double, Option[String])].collect().toSeq
        val want = factT.toSeq.map { case (pk, (fk, v)) => (pk, fk, v, dim.get(fk)) }
        assert(gotView.sortBy(_.toString) == want.sortBy(_.toString),
          s"outer=$outer batch $b: view diverged from recompute")
        val gotFact = spark.read.parquet(factPath).drop(BucketedLayout.GB)
          .select("pk", "fk", "v").as[(Option[Long], Long, Double)].collect().toSeq
        assert(gotFact.sortBy(_.toString) ==
          factT.toSeq.map { case (pk, (fk, v)) => (pk, fk, v) }.sortBy(_.toString),
          s"outer=$outer batch $b: fact replica diverged")
      }
    }
  }

  test("streaming OUTER join-view is self-maintainable: LEFT-JOIN parity under churn with the fact replica WIPED before every fold") {
    import scala.util.Random
    import graft.streaming.JoinStream
    val dir = tmp()
    val factPath = s"$dir/fact.parquet"; val dimPath = s"$dir/dim.parquet"
    val viewPath = s"$dir/view.parquet"
    val rnd = new Random(101)
    var factT = Map.empty[Long, (Long, Double)] // pk -> (fk, v)
    var dimT = Map.empty[Long, String]          // dk -> payload
    var nextPk = 0L
    def copyDir(src: String, dst: String): Unit = {
      import java.nio.file.{Files, Paths}
      val s = Paths.get(src); val d = Paths.get(dst)
      Files.walk(s).forEach { p =>
        val t = d.resolve(s.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    }
    def check(cycle: Int): Unit = {
      val gotView = JoinStream.readView(spark, viewPath)
        .select("pk", "fk", "v", "payload")
        .as[(Long, Long, Double, Option[String])].collect().toSet
      // the OUTER recompute: every fact row, payload where the dim has it
      val want = factT.map { case (pk, (fk, v)) =>
        (pk, fk, v, dimT.get(fk)) }.toSet
      assert(gotView == want,
        s"cycle $cycle: outer view diverged from LEFT-JOIN recompute")
      val gotDim = spark.read.parquet(dimPath)
        .select("dk", "payload").as[(Long, String)].collect().toMap
      assert(gotDim == dimT, s"cycle $cycle: dim replica diverged")
    }
    (0 until 8).foreach { b =>
      val fUps = (0 until rnd.nextInt(25) + 5).map { _ =>
        val pk = if (factT.nonEmpty && rnd.nextBoolean())
          factT.keys.toSeq(rnd.nextInt(factT.size))
        else { nextPk += 1; nextPk }
        (pk, rnd.nextInt(30).toLong, rnd.nextInt(400) / 4.0)
      }.distinctBy(_._1)
      val fUpK = fUps.map(_._1).toSet
      val fDels = factT.keys.filter(pk =>
        !fUpK.contains(pk) && rnd.nextInt(7) == 0).toSeq
      val dUps = (0 until rnd.nextInt(8) + (if (b == 0) 10 else 0)).map { _ =>
        (rnd.nextInt(30).toLong, s"c$b-${rnd.nextInt(50)}")
      }.distinctBy(_._1)
      val dUpK = dUps.map(_._1).toSet
      val dDels = dimT.keys.filter(dk =>
        !dUpK.contains(dk) && rnd.nextInt(6) == 0).toSeq
      val rows =
        fUps.map { case (pk, fk, v) => ("fact", Option(pk), Option(fk),
          Option(v), Option.empty[Long], Option.empty[String], b.toLong, false) } ++
        fDels.map(pk => ("fact", Option(pk), Option.empty[Long],
          Option.empty[Double], Option.empty[Long], Option.empty[String], b.toLong, true)) ++
        dUps.map { case (dk, p) => ("dim", Option.empty[Long], Option.empty[Long],
          Option.empty[Double], Option(dk), Option(p), b.toLong, false) } ++
        dDels.map(dk => ("dim", Option.empty[Long], Option.empty[Long],
          Option.empty[Double], Option(dk), Option.empty[String], b.toLong, true))
      val batch = rows.toDF("side", "pk", "fk", "v", "dk", "payload", "ver", "del")
      def run() = {
        // SELF-MAINTAINABILITY is the whole claim: the outer fold must
        // not depend on the fact replica, so destroy it before every
        // fold — any read of the fact base would change the view
        graft.util.Fs.delete(spark, factPath)
        JoinStream.foldBatch(spark, batch, b.toLong,
          factPath, dimPath, viewPath, Seq("pk"), "fk", "dk",
          Seq("pk", "fk", "v"), Seq("dk", "payload"), "ver", "del",
          nBuckets = 4, outer = true)
      }
      if (b == 3) {
        // crash window: view swapped AND stamped, dim replica not — the
        // replay must skip the view fold and re-run the replica merges
        val sd = s"$dir/dsave"
        copyDir(dimPath, sd)
        run()
        graft.util.Fs.delete(spark, dimPath); copyDir(sd, dimPath)
      }
      run()
      if (b == 5) {
        // crash inside the dim flat swap: the replay's entry recovery
        // must promote staging, not misread an empty dim
        assert(new java.io.File(dimPath)
          .renameTo(new java.io.File(s"$dimPath.staging")))
      }
      if (rnd.nextInt(2) == 0 || b == 5) run() // plain at-least-once replay
      factT = (factT -- fDels) ++ fUps.map(u => u._1 -> (u._2, u._3))
      dimT = (dimT -- dDels) ++ dUps
      check(b)
    }
    assert(JoinStream.readStamp(spark, viewPath).contains(7L))
  }

  test("join-view maintainStream folds a two-sided file feed; dim changes cascade and surface danglers") {
    import graft.streaming.JoinStream
    val feedDir = tmp(); val dir = tmp(); val cp = tmp()
    val factPath = s"$dir/fact.parquet"; val dimPath = s"$dir/dim.parquet"
    val viewPath = s"$dir/view.parquet"
    def fact(pk: Long, fk: Long, v: Double, ver: Long): (String, Option[Long], Option[Long], Option[Double], Option[Long], Option[String], Long, Boolean) =
      ("fact", Some(pk), Some(fk), Some(v), None, None, ver, false)
    def factDel(pk: Long, ver: Long): (String, Option[Long], Option[Long], Option[Double], Option[Long], Option[String], Long, Boolean) =
      ("fact", Some(pk), None, None, None, None, ver, true)
    def dim(dk: Long, p: String, ver: Long): (String, Option[Long], Option[Long], Option[Double], Option[Long], Option[String], Long, Boolean) =
      ("dim", None, None, None, Some(dk), Some(p), ver, false)
    def dimDel(dk: Long, ver: Long): (String, Option[Long], Option[Long], Option[Double], Option[Long], Option[String], Long, Boolean) =
      ("dim", None, None, None, Some(dk), None, ver, true)
    // trigger 1: facts under dims 10/11 plus two DANGLERS under 12
    val t1 = Seq(fact(1, 10, 1.0, 0), fact(2, 10, 2.0, 0),
      fact(3, 11, 3.0, 0), fact(4, 12, 4.0, 0), fact(5, 12, 5.0, 0),
      fact(6, 11, 6.0, 0), dim(10, "a", 0), dim(11, "b", 0))
    t1.toDF("side", "pk", "fk", "v", "dk", "payload", "ver", "del")
      .coalesce(1).write.mode("append").parquet(feedDir)
    val q = JoinStream.maintainStream(spark, feedDir, factPath, dimPath,
      viewPath, cp, Seq("pk"), "fk", "dk", Seq("pk", "fk", "v"),
      Seq("dk", "payload"), "ver", "del", nBuckets = 4)
    try {
      q.processAllAvailable()
      assert(JoinStream.readView(spark, viewPath)
        .select("pk", "fk", "v", "payload")
        .as[(Long, Long, Double, String)].collect().toSet ==
        Set((1L, 10L, 1.0, "a"), (2L, 10L, 2.0, "a"),
          (3L, 11L, 3.0, "b"), (6L, 11L, 6.0, "b")),
        "danglers under dim 12 must stay out of the bootstrap view")
      // trigger 2: dim 12 INSERT surfaces the danglers, dim 11 DELETE
      // cascades its rows out, fact 1 deletes, fact 2 re-homes to 12
      val t2 = Seq(dim(12, "c", 1), dimDel(11, 1),
        factDel(1, 1), fact(2, 12, 2.5, 1))
      t2.toDF("side", "pk", "fk", "v", "dk", "payload", "ver", "del")
        .coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      assert(JoinStream.readView(spark, viewPath)
        .select("pk", "fk", "v", "payload")
        .as[(Long, Long, Double, String)].collect().toSet ==
        Set((2L, 12L, 2.5, "c"), (4L, 12L, 4.0, "c"), (5L, 12L, 5.0, "c")),
        "cascade + dangler surfacing + re-home must all fold")
    } finally q.stop()
  }

  test("delta feed survives the swap-then-crash window: an unstamped replay never rewrites a landed delta") {
    // THE r16-review window: delta file landed, view buckets swapped,
    // crash before the stamp. The delta's delete half derives from the
    // PRE-fold view — a replay that recomputed it against the swapped
    // view would see the dropped rows already gone and overwrite the
    // file with an EMPTY delete set, silently diverging the next
    // level forever. The fix orders delta-before-swap and skips an
    // existing file; this drill proves the landed bytes survive.
    import graft.streaming.JoinStream
    val dir = tmp(); val feed = tmp()
    val factPath = s"$dir/fact.parquet"; val dimPath = s"$dir/dim.parquet"
    val viewPath = s"$dir/view.parquet"
    def row(side: String, pk: Option[Long], fk: Option[Long],
            v: Option[Double], dk: Option[Long], p: Option[String],
            ver: Long, del: Boolean) = (side, pk, fk, v, dk, p, ver, del)
    def fold(rows: Seq[(String, Option[Long], Option[Long], Option[Double],
        Option[Long], Option[String], Long, Boolean)], b: Long) =
      JoinStream.foldBatch(spark,
        rows.toDF("side", "pk", "fk", "v", "dk", "payload", "ver", "del"),
        b, factPath, dimPath, viewPath, Seq("pk"), "fk", "dk",
        Seq("pk", "fk", "v"), Seq("dk", "payload"), "ver", "del",
        nBuckets = 4, deltaFeedDir = Some(feed))
    fold(Seq(
      row("fact", Some(1L), Some(10L), Some(1.0), None, None, 0, false),
      row("fact", Some(2L), Some(11L), Some(2.0), None, None, 0, false),
      row("dim", None, None, None, Some(10L), Some("a"), 0, false),
      row("dim", None, None, None, Some(11L), Some("b"), 0, false)), 0L)
    // batch 1: dim 11 DELETE cascades pk 2 out — the delta MUST carry
    // that delete key
    fold(Seq(row("dim", None, None, None, Some(11L), None, 1, true)), 1L)
    val deltaFile = java.nio.file.Paths.get(feed, "delta-1.parquet")
    val before = java.nio.file.Files.readAllBytes(deltaFile)
    val dels = spark.read.parquet(deltaFile.toString)
      .filter($"del").select("pk").as[Long].collect().toSeq
    assert(dels == Seq(2L), s"delta must carry the cascaded delete, got $dels")
    // crash window: stamp lost AFTER view swap + delta landed
    graft.util.Fs.delete(spark, s"$viewPath/_graft_batch")
    fold(Seq(row("dim", None, None, None, Some(11L), None, 1, true)), 1L)
    val after = java.nio.file.Files.readAllBytes(deltaFile)
    assert(java.util.Arrays.equals(before, after),
      "the landed delta must survive byte-identically — a post-swap " +
        "recompute would have emptied its delete half")
    assert(JoinStream.readView(spark, viewPath)
      .select("pk").as[Long].collect().toSeq == Seq(1L),
      "the replayed view fold must still converge")
    assert(JoinStream.readStamp(spark, viewPath).contains(1L))
  }

  test("snowflake of JoinStreams: level 1's delta feed drives level 2 without reading its stores") {
    import graft.streaming.JoinStream
    import org.apache.spark.sql.types._
    val feed1 = tmp(); val feed2 = tmp(); val dir = tmp()
    val cp1 = tmp(); val cp2 = tmp()
    def paths(lvl: Int) =
      (s"$dir/f$lvl.parquet", s"$dir/d$lvl.parquet", s"$dir/v$lvl.parquet")
    val (f1, d1, v1) = paths(1); val (f2, d2, v2) = paths(2)
    // fact(pk, k1, k2, v) ⋈ dim1(dk1, p1) ⋈ dim2(dk2, p2)
    def fact(pk: Long, k1: Long, k2: Long, v: Double, ver: Long, del: Boolean = false) =
      ("fact", Option(pk), Option(k1), Option(k2),
        if (del) Option.empty[Double] else Option(v),
        Option.empty[Long], Option.empty[String], ver, del)
    def dim1(dk: Long, p: String, ver: Long, del: Boolean = false) =
      ("dim", Option.empty[Long], Option.empty[Long], Option.empty[Long],
        Option.empty[Double], Option(dk),
        if (del) Option.empty[String] else Option(p), ver, del)
    val f1Cols = Seq("side", "pk", "k1", "k2", "v", "dk1", "p1", "ver", "del")
    // level 2's feed dir receives level 1's delta files (fact side:
    // pk, k1, k2, v, p1) AND the test's own dim2 files — the explicit
    // schema is the union, each writer's missing columns read as NULL
    val feed2Schema = StructType(Seq(
      StructField("side", StringType), StructField("pk", LongType),
      StructField("k1", LongType), StructField("k2", LongType),
      StructField("v", DoubleType), StructField("p1", StringType),
      StructField("dk2", LongType), StructField("p2", StringType),
      StructField("ver", LongType), StructField("del", BooleanType)))
    def dim2File(rows: Seq[(Long, String, Long, Boolean)]): Unit =
      rows.map { case (dk, p, ver, del) => ("dim", Option.empty[Long],
          Option.empty[Long], Option.empty[Long], Option.empty[Double],
          Option.empty[String], Option(dk),
          if (del) Option.empty[String] else Option(p), ver, del) }
        .toDF("side", "pk", "k1", "k2", "v", "p1", "dk2", "p2", "ver", "del")
        .coalesce(1).write.mode("append").parquet(feed2)
    // trigger 1 content: facts under (k1, k2) pairs; dim1 covers 10/11,
    // dim2 covers 20 only — pk 3 double-dangles until later
    Seq(fact(1, 10, 20, 1.0, 0), fact(2, 11, 20, 2.0, 0),
        fact(3, 11, 21, 3.0, 0),
        dim1(10, "a", 0), dim1(11, "b", 0))
      .toDF(f1Cols: _*).coalesce(1).write.mode("append").parquet(feed1)
    dim2File(Seq((20L, "x", 0L, false)))
    val q1 = JoinStream.maintainStream(spark, feed1, f1, d1, v1, cp1,
      Seq("pk"), "k1", "dk1", Seq("pk", "k1", "k2", "v"), Seq("dk1", "p1"),
      "ver", "del", nBuckets = 4, deltaFeedDir = Some(feed2))
    try {
      q1.processAllAvailable()
      val q2 = JoinStream.maintainStream(spark, feed2, f2, d2, v2, cp2,
        Seq("pk"), "k2", "dk2", Seq("pk", "k1", "k2", "v", "p1"),
        Seq("dk2", "p2"), "ver", "del", nBuckets = 4,
        feedSchema = Some(feed2Schema))
      try {
        q2.processAllAvailable()
        assert(JoinStream.readView(spark, v2)
          .select("pk", "k1", "k2", "v", "p1", "p2")
          .as[(Long, Long, Long, Double, String, String)].collect().toSet ==
          Set((1L, 10L, 20L, 1.0, "a", "x"), (2L, 11L, 20L, 2.0, "b", "x")),
          "level-2 bootstrap must join level-1's delta against dim2")
        // trigger 2: dim1 DELETE 10 cascades pk 1 out of v1, and that
        // removal must PROPAGATE through the delta feed and leave v2;
        // meanwhile dim2 INSERT 21 surfaces pk 3 at level 2 — a
        // dangler whose row only level 2's fact REPLICA (= v1) holds,
        // proving the replica is what dim-side re-derivation reads
        Seq(dim1(10, "", 1, del = true))
          .toDF(f1Cols: _*).coalesce(1).write.mode("append").parquet(feed1)
        dim2File(Seq((21L, "y", 1L, false)))
        q1.processAllAvailable()
        q2.processAllAvailable()
        assert(JoinStream.readView(spark, v2)
          .select("pk", "k1", "k2", "v", "p1", "p2")
          .as[(Long, Long, Long, Double, String, String)].collect().toSet ==
          Set((2L, 11L, 20L, 2.0, "b", "x"), (3L, 11L, 21L, 3.0, "b", "y")),
          "a dim1 delete must cascade THROUGH the delta feed; dim2 inserts surface level-1 rows")
        // level 2 never opened level 1's stores: its fact replica
        // converged to v1 purely from the delta feed
        val rep2 = spark.read.parquet(f2)
          .select("pk", "k1", "k2", "v", "p1")
          .as[(Long, Long, Long, Double, String)].collect().toSet
        val v1Now = JoinStream.readView(spark, v1)
          .select("pk", "k1", "k2", "v", "p1")
          .as[(Long, Long, Long, Double, String)].collect().toSet
        assert(rep2 == v1Now, "level-2 fact replica must equal level-1's view")
      } finally q2.stop()
    } finally q1.stop()
  }
}
