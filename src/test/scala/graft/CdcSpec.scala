package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.cdc._
import graft.util.Tables

class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-cdc").toString

  private def eventsCfg = ReplicationConfig(
    tables = Seq(TableConfig("events", Seq("event_id"), "event_id")),
    deleteChunkSize = 100)

  test("replicator: initial full copy then incremental append + delete sync converge") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val events = Tables.events(spark, sfDir)
    events.write.mode("overwrite").parquet(s"$srcDir/events.parquet")

    val rep = new Replicator(spark, eventsCfg, srcDir, tgtDir)
    rep.run()
    assert(spark.read.parquet(s"$tgtDir/events.parquet").count() == events.count())
    assert(rep.state.get("events").lastSeenVersion == 999L)

    // source evolves: 50 new rows appended, every 40th old row deleted
    val appended = events.withColumn("event_id", $"event_id" + 10000L).limit(50)
    val evolved = events.filter(expr("event_id % 40 <> 0")).unionByName(appended)
    evolved.write.mode("overwrite").parquet(s"$srcDir/events.parquet")

    val rep2 = new Replicator(spark, eventsCfg, srcDir, tgtDir)
    rep2.run()
    val tgt = spark.read.parquet(s"$tgtDir/events.parquet")
    val src = spark.read.parquet(s"$srcDir/events.parquet")
    assert(tgt.count() == src.count())
    assert(tgt.join(src, Seq("event_id"), "left_anti").count() == 0)
    assert(rep2.state.get("events").lastSeenVersion == 10049L)
  }

  test("replicator: continuous mode picks up source mutations between cycles") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val events = Tables.events(spark, sfDir).cache()
    events.write.mode("overwrite").parquet(s"$srcDir/events.parquet")

    val srcStore = new ParquetStore(spark, srcDir)
    val sinkStore = new ParquetStore(spark, tgtDir)
    val rep = new Replicator(spark, eventsCfg, srcStore, sinkStore)
    val cycles = rep.runContinuous(pollIntervalMs = 0, maxCycles = 2, afterCycle = {
      case 1 =>
        // between polls the source gains 25 rows — cycle 2 must pull them
        val extra = events.withColumn("event_id", $"event_id" + 20000L).limit(25)
        events.unionByName(extra).write.mode("overwrite")
          .parquet(s"$srcDir/events.parquet")
      case _ => ()
    })
    assert(cycles == 2)
    val tgt = sinkStore.read("events")
    assert(tgt.count() == events.count() + 25)
    assert(rep.state.get("events").lastSeenVersion == 20024L)
    assert(sinkStore.exists("events") && !sinkStore.exists("nope"))
  }

  test("replicator: composite-pk delete sync converges via hash buckets") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity").cache()
    li.write.mode("overwrite").parquet(s"$srcDir/lineitem.parquet")
    val cfg = ReplicationConfig(tables = Seq(
      TableConfig("lineitem", Seq("l_orderkey", "l_linenumber"), "l_orderkey")),
      deleteChunkSize = 1600) // -> 100 hash buckets
    new Replicator(spark, cfg, srcDir, tgtDir).run()
    assert(spark.read.parquet(s"$tgtDir/lineitem.parquet").count() == li.count())

    // rows vanish from the source without any version change — only
    // the composite-key hash-bucket diff can see them
    val evolved = li.filter(expr("(l_orderkey * 7 + l_linenumber) % 9 <> 0")).cache()
    evolved.write.mode("overwrite").parquet(s"$srcDir/lineitem.parquet")
    new Replicator(spark, cfg, srcDir, tgtDir).run()
    val tgt = spark.read.parquet(s"$tgtDir/lineitem.parquet")
    assert(tgt.count() == evolved.count())
    assert(tgt.join(evolved, Seq("l_orderkey", "l_linenumber"), "left_anti").count() == 0)
    assert(evolved.join(tgt, Seq("l_orderkey", "l_linenumber"), "left_anti").count() == 0)
  }

  /** All committed parquet part files under a table dir: path → (bytes, mtime). */
  private def partFiles(tableDir: String): Map[String, (Long, Long)] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      if (d.isDirectory) Option(d.listFiles()).toSeq.flatten.flatMap(walk) else Seq(d)
    walk(new java.io.File(tableDir))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
  }

  test("bucketed sink: incremental cycle leaves untouched partitions byte-identical") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val events = Tables.events(spark, sfDir).cache()
    events.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val sink = new BucketedParquetStore(spark, tgtDir, 8)
    new Replicator(spark, eventsCfg, new ParquetStore(spark, srcDir), sink).run()
    assert(sink.read("events").count() == events.count())
    val before = partFiles(s"$tgtDir/events.parquet")
    assert(before.keySet.exists(_.contains("graft_bucket=")), "sink must be bucket-partitioned")

    // 5 new rows land; only their hash buckets may be rewritten
    val extra = events.limit(5).withColumn("event_id", $"event_id" + 70000L).cache()
    events.unionByName(extra).write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    new Replicator(spark, eventsCfg, new ParquetStore(spark, srcDir), sink).run()
    val after = partFiles(s"$tgtDir/events.parquet")

    val touched = extra.select(BucketedLayout.bucketExpr(Seq("event_id"), 8).as("gb"))
      .distinct().as[Int].collect().toSet
    assert(touched.size < 8, "fixture must leave some buckets untouched")
    def untouchedOf(m: Map[String, (Long, Long)]) =
      m.filter { case (p, _) => !touched.exists(k => p.contains(s"graft_bucket=$k/")) }
    assert(untouchedOf(after) == untouchedOf(before),
      "partitions outside the change batch's buckets must keep their exact files")
    assert(sink.read("events").count() == events.count() + 5)
    assert(sink.read("events").columns.sameElements(events.columns))
  }

  test("bucketed sink: interrupted per-partition swap heals before the next read") {
    // crash window inside overwriteBuckets: a bucket's live dir was
    // deleted but its staged replacement not yet renamed in. Without
    // healing, the bucket reads empty and a replayed merge silently
    // drops every untouched row co-bucketed with the batch's keys.
    val tgt = s"${tmpDir()}/events.parquet"
    val events = Tables.events(spark, sfDir).filter($"event_id" < 1000).cache()
    BucketedLayout.writeFull(spark, events, Seq("event_id"), 8, tgt)
    val full = spark.read.parquet(tgt).drop(BucketedLayout.GB).collect().toSet

    // simulate: pick a bucket, move its live dir into a committed
    // partition-staging dir (exactly what the crash leaves behind)
    val live = new java.io.File(tgt).listFiles()
      .filter(_.getName.startsWith("graft_bucket=")).minBy(_.getName)
    val staging = new java.io.File(s"${new java.io.File(tgt).getParent}/__stagingp_events.parquet")
    assert(staging.mkdirs())
    java.nio.file.Files.createFile(staging.toPath.resolve("_SUCCESS"))
    assert(live.renameTo(new java.io.File(staging, live.getName)))

    // any store read heals first — nothing is lost
    val sink = new BucketedParquetStore(spark, new java.io.File(tgt).getParent, 8)
    assert(sink.read("events").collect().toSet == full,
      "interrupted partition swap must heal, not read the bucket as empty")
    assert(!staging.exists(), "completed recovery must drop the staging dir")
  }

  test("bucketed sink: changed bucket count forces full re-layout, never dup PKs") {
    val tgt = s"${tmpDir()}/events.parquet"
    val events = Tables.events(spark, sfDir).cache()
    BucketedLayout.writeFull(spark, events, Seq("event_id"), 8, tgt)
    assert(BucketedLayout.readBucketCount(spark, tgt).contains(8))

    // upsert under a DIFFERENT bucket count: overlapping + new keys.
    // Without the marker check the pruned merge would hash keys into
    // the wrong partitions and write duplicate PKs silently.
    val batch = events.filter($"event_id" < 100)
      .unionByName(events.limit(5).withColumn("event_id", $"event_id" + 70000L))
    BucketedLayout.upsertBuckets(spark, tgt, batch, Seq("event_id"), 4)

    val out = spark.read.parquet(tgt)
    assert(out.count() == events.count() + 5)
    assert(out.select("event_id").distinct().count() == out.count(), "no duplicate PKs")
    // forced re-layout observed: marker rewritten, dirs span the new count
    assert(BucketedLayout.readBucketCount(spark, tgt).contains(4))
    val gbDirs = new java.io.File(tgt).listFiles()
      .filter(_.getName.startsWith(s"${BucketedLayout.GB}=")).map(_.getName).toSet
    assert(gbDirs.nonEmpty &&
      gbDirs.forall(_.stripPrefix(s"${BucketedLayout.GB}=").toInt < 4), s"$gbDirs")

    // a PARTIAL overwrite computed under the wrong count must fail
    // loudly — its bucket assignment contradicts the stored layout
    intercept[IllegalArgumentException] {
      BucketedLayout.overwriteBuckets(spark, batch, Seq("event_id"), 16, tgt)
    }
  }

  test("bucketed layout: full and partial writes stage one file per bucket in at most shuffle-partitions tasks") {
    val tgt = s"${tmpDir()}/t.parquet"
    val pk = Seq("id")
    // four input partitions: a write without the bucket repartition
    // would leave up to four files in a bucket directory
    val rows = spark.range(0, 2000, 1, 4).select($"id", ($"id" % 13).as("x")).cache()
    val maxTasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nBuckets = 2 * maxTasks
    def dataFiles(k: Int): Int = Option(new java.io.File(tgt, s"${BucketedLayout.GB}=$k")
      .listFiles()).fold(0)(_.count(f => !f.getName.startsWith("_") && !f.getName.startsWith(".")))

    val full = sparkWorkOf(BucketedLayout.writeFull(spark, rows, pk, nBuckets, tgt))
    assert((0 until nBuckets).map(dataFiles) == Seq.fill(nBuckets)(1), "writeFull: files per bucket")
    assert(full.stageTasks.nonEmpty && full.stageTasks.max <= maxTasks,
      s"writeFull ran stages of ${full.stageTasks} tasks")

    val touched = Seq(1, 3, 5)
    val gb = BucketedLayout.bucketExpr(pk, nBuckets)
    val partial = sparkWorkOf(BucketedLayout.overwriteBuckets(spark,
      rows.filter(gb.isin(touched: _*)).withColumn("x", lit(-1L)), pk, nBuckets, tgt))
    assert((0 until nBuckets).map(dataFiles) == Seq.fill(nBuckets)(1), "overwriteBuckets: files per bucket")
    assert(partial.stageTasks.nonEmpty && partial.stageTasks.max <= maxTasks,
      s"overwriteBuckets ran stages of ${partial.stageTasks} tasks")
    val out = spark.read.parquet(tgt)
    assert(out.count() == 2000L)
    assert(out.filter($"x" === -1L).select(col(BucketedLayout.GB)).distinct()
      .as[Int].collect().toSet == touched.toSet)
  }

  test("bucketed sink: delete-only cycle under a changed bucket count converges") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val events = Tables.events(spark, sfDir).cache()
    events.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    new Replicator(spark, eventsCfg, new ParquetStore(spark, srcDir),
      new BucketedParquetStore(spark, tgtDir, 8)).run()

    // rows vanish but no versions advance: the next cycle takes ONLY
    // the delete-sync path, under a DIFFERENT bucket count — without
    // the layout heal its partial overwrites would corrupt or wedge
    val evolved = events.filter($"event_id" % 7 =!= 0).cache()
    evolved.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val sink4 = new BucketedParquetStore(spark, tgtDir, 4)
    new Replicator(spark, eventsCfg, new ParquetStore(spark, srcDir), sink4).run()

    val tgt = sink4.read("events")
    assert(tgt.count() == evolved.count())
    assert(tgt.select("event_id").distinct().count() == evolved.count(), "no dup PKs")
    assert(tgt.join(evolved, Seq("event_id"), "left_anti").count() == 0)
    assert(BucketedLayout.readBucketCount(spark, s"$tgtDir/events.parquet").contains(4))
  }

  test("bucketed sink: updates, inserts and deletes in one cycle under a changed bucket count converge") {
    // the re-layout cycle's reconcile also takes the watermark term: the
    // summary must read the target as the re-layout left it, not the
    // frame validation resolved before it (whose files are deleted)
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val base = versioned(400).cache()
    base.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    new Replicator(spark, versionedCfg(), new ParquetStore(spark, srcDir),
      new BucketedParquetStore(spark, tgtDir, 8)).run()

    val evolved = base.filter($"id" % 7 =!= 0)
      .withColumn("ver", when($"id" % 5 === 0, $"ver" + 1000L).otherwise($"ver"))
      .withColumn("v", when($"id" % 5 === 0, lit("updated")).otherwise($"v"))
      .unionByName(versioned(20).select(($"id" + 400L).as("id"), ($"ver" + 2000L).as("ver"), $"v"))
      .cache()
    evolved.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val sink4 = new BucketedParquetStore(spark, tgtDir, 4)
    val rep = new Replicator(spark, versionedCfg(), new ParquetStore(spark, srcDir), sink4)
    rep.run()

    assertConverged(sink4.read("t"), evolved)
    assert(BucketedLayout.readBucketCount(spark, s"$tgtDir/t.parquet").contains(4))
    val st = rep.state.get("t")
    assert(st.lastSeenVersion == 2019L && st.targetRows == evolved.count())
  }

  test("bucketed sink: partition-pruned read only touches the filtered bucket dirs") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    Tables.events(spark, sfDir).write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val sink = new BucketedParquetStore(spark, tgtDir, 8)
    new Replicator(spark, eventsCfg, new ParquetStore(spark, srcDir), sink).run()
    val pruned = sink.readWithBuckets("events")
      .filter(col(BucketedLayout.GB).isin(2, 5))
    // the bucket predicate must land in the scan's PartitionFilters
    // (directory-level pruning), not as a post-scan data filter
    val planStr = pruned.queryExecution.executedPlan.toString
    val partFilters = "(?s).*PartitionFilters: \\[(.*?)\\].*".r
    planStr match {
      case partFilters(inside) =>
        assert(inside.contains("graft_bucket"), s"bucket filter not pushed: $inside")
      case _ => fail(s"no PartitionFilters in plan:\n$planStr")
    }
    assert(pruned.count() > 0 && pruned.count() < Tables.events(spark, sfDir).count())
  }

  test("bucketed sink: delete sync rewrites only divergent buckets, drops emptied ones") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val events = Tables.events(spark, sfDir).cache()
    events.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val sink = new BucketedParquetStore(spark, tgtDir, 8)
    new Replicator(spark, eventsCfg, new ParquetStore(spark, srcDir), sink).run()
    val before = partFiles(s"$tgtDir/events.parquet")

    val gb = BucketedLayout.bucketExpr(Seq("event_id"), 8)
    val byBucket = events.select($"event_id", gb.as("gb")).cache()
    // bucket 3: half its rows vanish (rewrite); bucket 6: ALL vanish (drop)
    val victims = byBucket.filter($"gb" === 3 && $"event_id" % 2 === 0)
      .unionByName(byBucket.filter($"gb" === 6))
      .select("event_id").as[Long].collect().toSet
    assert(victims.nonEmpty)
    val evolved = events.filter(!$"event_id".isin(victims.toSeq: _*)).cache()
    evolved.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    new Replicator(spark, eventsCfg, new ParquetStore(spark, srcDir), sink).run()
    val after = partFiles(s"$tgtDir/events.parquet")

    def outside(m: Map[String, (Long, Long)]) =
      m.filter { case (p, _) => !p.contains("graft_bucket=3/") && !p.contains("graft_bucket=6/") }
    assert(outside(after) == outside(before),
      "buckets with no divergence must keep their exact files")
    assert(!after.keySet.exists(_.contains("graft_bucket=6/")), "emptied bucket must be dropped")
    val tgt = sink.read("events")
    assert(tgt.count() == evolved.count())
    assert(tgt.join(evolved, Seq("event_id"), "left_anti").count() == 0)
  }

  /** `n` rows of (id, ver, v): version column apart from the key, so a
    * value update can bump `ver` without touching the key set.
    */
  private def versioned(n: Long) =
    spark.range(n).select($"id", $"id".as("ver"), concat(lit("v"), $"id".cast("string")).as("v"))

  private def versionedCfg(pk: Seq[String] = Seq("id"), where: Option[String] = None) =
    ReplicationConfig(tables = Seq(TableConfig("t", pk, "ver", where = where)))

  /** The target equals `want` as a multiset of rows, both ways. */
  private def assertConverged(tgt: org.apache.spark.sql.DataFrame,
                              want: org.apache.spark.sql.DataFrame): Unit = {
    val got = tgt.select(want.columns.toSeq.map(col): _*)
    assert(got.exceptAll(want).isEmpty, "target holds rows the source does not")
    assert(want.exceptAll(got).isEmpty, "target misses source rows")
  }

  test("bucketed sink: one reconcile poll applies update, insert and delete exactly") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val base = versioned(200).cache()
    base.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val sink = new BucketedParquetStore(spark, tgtDir, 8)
    def poll(): Replicator = {
      val rep = new Replicator(spark, versionedCfg(), new ParquetStore(spark, srcDir), sink)
      rep.run(); rep
    }
    poll()
    val before = partFiles(s"$tgtDir/t.parquet")

    // a value-only update (version bump, same key), a delete and an
    // insert, each in its own bucket
    val gb = BucketedLayout.bucketExpr(Seq("id"), 8)
    val bucketOf = spark.range(1000).select($"id", gb.as("gb")).as[(Long, Int)].collect().toMap
    val updId = 0L
    val delId = (1L until 200L).find(k => bucketOf(k) != bucketOf(updId)).get
    val insId = (200L until 1000L)
      .find(k => !Set(bucketOf(updId), bucketOf(delId)).contains(bucketOf(k))).get
    val touched = Set(updId, delId, insId).map(bucketOf)
    assert(touched.size == 3)
    val evolved = base.filter($"id" =!= delId)
      .withColumn("ver", when($"id" === updId, lit(500L)).otherwise($"ver"))
      .withColumn("v", when($"id" === updId, lit("updated")).otherwise($"v"))
      .unionByName(Seq((insId, 501L, "inserted")).toDF("id", "ver", "v"))
      .cache()
    evolved.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val rep = poll()

    assertConverged(sink.read("t"), evolved)
    val after = partFiles(s"$tgtDir/t.parquet")
    def untouched(m: Map[String, (Long, Long)]) =
      m.filter { case (p, _) => !touched.exists(k => p.contains(s"graft_bucket=$k/")) }
    assert(untouched(before).nonEmpty, "fixture must leave some buckets untouched")
    assert(untouched(after) == untouched(before),
      "buckets with no change must keep their exact files")
    val st = rep.state.get("t")
    assert(st.lastSeenVersion == 501L && st.targetRows == 200L)
  }

  /** The two sink kinds the poll specs below run over. */
  private val sinkKinds: Seq[(String, String => ParquetStore)] = Seq(
    "bucketed sink" -> (dir => new BucketedParquetStore(spark, dir, 8)),
    "flat sink" -> (dir => new ParquetStore(spark, dir)))

  for ((kind, mkSink) <- sinkKinds) {
    test(s"$kind: syncDeletes = false applies updates and keeps deleted rows") {
      val srcDir = tmpDir(); val tgtDir = tmpDir()
      val base = versioned(200).unionByName(nullKeyRow(0L, "null-key")).cache()
      base.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      val sink = mkSink(tgtDir)
      val cfg = versionedCfg().copy(syncDeletes = false)
      new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink).run()

      // the NULL-key row is updated too: its old copy must not stay
      val evolved = base.filter($"id".isNull || $"id" % 10 =!= 3)
        .withColumn("ver", when($"id" === 5L, lit(900L))
          .when($"id".isNull, lit(901L)).otherwise($"ver"))
        .withColumn("v", when($"id" === 5L, lit("updated"))
          .when($"id".isNull, lit("null-key-updated")).otherwise($"v"))
        .cache()
      evolved.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink).run()

      val deleted = base.filter($"id" % 10 === 3)
      assertConverged(sink.read("t"), evolved.unionByName(deleted))
    }

    test(s"$kind: syncUpdates = false converges the key set") {
      val srcDir = tmpDir(); val tgtDir = tmpDir()
      val base = versioned(200).cache()
      base.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      val sink = mkSink(tgtDir)
      new Replicator(spark, versionedCfg(), new ParquetStore(spark, srcDir), sink).run()

      val evolved = base.filter($"id" % 7 =!= 2)
        .unionByName(versioned(230).filter($"id" >= 200))
        .cache()
      evolved.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      new Replicator(spark, versionedCfg().copy(syncUpdates = false),
        new ParquetStore(spark, srcDir), sink).run()

      val keys = sink.read("t").select("id").as[Long].collect()
      assert(keys.length == keys.distinct.length, "no duplicate keys")
      assert(keys.toSet == evolved.select("id").as[Long].collect().toSet)
    }

    test(s"$kind: a where-filtered table converges to the filtered source") {
      val srcDir = tmpDir(); val tgtDir = tmpDir()
      val where = "v NOT LIKE 'x%'"
      val base = versioned(300).cache()
      base.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      val sink = mkSink(tgtDir)
      val cfg = versionedCfg(where = Some(where))
      new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink).run()
      assertConverged(sink.read("t"), base)

      // one update leaves the filter, one stays inside it; inserts on
      // both sides of the filter; deletes
      val evolved = base.filter($"id" % 11 =!= 4)
        .withColumn("ver", when($"id".isin(6L, 7L), lit(1000L) + $"id").otherwise($"ver"))
        .withColumn("v", when($"id" === 6L, lit("x-out"))
          .when($"id" === 7L, lit("still-in")).otherwise($"v"))
        .unionByName(Seq((5000L, 2000L, "x-never"), (5001L, 2001L, "new"))
          .toDF("id", "ver", "v"))
        .cache()
      evolved.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink).run()
      assertConverged(sink.read("t"), evolved.filter(expr(where)))
    }

    test(s"$kind: a composite-pk table converges under update, insert and delete") {
      val srcDir = tmpDir(); val tgtDir = tmpDir()
      val base = versioned(240)
        .select(($"id" % 40).as("a"), expr("id div 40").as("b"), $"ver", $"v").cache()
      base.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      val sink = mkSink(tgtDir)
      val cfg = versionedCfg(pk = Seq("a", "b"))
      new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink).run()
      assertConverged(sink.read("t"), base)

      val evolved = base.filter(!($"a" === 3 && $"b" === 2) && !($"a" === 17))
        .withColumn("ver", when($"a" === 9, $"ver" + 1000L).otherwise($"ver"))
        .withColumn("v", when($"a" === 9, concat($"v", lit("-u"))).otherwise($"v"))
        .unionByName(Seq((3L, 99L, 5000L, "new")).toDF("a", "b", "ver", "v"))
        .cache()
      evolved.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      val rep = new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink)
      rep.run()
      assertConverged(sink.read("t"), evolved)
      assert(rep.state.get("t").lastSeenVersion == 5000L)
    }
  }

  /** Flat parquet sink that logs the table of every `write` call. */
  private class CountingStore(dir: String) extends ParquetStore(spark, dir) {
    private var log = Vector.empty[String]
    override def write(table: String, df: org.apache.spark.sql.DataFrame): Unit = {
      synchronized { log :+= table }
      super.write(table, df)
    }
    /** Tables written since the last call, sorted. */
    def takeWrites(): Seq[String] = synchronized { val w = log.sorted; log = Vector.empty; w }
  }

  test("flat sink: a change poll writes each table once, an idle poll writes nothing") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val t = versioned(300).cache()
    val c = versioned(240)
      .select(($"id" % 40).as("a"), expr("id div 40").as("b"), $"ver", $"v").cache()
    t.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    c.write.mode("overwrite").parquet(s"$srcDir/c.parquet")
    val cfg = ReplicationConfig(tables = Seq(TableConfig("t", Seq("id"), "ver"),
      TableConfig("c", Seq("a", "b"), "ver")), deleteChunkSize = 100)
    val sink = new CountingStore(tgtDir)
    def poll(): Replicator = {
      val rep = new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink)
      rep.run(); rep
    }
    poll()
    assert(sink.takeWrites() == Seq("c", "t"))

    // each table: an insert, a value update and a delete
    val t2 = t.filter($"id" =!= 150L)
      .withColumn("ver", when($"id" === 20L, lit(900L)).otherwise($"ver"))
      .unionByName(Seq((700L, 901L, "new")).toDF("id", "ver", "v")).cache()
    val c2 = c.filter(!($"a" === 5 && $"b" === 1))
      .withColumn("v", when($"a" === 9, lit("u")).otherwise($"v"))
      .withColumn("ver", when($"a" === 9, $"ver" + 1000L).otherwise($"ver"))
      .unionByName(Seq((3L, 99L, 5000L, "new")).toDF("a", "b", "ver", "v")).cache()
    t2.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    c2.write.mode("overwrite").parquet(s"$srcDir/c.parquet")
    val rep = poll()
    assert(sink.takeWrites() == Seq("c", "t"), "one write per table per poll")
    assertConverged(sink.read("t"), t2)
    assertConverged(sink.read("c"), c2)
    assert(rep.state.get("t").lastSeenVersion == 901L && rep.state.get("t").targetRows == 300L)
    assert(rep.state.get("c").lastSeenVersion == 5000L && rep.state.get("c").targetRows == 240L)

    poll()
    assert(sink.takeWrites().isEmpty, "an idle poll writes nothing")
    assertConverged(sink.read("t"), t2)
  }

  test("flat sink: an insert-only poll reloads no range from the source") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val base = versioned(200).cache()
    base.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val sink = new ParquetStore(spark, tgtDir)
    def poll(): Unit = new Replicator(spark, versionedCfg(), new ParquetStore(spark, srcDir), sink).run()
    poll()

    // an insert plus an in-place edit no watermark can see (same
    // version): the one range covering the table must not be reloaded,
    // so the edit stays unseen while the insert arrives via the pull
    val edited = base.withColumn("v", when($"id" === 10L, lit("edited")).otherwise($"v"))
    val inserted = edited.unionByName(Seq((500L, 500L, "new")).toDF("id", "ver", "v")).cache()
    inserted.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    poll()
    assertConverged(sink.read("t"), base.unionByName(Seq((500L, 500L, "new")).toDF("id", "ver", "v")))

    // a delete flags the range: its reload brings the edit along
    val deleted = inserted.filter($"id" =!= 20L).cache()
    deleted.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    poll()
    assertConverged(sink.read("t"), deleted)
  }

  test("flat sink: a String-keyed table converges after an insert, an update and a delete") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val base = versioned(100).select(format_string("sku-%04d", $"id").as("sku"), $"ver", $"v")
      .cache()
    base.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val cfg = versionedCfg(pk = Seq("sku"))
    val sink = new ParquetStore(spark, tgtDir)
    new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink).run()

    val evolved = base.filter($"sku" =!= "sku-0007")
      .withColumn("ver", when($"sku" === "sku-0003", lit(500L)).otherwise($"ver"))
      .withColumn("v", when($"sku" === "sku-0003", lit("updated")).otherwise($"v"))
      .unionByName(Seq(("sku-9999", 501L, "new")).toDF("sku", "ver", "v")).cache()
    evolved.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val rep = new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink)
    rep.run()
    assertConverged(sink.read("t"), evolved)
    assert(rep.state.get("t").lastSeenVersion == 501L)
  }

  private def nullKeyRow(ver: Long, v: String) =
    Seq((Option.empty[Long], ver, v)).toDF("id", "ver", "v")

  /** A flat-sink table of 200 keyed rows plus one NULL-key row, synced,
    * then `evolve`d at the source and polled once more: asserts the
    * target converged and returns it. */
  private def nullKeyPoll(evolve: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val base = versioned(200).unionByName(nullKeyRow(0L, "null-key")).cache()
    base.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    val cfg = versionedCfg().copy(deleteChunkSize = 100)
    val sink = new ParquetStore(spark, tgtDir)
    new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink).run()

    val evolved = evolve(base).cache()
    evolved.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink).run()
    assertConverged(sink.read("t"), evolved)
    sink.read("t")
  }

  test("flat sink: a NULL-key row survives a delete sync in its table exactly once") {
    // key 5 lives in range 0; the NULL key has a range of its own
    val tgt = nullKeyPoll(_.filter($"id".isNull || $"id" =!= 5L))
    assert(tgt.filter($"id".isNull).count() == 1)
  }

  test("flat sink: an updated NULL-key row is replaced, not appended") {
    // the update passes the watermark; the merge matches its NULL key
    val tgt = nullKeyPoll(_ => versioned(200).unionByName(nullKeyRow(500L, "null-key-updated")))
    assert(tgt.filter($"id".isNull).select($"v").as[String].collect().toSeq ==
      Seq("null-key-updated"))
  }

  test("flat sink: a NULL-key row deleted at the source leaves the target") {
    val tgt = nullKeyPoll(_.filter($"id".isNotNull))
    assert(tgt.filter($"id".isNull).isEmpty)
  }

  test("replicator: multi-table sync runs concurrently and converges both tables") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val events = Tables.events(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    events.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    orders.write.mode("overwrite").parquet(s"$srcDir/orders.parquet")
    val cfg = ReplicationConfig(tables = Seq(
      TableConfig("events", Seq("event_id"), "event_id"),
      TableConfig("orders", Seq("o_orderkey"), "o_orderkey")),
      deleteChunkSize = 100)
    val rep = new Replicator(spark, cfg, srcDir, tgtDir)
    rep.run()
    assert(spark.read.parquet(s"$tgtDir/events.parquet").count() == events.count())
    assert(spark.read.parquet(s"$tgtDir/orders.parquet").count() == orders.count())
    // both watermarks survived the concurrent state writes
    assert(rep.state.get("events").lastSeenVersion == 999L)
    assert(rep.state.get("orders").lastSeenVersion ==
      orders.agg(max($"o_orderkey")).head().getLong(0))
  }

  test("replicator: csv source to parquet sink converges") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value") // csv-safe columns
    events.write.option("header", "true").mode("overwrite")
      .csv(s"$srcDir/events.csv")
    val csvSource = new FormatStore(spark, srcDir, "csv",
      readOptions = Map("header" -> "true", "inferSchema" -> "true"))
    val rep = new Replicator(spark, eventsCfg, csvSource, new ParquetStore(spark, tgtDir))
    rep.run()
    val tgt = spark.read.parquet(s"$tgtDir/events.parquet")
    assert(tgt.count() == events.count())
    assert(rep.state.get("events").lastSeenVersion == 999L)
  }

  test("replicator: updateChunkSize bounds written partition sizes") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val events = Tables.events(spark, sfDir)
    events.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    new Replicator(spark, eventsCfg.copy(updateChunkSize = 100), srcDir, tgtDir).run()
    val files = new java.io.File(s"$tgtDir/events.parquet")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 10, s"1000 rows / chunk 100 should write 10 files, got $files")
  }

  test("replicator: schema drift aborts without resyncOnSchemaChange, resyncs with it") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val events = Tables.events(spark, sfDir)
    events.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    new Replicator(spark, eventsCfg, srcDir, tgtDir).run()

    events.withColumn("extra", lit(1)).write.mode("overwrite")
      .parquet(s"$srcDir/events.parquet")
    intercept[IllegalStateException] {
      new Replicator(spark, eventsCfg, srcDir, tgtDir).run()
    }
    new Replicator(spark, eventsCfg.copy(resyncOnSchemaChange = true), srcDir, tgtDir).run()
    assert(spark.read.parquet(s"$tgtDir/events.parquet").columns.contains("extra"))
  }

  test("replicator: filtered table dependency loop detected") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    Tables.events(spark, sfDir).write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    Tables.orders(spark, sfDir).write.mode("overwrite").parquet(s"$srcDir/orders.parquet")
    val cfg = ReplicationConfig(tables = Seq(
      TableConfig("events", Seq("event_id"), "event_id", uses = Seq("orders")),
      TableConfig("orders", Seq("o_orderkey"), "o_orderkey", uses = Seq("events"))))
    intercept[IllegalStateException] { new Replicator(spark, cfg, srcDir, tgtDir).run() }
  }

  test("replicator: where-clause drift without resync flag aborts") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    Tables.events(spark, sfDir).write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    def cfg(w: Option[String]) = ReplicationConfig(tables =
      Seq(TableConfig("events", Seq("event_id"), "event_id", where = w)))
    new Replicator(spark, cfg(Some("event_type <> 'error'")), srcDir, tgtDir).run()
    intercept[IllegalStateException] {
      new Replicator(spark, cfg(Some("event_type = 'click'")), srcDir, tgtDir).run()
    }
  }

  test("catalog sink: replicator cycles converge through a bucketed managed table") {
    val srcDir = tmpDir()
    val events = Tables.events(spark, sfDir).cache()
    events.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val layout = SchemaSync.layoutFor(
      Seq(SchemaSync.IndexSpec("events_pkey", primary = true, Seq("event_id")),
        SchemaSync.IndexSpec("events_user_idx", primary = false, Seq("user_id"))), 8).get
    val sink = new CatalogStore(spark, Map("events" -> layout),
      statePath = s"${tmpDir()}/state", tablePrefix = "cdcspec_")
    val rep = new Replicator(spark, eventsCfg, new ParquetStore(spark, srcDir), sink)
    rep.run()
    assert(sink.read("events").count() == events.count())
    // the catalog records the bucket spec the layout derived
    val desc = spark.sql("DESCRIBE TABLE EXTENDED cdcspec_events").collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}").mkString("\n")
    assert(desc.contains("Num Buckets") && desc.contains("8"), desc)
    assert(desc.contains("event_id"), "bucket column must be the primary key")

    // incremental cycle: new rows + a deletion still converge
    val extra = events.limit(30).withColumn("event_id", $"event_id" + 40000L)
    val evolved = events.filter($"event_id" % 53 =!= 0).unionByName(extra).cache()
    evolved.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    new Replicator(spark, eventsCfg, new ParquetStore(spark, srcDir), sink).run()
    val tgt = sink.read("events")
    assert(tgt.count() == evolved.count())
    assert(tgt.join(evolved, Seq("event_id"), "left_anti").count() == 0)
  }

  test("catalog sink: crash between DROP and RENAME recovers on next touch") {
    val store = new CatalogStore(spark, Map.empty,
      statePath = s"${tmpDir()}/state", tablePrefix = "crashspec_")
    try {
      store.write("t", Seq((1L, "old"), (2L, "old")).toDF("id", "v"))

      // simulate the crash window: the NEXT version is fully staged,
      // the live table is dropped, the writer dies before the RENAME
      Seq((1L, "new"), (2L, "new"), (3L, "new")).toDF("id", "v")
        .write.format("parquet").saveAsTable("__staging_crashspec_t")
      spark.sql("DROP TABLE `crashspec_t`")

      // the next touch publishes the staged (complete) version
      assert(store.exists("t"), "recovery must re-publish the staged table")
      val rows = store.read("t").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "new"), (2L, "new"), (3L, "new")))
      assert(!spark.catalog.tableExists("__staging_crashspec_t"))

      // and the store still takes ordinary writes afterwards
      store.write("t", Seq((9L, "x")).toDF("id", "v"))
      assert(store.read("t").as[(Long, String)].collect().toSet == Set((9L, "x")))
    } finally {
      spark.sql("DROP TABLE IF EXISTS `crashspec_t`")
      spark.sql("DROP TABLE IF EXISTS `__staging_crashspec_t`")
    }
  }

  test("jdbc store: reader/writer option assembly and query-vs-dbtable precedence") {
    val store = new JdbcStore(spark, "jdbc:postgresql://db:5432/x",
      connProps = Map("user" -> "u", "password" -> "p", "driver" -> "org.postgresql.Driver"),
      checkpointDir = tmpDir(),
      extraOptions = Map("partitionColumn" -> "id", "numPartitions" -> "16",
        "lowerBound" -> "0", "upperBound" -> "1000000"))
    val r = store.readerOptions(None, Some("events"))
    assert(r("url") == "jdbc:postgresql://db:5432/x")
    assert(r("dbtable") == "events" && !r.contains("query"))
    assert(r("user") == "u" && r("driver") == "org.postgresql.Driver")
    // parallel-extraction options must pass through to the jdbc source
    assert(r("partitionColumn") == "id" && r("numPartitions") == "16")
    val q = store.readerOptions(Some("SELECT 1"), Some("ignored"))
    assert(q("query") == "SELECT 1" && !q.contains("dbtable"),
      "query must win over dbtable — jdbc rejects both together")
    intercept[IllegalArgumentException](store.readerOptions(None, None))
    val w = store.writerOptions("events")
    assert(w("truncate") == "true" && w("dbtable") == "events" && w("user") == "u")
  }

  test("jdbc store: staged write materializes before save and cleans up after") {
    val ckpt = tmpDir()
    var saved: Option[(Long, String)] = None
    var stagedExistedAtSave = false
    val store = new JdbcStore(spark, "jdbc:postgresql://db:5432/x",
      Map("user" -> "u"), ckpt) {
      override protected def jdbcSave(staged: org.apache.spark.sql.DataFrame,
                                      table: String): Unit = {
        // at save time the frame must already be parquet-backed (not a
        // plan over the jdbc table being truncated) and fully staged
        stagedExistedAtSave = graft.util.Fs.existsNonEmpty(spark, stagingPath(table))
        assert(staged.inputFiles.forall(_.contains("__staging_")),
          "save must read the STAGED copy, not the source plan")
        saved = Some((staged.count(), table))
      }
    }
    val df = Tables.events(spark, sfDir).limit(123)
    store.write("events", df)
    assert(stagedExistedAtSave, "staging parquet must exist when the jdbc save runs")
    assert(saved.contains((123L, "events")))
    assert(!graft.util.Fs.existsNonEmpty(spark, store.stagingPath("events")),
      "staging must be cleaned up after the save")
  }

  test("jdbc store: exists() degrades to false on an unreachable database") {
    val store = new JdbcStore(spark, "jdbc:postgresql://127.0.0.1:1/nope",
      Map("connectTimeout" -> "1"), tmpDir())
    assert(!store.exists("whatever"))
  }

  test("jdbc store: index extraction from recorded metadata derives the catalog layout") {
    import java.lang.reflect.Proxy
    import graft.cdc.{JdbcIndexes, SchemaSync}
    def proxy[T](cls: Class[T])(h: PartialFunction[(String, Seq[AnyRef]), AnyRef]): T =
      Proxy.newProxyInstance(cls.getClassLoader, Array[Class[_]](cls),
        (_, m, args) => {
          val a = Option(args).map(_.toSeq).getOrElse(Seq.empty)
          h.applyOrElse((m.getName, a), (_: (String, Seq[AnyRef])) => null)
        }).asInstanceOf[T]
    // a forward-only cursor over recorded metadata rows
    def rsOf(rows: Seq[Map[String, Any]]): java.sql.ResultSet = {
      var i = -1
      proxy(classOf[java.sql.ResultSet]) {
        case ("next", _) => i += 1; java.lang.Boolean.valueOf(i < rows.length)
        case ("getString", Seq(k: String)) =>
          rows(i).getOrElse(k, null).asInstanceOf[AnyRef] match {
            case null => null; case v => v.toString
          }
        case ("getInt", Seq(k: String)) => Integer.valueOf(rows(i)(k).asInstanceOf[Int])
      }
    }
    // recorded from the shape Postgres metadata takes for an events
    // table: pk, its backing unique index (same name), a redundant
    // unique index on the pk column (other name), one single-column
    // and one composite secondary index, and a statistics row
    val pkRows = Seq(Map[String, Any]("COLUMN_NAME" -> "event_id",
      "KEY_SEQ" -> 1, "PK_NAME" -> "events_pkey"))
    val idxRows = Seq(
      Map[String, Any]("INDEX_NAME" -> null, "COLUMN_NAME" -> null,
        "ORDINAL_POSITION" -> 0), // tableIndexStatistic
      Map[String, Any]("INDEX_NAME" -> "events_lower_src_idx",
        "COLUMN_NAME" -> null, "ORDINAL_POSITION" -> 1), // functional index
      Map[String, Any]("INDEX_NAME" -> "events_pkey",
        "COLUMN_NAME" -> "event_id", "ORDINAL_POSITION" -> 1),
      Map[String, Any]("INDEX_NAME" -> "events_id_unique",
        "COLUMN_NAME" -> "event_id", "ORDINAL_POSITION" -> 1),
      Map[String, Any]("INDEX_NAME" -> "events_user_idx",
        "COLUMN_NAME" -> "user_id", "ORDINAL_POSITION" -> 1),
      Map[String, Any]("INDEX_NAME" -> "events_type_ts_idx",
        "COLUMN_NAME" -> "ts", "ORDINAL_POSITION" -> 2),
      Map[String, Any]("INDEX_NAME" -> "events_type_ts_idx",
        "COLUMN_NAME" -> "event_type", "ORDINAL_POSITION" -> 1))
    val md = proxy(classOf[java.sql.DatabaseMetaData]) {
      case ("getPrimaryKeys", Seq(_, _, t)) => assert(t == "events"); rsOf(pkRows)
      case ("getIndexInfo", _) => rsOf(idxRows)
    }
    val conn = proxy(classOf[java.sql.Connection]) {
      case ("getMetaData", _) => md
    }
    val store = new JdbcStore(spark, "jdbc:postgresql://db:5432/x",
      Map("user" -> "u"), tmpDir()) {
      override protected def withConnection[T](f: java.sql.Connection => T): T = f(conn)
    }

    val specs = store.extractIndices("events")
    assert(specs == Seq(
      SchemaSync.IndexSpec("events_pkey", primary = true, Seq("event_id")),
      SchemaSync.IndexSpec("events_type_ts_idx", primary = false,
        Seq("event_type", "ts")),
      SchemaSync.IndexSpec("events_user_idx", primary = false, Seq("user_id"))),
      s"got $specs")

    // the derived layout is exactly what the CatalogStore applies:
    // pk → bucket columns, secondary index columns → sort order
    val layout = store.layoutFor("events", 8).get
    assert(layout == SchemaSync.TableLayout(Seq("event_id"), 8,
      Seq("event_type", "ts", "user_id")))

    // pk-less table → no layout (nothing to bucket by)
    assert(JdbcIndexes.indexSpecs("t", Nil, None, Nil).isEmpty)
    assert(SchemaSync.layoutFor(
      JdbcIndexes.indexSpecs("t", Nil, None,
        Seq(("t_x_idx", "x", 1))), 8).isEmpty)
  }

  test("state store: restart seq seeds above existing records (clock-step safe)") {
    val dir = s"${tmpDir()}/state"
    val store = new StateStore(spark, dir)
    store.setVersion("t", 1L)
    // simulate records written under a FASTER clock (or: this process
    // restarted after a backwards clock step) — a log whose seq is far
    // above anything the current wall clock would allocate
    val highSeq = System.currentTimeMillis() * 1000000L * 2
    val f = new java.io.File(dir, s"log-$highSeq-zz.json")
    val w = new java.io.FileWriter(f)
    try w.write(s"""{"table_name": "t", "last_seen_version": 99, "seq": $highSeq}\n""")
    finally w.close()
    assert(store.get("t").lastSeenVersion == 99L)

    // a RESTARTED store must seed above the existing max, so its next
    // append supersedes record 99 instead of being silently outranked
    val restarted = new StateStore(spark, dir)
    restarted.setVersion("t", 100L)
    assert(restarted.get("t").lastSeenVersion == 100L,
      "fresh append lost to a stale high-seq record")
  }

  test("state store: legacy parquet state dir fails loudly, never resets watermarks") {
    val dir = s"${tmpDir()}/state"
    spark.range(3).toDF("last_seen_version").write.parquet(dir)
    val store = new StateStore(spark, dir)
    val e = intercept[IllegalStateException](store.get("t"))
    assert(e.getMessage.contains("legacy"), e.getMessage)
  }

  test("state store: 16 concurrent writers lose nothing, compaction included") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val dir = s"${tmpDir()}/state"
    val store = new StateStore(spark, dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 16 writers × 6 appends = 96 records → crosses the 64-file
      // compaction threshold WHILE other writers are appending
      val jobs = (1 to 16).map { t => Future {
        (1 to 5).foreach(v => store.setVersion(s"t$t", v * 100L + t))
        store.setWhere(s"t$t", s"w$t")
      }}
      Await.result(Future.sequence(jobs), Duration.Inf)
    } finally pool.shutdown()
    (1 to 16).foreach { t =>
      val st = store.get(s"t$t")
      assert(st.lastSeenVersion == 500L + t, s"t$t watermark lost: $st")
      assert(st.whereClause == s"w$t", s"t$t where lost: $st")
    }
    assert(store.all().size == 16)
    val logs = new java.io.File(dir).list().count(n => n.startsWith("log-") && n.endsWith(".json"))
    assert(logs <= 65, s"$logs log files after 96 appends: compaction must bound the log")
  }

  test("replicator: 16 tables sync concurrently with no lost watermark") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val events = Tables.events(spark, sfDir).cache()
    val slices = (0 until 16).map(i => i -> events.filter($"event_id" % 16 === i).cache())
    slices.foreach { case (i, df) =>
      df.write.mode("overwrite").parquet(s"$srcDir/slice$i.parquet")
    }
    val cfg = ReplicationConfig(tables = slices.map { case (i, _) =>
      TableConfig(s"slice$i", Seq("event_id"), "event_id")
    })
    val rep = new Replicator(spark, cfg, srcDir, tgtDir)
    rep.run()
    slices.foreach { case (i, df) =>
      assert(spark.read.parquet(s"$tgtDir/slice$i.parquet").count() == df.count())
      val expected = df.agg(max($"event_id")).head().getLong(0)
      assert(rep.state.get(s"slice$i").lastSeenVersion == expected,
        s"slice$i watermark lost")
    }
  }

  test("replicator: records the target row count so idle cycles skip the target scan") {
    val srcDir = tmpDir(); val tgtDir = tmpDir()
    val events = Tables.events(spark, sfDir).cache()
    events.write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val rep = new Replicator(spark, eventsCfg, srcDir, tgtDir)
    rep.run()
    assert(rep.state.get("events").targetRows == events.count(),
      "full copy must record the written row count")

    // incremental append refreshes the recorded count
    val extra = events.limit(10).withColumn("event_id", $"event_id" + 60000L)
    events.unionByName(extra).write.mode("overwrite").parquet(s"$srcDir/events.parquet")
    val rep2 = new Replicator(spark, eventsCfg, srcDir, tgtDir)
    rep2.run()
    assert(rep2.state.get("events").targetRows == events.count() + 10)

    // a stale-looking recorded count must still trigger the full copy
    rep2.state.setTargetRows("events", 1L)
    val rep3 = new Replicator(spark, eventsCfg, srcDir, tgtDir)
    rep3.run()
    assert(rep3.state.get("events").targetRows == events.count() + 10,
      "fullCopyThreshold decision must consult the recorded count and resync")
  }

  test("state store: upsert and read-back semantics") {
    val store = new StateStore(spark, s"${tmpDir()}/state")
    assert(store.get("t1").isEmpty)
    store.setVersion("t1", 42L)
    store.setWhere("t1", "x > 0")
    store.setVersion("t2", 7L)
    assert(store.get("t1").lastSeenVersion == 42L)
    assert(store.get("t1").whereClause == "x > 0")
    assert(store.get("t2").lastSeenVersion == 7L)
    store.setVersion("t1", 43L)
    assert(store.get("t1").lastSeenVersion == 43L)
    assert(store.all().size == 2)
    // quotes, a backslash, control characters and non-ASCII text
    val where = "a = \"q\" AND b LIKE 'x\\y'\n\tAND c = '\u0001' AND d = 'é漢字'"
    store.setWhere("t2", where)
    assert(store.get("t2") == store.TableState(7L, where))
  }

  /** Spark work `f` starts on this thread and the threads it creates:
    * its jobs, those of them that run outside any SQL query (the
    * footer read that resolves a parquet frame) and the task count of
    * every stage that ran.
    */
  private case class SparkWork(jobs: Int, footerJobs: Int, stageTasks: Seq[Int])

  private def sparkWorkOf(f: => Unit): SparkWork = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    // (job group, outside any SQL query) per started job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val probeStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          jobs.add(g -> props.forall(_.getProperty("spark.sql.execution.id") == null))
          if (g == "probe") e.stageIds.foreach(id => probeStages.add(id))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (probeStages.contains(e.stageInfo.stageId)) stageTasks.add(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("probe", "probe", interruptOnCancel = false)
      f
      // the listener bus is asynchronous and ordered: once a later
      // marker job is seen, every job `f` started has been too
      sc.setJobGroup("marker", "marker", interruptOnCancel = false)
      sc.parallelize(0 until 1, 1).count()
      def markerSeen = jobs.asScala.exists(_._1 == "marker")
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(50)
      assert(markerSeen)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    val probe = jobs.asScala.toSeq.collect { case ("probe", outsideSql) => outsideSql }
    SparkWork(probe.size, probe.count(identity), stageTasks.asScala.toSeq.map(_.toInt))
  }

  test("state store: reads and compaction start no Spark job") {
    val dir = s"${tmpDir()}/state"
    val store = new StateStore(spark, dir)
    (1 to 64).foreach(i => store.setVersion(s"t${i % 4}", i.toLong))
    def logs() = new java.io.File(dir).list().count(_.endsWith(".json"))
    assert(logs() == 64)
    val started = sparkWorkOf {
      assert(store.all().size == 4)
      assert(store.get("t1").lastSeenVersion == 61L)
      store.setTargetRows("t1", 10L) // the 65th file: compacts the log
    }.jobs
    assert(logs() == 1, "the append must have compacted the log")
    assert(store.get("t1") == store.TableState(61L, "", 10L))
    assert(started == 0, s"$started Spark jobs")
  }

  /** Spark jobs of a change poll and of an idle poll of one table, per
    * sink kind; resolving the source or the target a second time adds
    * a footer job to either.
    */
  private val pollJobs = Map("bucketed sink" -> (6, 4), "flat sink" -> (12, 7))

  for ((kind, mkSink) <- sinkKinds) {
    test(s"$kind: a cycle resolves each table's source and target once") {
      val srcDir = tmpDir(); val tgtDir = tmpDir()
      val base = versioned(300).cache()
      base.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      val rep = new Replicator(spark, versionedCfg(), new ParquetStore(spark, srcDir), mkSink(tgtDir))
      rep.run()
      val evolved = base.filter($"id" % 9 =!= 4)
        .withColumn("ver", when($"id" % 10 === 0, $"ver" + 500L).otherwise($"ver"))
        .unionByName(versioned(5).select(($"id" + 300L).as("id"), ($"ver" + 600L).as("ver"), $"v"))
        .cache()
      evolved.write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      val change = sparkWorkOf(rep.run())
      assertConverged(mkSink(tgtDir).read("t"), evolved)
      val idle = sparkWorkOf(rep.run())
      assertConverged(mkSink(tgtDir).read("t"), evolved)
      // one footer job for the source, one for the target
      assert(change.footerJobs == 2 && idle.footerJobs == 2, s"change $change, idle $idle")
      assert((change.jobs, idle.jobs) == pollJobs(kind), s"change $change, idle $idle")
    }
  }

  test("state store: a compacted multi-record log file reads back") {
    // a compacted file as earlier versions wrote it, byte for byte
    val dir = s"${tmpDir()}/state"
    new java.io.File(dir).mkdirs()
    def write(name: String, content: String): Unit =
      Files.write(new java.io.File(dir, name).toPath, content.getBytes("UTF-8"))
    write("log-100-0a1b2c3d.json",
      "{\"table_name\": \"t\", \"last_seen_version\": 5, " +
        "\"where_clause\": \"a = \\\"q\\\"\\n\\u0001\", \"target_rows\": 10, \"seq\": 100}\n" +
        "{\"table_name\": \"u\", \"last_seen_version\": 7, \"where_clause\": \"\", \"seq\": 100}\n")
    write("log-101-4e5f6a7b.json", """{"table_name": "t", "last_seen_version": 6, "seq": 101}""" + "\n")
    val store = new StateStore(spark, dir)
    assert(store.all() == Map(
      "t" -> store.TableState(6L, "a = \"q\"\n\u0001", 10L),
      "u" -> store.TableState(7L, "", -1L)))
    store.setVersion("u", 8L)
    assert(store.get("u").lastSeenVersion == 8L)
  }

  test("state store: a log line that does not parse fails the read, naming its file") {
    val dir = s"${tmpDir()}/state"
    val store = new StateStore(spark, dir)
    store.setVersion("t", 5L)
    val bad = new java.io.File(dir, "log-1-deadbeef.json")
    Files.write(bad.toPath, "{\"table_name\": \"t\", \"last_se\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](store.get("t"))
    assert(e.getMessage.contains("log-1-deadbeef.json"), e.getMessage)
  }

  test("schema sync: ddl rendering and drift policy") {
    val schema = Tables.orders(spark, sfDir).schema
    val d = SchemaSync.ddl("orders", schema)
    assert(d.startsWith("create table orders("))
    assert(d.contains("o_orderkey bigint"))
    assert(SchemaSync.compare("orders", schema, Some(schema)) == SchemaSync.InSync)
    assert(SchemaSync.decide(SchemaSync.TargetMissing, false) == SchemaSync.CreateTarget)
    val drifted = org.apache.spark.sql.types.StructType(schema.fields.reverse)
    val cmp = SchemaSync.compare("orders", schema, Some(drifted))
    assert(cmp.isInstanceOf[SchemaSync.Mismatch])
    assert(SchemaSync.decide(cmp, true) == SchemaSync.ForceResync)
    assert(SchemaSync.decide(cmp, false) == SchemaSync.Abort)
  }

  test("index layout: primary index buckets the table; bucketed join plans without shuffle") {
    val layout = SchemaSync.layoutFor(Seq(
      SchemaSync.IndexSpec("events_pkey", primary = true, Seq("event_id")),
      SchemaSync.IndexSpec("events_user_idx", primary = false, Seq("user_id"))), 8).get
    assert(layout.ddlFragment ==
      "clustered by (event_id) sorted by (user_id) into 8 buckets")

    val events = Tables.events(spark, sfDir).select("event_id", "user_id", "value")
    spark.sql("drop table if exists bkt_a"); spark.sql("drop table if exists bkt_b")
    layout.applyTo(events.write.mode("overwrite")).saveAsTable("bkt_a")
    layout.applyTo(events.write.mode("overwrite")).saveAsTable("bkt_b")

    // identically-bucketed join on the bucket key: no shuffle on either side
    val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "event_id")
    joined.count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
  }

  test("merge upsert: last-writer-wins and preserves unmatched rows") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val upd = Seq((2L, "B"), (4L, "D")).toDF("id", "v")
    val out = Merge.upsert(base, upd, Seq("id")).as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))

    // a NULL key is one key: its update replaces the old row, its
    // delete removes it
    val nBase = Seq((Some(1L), "a"), (None, "n")).toDF("id", "v")
    val nUpd = Seq((Option.empty[Long], "N")).toDF("id", "v")
    assert(Merge.upsert(nBase, nUpd, Seq("id")).as[(Option[Long], String)].collect().toSet ==
      Set((Some(1L), "a"), (None, "N")))
    assert(Merge.applyDeletes(nBase, nUpd, Seq("id")).as[(Option[Long], String)].collect().toSeq ==
      Seq((Some(1L), "a")))
    // the same on a base bucketed on the key, which the merge reads in place
    val layout = SchemaSync.layoutFor(
      Seq(SchemaSync.IndexSpec("t_pkey", primary = true, Seq("id"))), 4).get
    val store = new CatalogStore(spark, Map("t" -> layout),
      statePath = s"${tmpDir()}/state", tablePrefix = "mergespec_")
    store.write("t", nBase)
    assert(Merge.upsert(store.read("t"), nUpd, Seq("id")).as[(Option[Long], String)]
      .collect().toSet == Set((Some(1L), "a"), (None, "N")))
    assert(Merge.applyDeletes(store.read("t"), nUpd, Seq("id")).as[(Option[Long], String)]
      .collect().toSeq == Seq((Some(1L), "a")))
  }

  test("latestByKey collapses a multi-row change batch to the highest version per PK") {
    val batch = Seq(
      (1L, 5L, "old"), (1L, 9L, "new"), (1L, 7L, "mid"),
      (2L, 3L, "only")).toDF("id", "ver", "v")
    val out = Merge.latestByKey(batch, Seq("id"), "ver")
      .as[(Long, Long, String)].collect().toSet
    assert(out == Set((1L, 9L, "new"), (2L, 3L, "only")))
    // column order preserved for unionByName-free callers
    assert(Merge.latestByKey(batch, Seq("id"), "ver").columns.toSeq ==
      Seq("id", "ver", "v"))
  }

  test("pkTuple is injective for separator-ambiguous and NULL-shifted composite keys") {
    def hashOf(rows: Seq[(String, String, String)]): Seq[String] =
      rows.toDF("a", "b", "c")
        .select(md5(RangeHashDiff.pkTuple(Seq("a", "b", "c"))).as("h"))
        .as[String].collect().toSeq
    // ('a|b','c',·) vs ('a','b|c',·): raw concat_ws would collide
    val sep = hashOf(Seq(("a|b", "c", "z"), ("a", "b|c", "z")))
    assert(sep.distinct.size == 2, "separator-ambiguous tuples must hash differently")
    // ('x',NULL,'y') vs ('x','y',NULL): concat_ws silently drops NULLs
    val nulls = Seq(("x", null, "y"), ("x", "y", null))
      .toDF("a", "b", "c")
      .select(md5(RangeHashDiff.pkTuple(Seq("a", "b", "c"))).as("h"))
      .as[String].collect().toSeq
    assert(nulls.distinct.size == 2, "NULL-shifted tuples must hash differently")
  }

  test("snapshot diff detects a value moving into a NULL column") {
    val old = Seq((1L, Some("a"), None: Option[String])).toDF("id", "x", "y")
    val neu = Seq((1L, None: Option[String], Some("a"))).toDF("id", "x", "y")
    val out = SnapshotDiff.diff(old, neu, Seq("id")).as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "update"))
  }

  test("snapshot diff classifies insert/update/delete") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val neu = Seq((2L, "B"), (3L, "c"), (4L, "d")).toDF("id", "v")
    val out = SnapshotDiff.diff(old, neu, Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "delete", 2L -> "update", 4L -> "insert"))
  }

  test("three-way merge: every outcome class, convergent writes agree, null-shift conflicts") {
    val base = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, Some("c")), (4L, Some("d")),
      (5L, Some("e")), (6L, Some("f")), (7L, Some("g")), (8L, None: Option[String])
    ).toDF("id", "v")
    val left = Seq(
      (1L, Some("a")),            // untouched
      (2L, Some("B")),            // left-only update
      (3L, Some("c")),            // right updates this one
      (4L, Some("X")),            // both update, differently -> conflict
      (5L, Some("same")),         // both update identically -> agree
      // 6 deleted on both sides -> agree
      (7L, Some("L")),            // left updates, right deletes -> conflict
      (8L, Some("x")),            // NULL -> value vs value stays NULL
      (10L, Some("new")),         // both insert same -> agree
      (11L, Some("li"))           // left-only insert
    ).toDF("id", "v")
    val right = Seq(
      (1L, Some("a")),
      (2L, Some("b")),
      (3L, Some("C")),
      (4L, Some("Y")),
      (5L, Some("same")),
      // 6 deleted
      // 7 deleted
      (8L, None: Option[String]), // right untouched on the null row
      (10L, Some("new")),
      (12L, Some("ri"))           // right-only insert
    ).toDF("id", "v")
    def run(b: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame,
            r: org.apache.spark.sql.DataFrame) =
      SnapshotDiff.threeWay(b, l, r, Seq("id"))
        .as[(Long, String)].collect().toMap
    val got = run(base, left, right)
    assert(got == Map(
      2L -> "left", 3L -> "right", 4L -> "conflict", 5L -> "agree",
      6L -> "agree", 7L -> "conflict", 8L -> "left",
      10L -> "agree", 11L -> "left", 12L -> "right"))
    assert(run(base.repartition(5), left.repartition(3), right.repartition(2))
      == got, "classification owes nothing to layout")

    // resolution over the same scenario: prefer-left vs prefer-right
    // flip exactly the conflict keys (4: X vs Y; 7: update vs delete),
    // everything else resolves identically
    def resolve(preferLeft: Boolean) =
      SnapshotDiff.threeWayResolve(base, left, right, Seq("id"), preferLeft)
        .as[(Long, Option[String])].collect().toMap
    val pl = resolve(preferLeft = true)
    assert(pl == Map(
      1L -> Some("a"),      // unchanged
      2L -> Some("B"),      // clean left update
      3L -> Some("C"),      // clean right update
      4L -> Some("X"),      // conflict -> left
      5L -> Some("same"),   // agree
      // 6: both deleted -> absent; 7: conflict -> left's update
      7L -> Some("L"),
      8L -> Some("x"),      // clean left null->value
      10L -> Some("new"), 11L -> Some("li"), 12L -> Some("ri")),
      s"prefer-left merge: $pl")
    val pr = resolve(preferLeft = false)
    assert(pr == pl - 7L - 4L + (4L -> Some("Y")),
      s"prefer-right must flip only the conflicts: $pr")
  }

  test("column diff: changed cells only, null shifts both ways, unchanged keys never join") {
    val old = Seq(
      (1L, Some("a"), Some(10L)),   // untouched
      (2L, Some("b"), Some(20L)),   // one cell changes
      (3L, Some("c"), Some(30L)),   // both cells change
      (4L, None: Option[String], Some(40L)), // null -> value
      (5L, Some("e"), Some(50L))    // value -> null
    ).toDF("id", "s", "v")
    val neu = Seq(
      (1L, Some("a"), Some(10L)),
      (2L, Some("B"), Some(20L)),
      (3L, Some("C"), Some(31L)),
      (4L, Some("d"), Some(40L)),
      (5L, Some("e"), None: Option[Long]),
      (6L, Some("ins"), Some(60L))  // insert: not a cell change
    ).toDF("id", "s", "v")
    val got = SnapshotDiff.columnDiff(old, neu, Seq("id"), Seq("s", "v"))
      .as[(Long, String, Option[String], Option[String])].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(got == Map(
      (2L, "s") -> (Some("b"), Some("B")),
      (3L, "s") -> (Some("c"), Some("C")),
      (3L, "v") -> (Some("30"), Some("31")),
      (4L, "s") -> (None, Some("d")),
      (5L, "v") -> (Some("50"), None)), s"cells: $got")
    assert(SnapshotDiff.columnDiff(old.repartition(3), neu.repartition(2),
        Seq("id"), Seq("s", "v"))
      .as[(Long, String, Option[String], Option[String])].collect().length
      == got.size)
  }

  test("column diff then apply is the identity on shared keys") {
    val old = Seq(
      (1L, Some("a"), Some(10L)), (2L, Some("b"), Some(20L)),
      (3L, None: Option[String], Some(30L)), (4L, Some("d"), Some(40L))
    ).toDF("id", "s", "v")
    val neu = Seq(
      (1L, Some("a"), Some(10L)),              // untouched
      (2L, Some("B"), None: Option[Long]),     // change + value->null
      (3L, Some("c"), Some(30L)),              // null->value
      (4L, Some("D"), Some(41L))               // both cells
    ).toDF("id", "s", "v")
    val log = SnapshotDiff.columnDiff(old, neu, Seq("id"), Seq("s", "v"))
    val applied = SnapshotDiff.applyCellChanges(old, log, Seq("id"),
        Seq("s", "v"))
      .as[(Long, Option[String], Option[Long])].collect().sortBy(_._1).toSeq
    val want = neu.as[(Long, Option[String], Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(applied == want, s"apply(diff) must reproduce the target: $applied")
  }

  test("chunk plan: equal depth on skewed keys, whole-tie placement, exact range partition") {
    import spark.implicits._
    // skewed key space: a dense early era, a deleted middle, a hot
    // sparse tail — equal-width chunking would misbalance badly
    val keys = (0L until 800L) ++ (100000L to 100200L) ++
      (500000L until 500000L + 999L)
    val df = keys.toDF("id")
    val plan = ChangeCapture.chunkPlan(df, "id", 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(plan.map(_._1) == (0L until 10L).toSeq)
    // equi-depth: every chunk holds floor-to-ceil of n/10 rows
    val n = keys.size.toLong
    plan.foreach { case (_, rows, _, _) =>
      assert(rows >= n / 10 && rows <= n / 10 + 1, s"depth off: $plan")
    }
    assert(plan.map(_._2).sum == n)
    // inclusive bounds abut and partition the key set exactly
    plan.sliding(2).foreach {
      case Seq((_, _, _, hiA), (_, _, loB, _)) => assert(hiA < loB)
      case _ =>
    }
    val recovered = plan.flatMap { case (_, _, lo, hi) =>
      keys.filter(k => k >= lo && k <= hi)
    }
    assert(recovered.sorted == keys.sorted)
    // a massively duplicated key lands WHOLE in one chunk
    val dup = (Seq.fill(500)(42L) ++ (1000L until 1500L)).toDF("id")
    val dplan = ChangeCapture.chunkPlan(dup, "id", 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val holding = dplan.filter(c => c._3 <= 42L && 42L <= c._4)
    assert(holding.size == 1 && holding.head._2 >= 500L)
    // layout independence
    val re = ChangeCapture.chunkPlan(df.repartition(7), "id", 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(re == plan)
  }

  test("range hash diff finds exactly the divergent buckets") {
    val src = spark.range(0, 10000).toDF("id")
    val tgt = src.filter(expr("NOT (id % 617 = 0 AND id > 3000)"))
    val diff = RangeHashDiff.diffBuckets(src, tgt, "id", 250)
    val buckets = diff.select("bucket").as[Long].collect().toSet
    val expected = (1 to 16).map(_ * 617L).filter(_ > 3000).filter(_ < 10000)
      .map(_ / 250).toSet
    assert(buckets == expected)
    val deleted = RangeHashDiff.deletedKeys(tgt, src, Seq("id")).as[Long].collect().toSet
    assert(deleted == (1 to 16).map(_ * 617L).filter(k => k > 3000 && k < 10000).toSet)
  }

  test("compaction plan: in-order packing, overflow closes group, big files keep, layout-independent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // bucket 0: small files 1(40) 2(40) 3(40) 4(90) 5(10); target 100,
    // threshold 150. cum: 40 80 120 210 220; grp=(cum-rows)DIV 100:
    // 0 0 0 1 2 -> [1..3]=120 merge, [4]=90 keep, [5]=10 keep.
    // bucket 1: big file 6(200) keeps; smalls 7(60) 8(60) -> cum 60 120,
    // grp 0 0 -> merge [7..8]=120.
    val manifest = Seq(
      (0L, 1L, 40L), (0L, 2L, 40L), (0L, 3L, 40L), (0L, 4L, 90L),
      (0L, 5L, 10L), (1L, 6L, 200L), (1L, 7L, 60L), (1L, 8L, 60L))
      .toDF("bucket", "file_id", "n_rows")
    def run(m: org.apache.spark.sql.DataFrame) =
      graft.cdc.Compaction.plan(m, "bucket", "file_id", "n_rows",
          targetRows = 100L, smallThreshold = 150L)
        .as[(Long, String, Long, Long, Long, Long)]
        .collect().sortBy(t => (t._1, t._5)).toSeq
    val got = run(manifest)
    assert(got === Seq(
      (0L, "merge", 3L, 120L, 1L, 3L),
      (0L, "keep", 1L, 90L, 4L, 4L),
      (0L, "keep", 1L, 10L, 5L, 5L),
      (1L, "keep", 1L, 200L, 6L, 6L),
      (1L, "merge", 2L, 120L, 7L, 8L)))
    assert(run(manifest.repartition(5)) === got,
      "the plan owes nothing to partition layout")
    // every small file lands in exactly one group: coverage conservation
    val planned = got.filter(_._2 != "x").map(_._4).sum
    assert(planned === manifest.as[(Long, Long, Long)].collect().map(_._3).sum)
  }

  test("retention plan: daily window, weekly anchors, stream-time anchor — hand-checked tiers") {
    import spark.implicits._
    // days 0..9, 14, 20; keep dailies 3 days, weeklies 2 weeks.
    // anchor = 20. Week DIV 7: {0..6}->0, {7..9}->1, {14,20}->2.
    // 20: age 0 -> keep-daily. 14: week 2's max is 20 -> drop.
    // 9: week-1 max, age 11 < 14 -> keep-weekly. 6: week-0 max but
    // age 14 is NOT < 14 -> drop. Everything else drops.
    val snaps = ((0L to 9L) ++ Seq(14L, 20L)).toDF("snap_day")
    val got = graft.cdc.Retention.plan(snaps, "snap_day", 3, 2)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val want = ((0L to 9L) ++ Seq(14L, 20L)).map { d =>
      val action = d match {
        case 20L => "keep-daily"
        case 9L => "keep-weekly"
        case _ => "drop"
      }
      (d, 20L - d, action)
    }
    assert(got === want)
    assert(graft.cdc.Retention.plan(snaps.repartition(5), "snap_day", 3, 2)
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq === want)
  }

  test("Replicate.maintain: discovers bucketed tables under a store, folds each") {
    import spark.implicits._
    import graft.cdc.BucketedLayout.GB
    val store = java.nio.file.Files.createTempDirectory("graft_maint").toString
    Seq("orders", "events").foreach { t =>
      (0 until 4).foreach { i =>
        Seq.tabulate(5)(j => (i * 10L + j, s"$t-$i-$j")).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(s"$store/$t/$GB=0")
      }
    }
    // a non-bucketed sibling must be ignored, not mangled
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$store/plain")
    def rows(t: String) =
      spark.read.parquet(s"$store/$t/$GB=0").as[(Long, String)]
        .collect().sorted.toSeq
    val before = Seq("orders", "events").map(rows)
    val got = Replicate.maintain(spark, store,
      targetBytes = 1L << 30, smallBytes = 1L << 20)
    assert(got.toSet === Set(("orders", 0, 4, 1, 1), ("events", 0, 4, 1, 1)))
    assert(Seq("orders", "events").map(rows) === before,
      "maintenance must not bend a row")
    assert(spark.read.parquet(s"$store/plain").count() === 1L)
    // idempotent second pass: nothing left to fold
    assert(Replicate.maintain(spark, store, 1L << 30, 1L << 20).toSet ===
      Set(("orders", 0, 1, 1, 0), ("events", 0, 1, 1, 0)))
  }

  test("compactStore: small files fold per bucket, content byte-identical, crash windows heal") {
    import spark.implicits._
    import graft.cdc.{BucketedLayout, Compaction}
    val store = java.nio.file.Files.createTempDirectory("graft_fcomp").toString
    val gb = BucketedLayout.GB
    // 5 small appends into bucket 0, 3 into bucket 1 -> many part files
    (0 until 5).foreach { i =>
      Seq.tabulate(10)(j => (i * 10L + j, s"payload-$i-$j"))
        .toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(s"$store/$gb=0")
    }
    (0 until 3).foreach { i =>
      Seq.tabulate(10)(j => (1000L + i * 10 + j, s"p1-$i-$j"))
        .toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(s"$store/$gb=1")
    }
    def content(dir: String) =
      spark.read.parquet(dir).as[(Long, String)].collect().sorted.toSeq
    def nFiles(dir: String) = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before0 = content(s"$store/$gb=0")
    val before1 = content(s"$store/$gb=1")
    assert(nFiles(s"$store/$gb=0") === 5)
    // everything is "small": all files in a bucket fold to one
    val summary = Compaction.compactStore(spark, store,
      targetBytes = 1L << 30, smallBytes = 1L << 20)
    assert(summary === Seq((0, 5, 1, 1), (1, 3, 1, 1)))
    assert(nFiles(s"$store/$gb=0") === 1)
    assert(content(s"$store/$gb=0") === before0, "bucket 0 rows must survive")
    assert(content(s"$store/$gb=1") === before1, "bucket 1 rows must survive")
    // re-run: nothing small enough to group twice -> no-op summary
    val again = Compaction.compactStore(spark, store,
      targetBytes = 1L << 30, smallBytes = 1L << 20)
    assert(again === Seq((0, 1, 1, 0), (1, 1, 1, 0)))
    // crash window A: mid-assembly (no _SUCCESS) — a live file was
    // moved into staging; recovery must put it back untouched
    val f = graft.util.Fs.fs(spark, store)
    import org.apache.hadoop.fs.Path
    val live = f.listStatus(new Path(s"$store/$gb=0")).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    val stA = new Path(s"$store/__staging_filecompact/$gb=0")
    f.mkdirs(stA)
    assert(f.rename(live, new Path(stA, live.getName)))
    assert(Compaction.recoverCompact(spark, store))
    assert(content(s"$store/$gb=0") === before0, "recovery restores the move")
    // crash window B: assembly complete (_SUCCESS), live dir deleted
    // mid-swap — recovery promotes the staged dir whole
    val stB = new Path(s"$store/__staging_filecompact/$gb=1")
    f.mkdirs(stB.getParent)
    assert(f.rename(new Path(s"$store/$gb=1"), stB))
    f.create(new Path(stB, "_SUCCESS")).close()
    assert(Compaction.recoverCompact(spark, store))
    assert(content(s"$store/$gb=1") === before1, "recovery finishes the swap")
  }

  test("Retention.execute: drops by atomic rename, crash windows heal, re-run idempotent") {
    import spark.implicits._
    import graft.cdc.Retention
    // the hand-checked plan corpus from the retention-plan test: days
    // 0..9, 14, 20 at keep 3 dailies / 2 weeklies -> keep {9, 20}
    val days = (0L to 9L) ++ Seq(14L, 20L)
    def freshStore(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_gc").toString
      days.foreach { d =>
        // day 9 (a keeper) is multi-file: layout independence — the
        // executor must keep/drop whole days regardless of file count
        val parts = if (d == 9L) 3 else 1
        Seq.tabulate(4)(j => (d * 100 + j, s"snap-$d-$j")).toDF("id", "v")
          .repartition(parts).write.parquet(s"$root/snap_day=$d")
      }
      root
    }
    def listing(root: String): Seq[String] =
      new java.io.File(root).listFiles().map(_.getName).sorted.toSeq
    def content(root: String, d: Long) =
      spark.read.parquet(s"$root/snap_day=$d").as[(Long, String)]
        .collect().sorted.toSeq
    // clean run: executor result == the gated plan's keep set
    val clean = freshStore()
    val keep9 = content(clean, 9L)
    assert(Retention.execute(spark, clean, 3, 2) === (1L, 1L, 10L))
    assert(listing(clean) === Seq("snap_day=20", "snap_day=9"))
    assert(content(clean, 9L) === keep9, "kept snapshots survive untouched")
    // idempotent re-run: every survivor re-classifies keep, drops 0
    assert(Retention.execute(spark, clean, 3, 2) === (1L, 1L, 0L))
    assert(listing(clean) === Seq("snap_day=20", "snap_day=9"))
    // crash window A: mid-delete (thrown after the SECOND move) — some
    // drops live, one in trash; a plain re-run heals to the same state
    val midA = freshStore()
    var moves = 0
    Retention.gcFailpoint = {
      case p if p.startsWith("moved:") =>
        moves += 1
        if (moves == 2) throw new IllegalStateException(s"crash at $p")
      case _ =>
    }
    intercept[IllegalStateException] { Retention.execute(spark, midA, 3, 2) }
    Retention.gcFailpoint = _ => ()
    assert(listing(midA).contains("__trash_gc"), "crash leaves staged trash")
    Retention.execute(spark, midA, 3, 2)
    assert(listing(midA) === Seq("snap_day=20", "snap_day=9"))
    // crash window B: post-move pre-purge — every drop staged, trash
    // not yet purged; recovery alone (no new moves) finishes
    val midB = freshStore()
    Retention.gcFailpoint = {
      case "before-purge" => throw new IllegalStateException("crash at purge")
      case _ =>
    }
    intercept[IllegalStateException] { Retention.execute(spark, midB, 3, 2) }
    Retention.gcFailpoint = _ => ()
    assert(Retention.recoverGc(spark, midB))
    assert(listing(midB) === Seq("snap_day=20", "snap_day=9"))
    assert(Retention.execute(spark, midB, 3, 2) === (1L, 1L, 0L))
    // empty store: a no-op, not a crash
    val empty = java.nio.file.Files.createTempDirectory("graft_gc0").toString
    assert(Retention.execute(spark, empty, 3, 2) === (0L, 0L, 0L))
  }
}
