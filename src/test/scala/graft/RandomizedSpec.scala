package graft

import scala.util.Random
import org.apache.spark.sql.functions._
import graft.cdc.{Merge, RangeHashDiff}
import graft.ops.{AsOfJoin, Dedup}

/** Seeded randomized cross-checks: each operator vs a naive in-memory
  * reference implementation over generated tables. Complements the
  * fixed DuckDB oracles with adversarial shapes (duplicate keys, empty
  * sides, collisions, simultaneous timestamps).
  */
class RandomizedSpec extends SparkSpec {
  import spark.implicits._

  private val rounds = 5

  test("merge upsert equals map-semantics reference on random tables") {
    val rnd = new Random(42)
    (1 to rounds).foreach { _ =>
      val base = Seq.fill(rnd.nextInt(200) + 1)(
        (rnd.nextInt(80).toLong, rnd.nextInt(1000), "base"))
        .distinctBy(_._1)
      val updates = Seq.fill(rnd.nextInt(120))(
        (rnd.nextInt(80).toLong, rnd.nextInt(1000), "upd"))
        .distinctBy(_._1)
      val got = Merge.upsert(
        base.toDF("k", "v", "src"), updates.toDF("k", "v", "src"), Seq("k"))
        .as[(Long, Int, String)].collect().toSet
      // reference: updates win per key, unmatched base survives
      val expect = (base.map(r => r._1 -> r).toMap ++
        updates.map(r => r._1 -> r).toMap).values.toSet
      assert(got == expect)
    }
  }

  test("range-hash diff flags exactly the buckets containing mutations") {
    val rnd = new Random(7)
    val chunk = 16L
    (1 to rounds).foreach { _ =>
      val keys = (0L until 400L).filter(_ => rnd.nextBoolean())
      val deleted = keys.filter(_ => rnd.nextInt(10) == 0).toSet
      val src = keys.map(k => Tuple1(k)).toDF("pk")
      val tgt = (keys.filterNot(deleted) ++
        Seq.fill(rnd.nextInt(5))(1000L + rnd.nextInt(50))) // phantom rows
        .map(k => Tuple1(k)).toDF("pk")
      val got = RangeHashDiff.diffBuckets(src, tgt, "pk", chunk)
        .select("bucket").as[Long].collect().toSet
      val phantom = tgt.select("pk").as[Long].collect().toSet -- keys.filterNot(deleted)
      val expect = (deleted ++ phantom).map(_ / chunk)
      assert(got == expect, s"deleted=$deleted phantom=$phantom")
    }
  }

  test("bucketed replication converges under random insert/update/delete cycles") {
    import graft.cdc._
    val rnd = new Random(2024)
    val srcDir = java.nio.file.Files.createTempDirectory("fuzz-src").toString
    val tgtDir = java.nio.file.Files.createTempDirectory("fuzz-tgt").toString
    // in-memory truth: id -> (version, payload)
    var truth: Map[Long, (Long, String)] =
      (0L until 500L).map(i => i -> (i, s"v$i")).toMap
    var maxVer = 499L
    def writeSource(): Unit =
      truth.toSeq.map { case (id, (ver, v)) => (id, ver, v) }
        .toDF("id", "ver", "v").repartition(4)
        .write.mode("overwrite").parquet(s"$srcDir/t.parquet")
    writeSource()
    val sink = new BucketedParquetStore(spark, tgtDir, 8)
    val cfg = ReplicationConfig(tables = Seq(TableConfig("t", Seq("id"), "ver")))
    val rep = new Replicator(spark, cfg, new ParquetStore(spark, srcDir), sink)

    (1 to 5).foreach { cycle =>
      rep.run()
      val got = sink.read("t").as[(Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got == truth, s"cycle $cycle diverged: ${got.size} vs ${truth.size} rows")

      // mutate for the next cycle: deletes, version-bumped updates, inserts
      val deleted = truth.keys.filter(_ => rnd.nextInt(10) == 0).toSet
      truth --= deleted
      truth = truth.map { case (id, (ver, v)) =>
        if (rnd.nextInt(10) == 0) { maxVer += 1; id -> (maxVer, s"u$cycle-$id") }
        else id -> (ver, v)
      }
      val inserts = (1 to rnd.nextInt(40) + 1).map { _ =>
        maxVer += 1; (maxVer + 100000L) -> (maxVer, s"i$cycle")
      }
      truth ++= inserts
      writeSource()
    }
    rep.run()
    val finalGot = sink.read("t").as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(finalGot == truth)
  }

  /** Naive union-find reference: each vertex labelled with its
    * component's least id. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("star-contraction CC matches union-find on random graphs and deep chains") {
    val rnd = new Random(1234)
    (1 to rounds).foreach { _ =>
      val random = Seq.fill(rnd.nextInt(300) + 10)(
        (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
        .filter(e => e._1 != e._2)
      // a depth-200 chain: label propagation capped at 20 rounds would
      // truncate; star contraction must converge in ~log2(200) rounds
      val base = 10000L
      val chain = (0L until 200L).map(i => (base + i, base + i + 1))
      val edges = random ++ chain
      val got = graft.ops.Dedup.connectedComponentsStar(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      val expect = ufComponents(edges)
      assert(got == expect)
      // the chain's far end must carry the chain-head label — the
      // multi-hop case a bounded label propagation gets wrong
      assert(got(base + 200L) == base)
    }
  }

  test("connected components of a deep chain off the driver path reach the chain head") {
    // Short ids, and Int/Long columns, skip the driver union-find: a
    // depth-200 chain then needs every hop, which a round-capped
    // label propagation stops short of
    val chain = (0L until 200L).map(i => (i, i + 1)) ++ Seq((300L, 301L), (302L, 302L))
    val expect = ufComponents(chain)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.get(0).asInstanceOf[Number].longValue ->
        r.get(1).asInstanceOf[Number].longValue).toMap
    val shorts = chain.map { case (a, b) => (a.toShort, b.toShort) }.toDF("id_a", "id_b")
    val mixed = chain.map { case (a, b) => (a.toInt, b) }.toDF("id_a", "id_b")
    Seq("Short" -> shorts, "Int/Long" -> mixed).foreach { case (name, df) =>
      val got = labels(Dedup.connectedComponents(df))
      assert(got(200L) == 0L, name)
      assert(got == expect, name)
    }
  }

  test("connected components equal union-find on the driver path and the distributed loop") {
    // reference: union-find labelling each component with its least id
    // under `lt`; a NULL endpoint links nothing and adds (NULL, NULL)
    def reference[T](pairs: Seq[(Option[T], Option[T])], lt: (T, T) => Boolean)
        : Set[(Option[String], Option[String])] = {
      val parent = scala.collection.mutable.Map.empty[T, T]
      def find(x: T): T = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach {
        case (Some(a), Some(b)) =>
          val (ra, rb) = (find(a), find(b))
          if (lt(ra, rb)) parent(rb) = ra else if (lt(rb, ra)) parent(ra) = rb
        case (a, b) => (a ++ b).foreach(find)
      }
      val labels: Set[(Option[String], Option[String])] = parent.keys.toList
        .map(k => (Option(k.toString), Option(find(k).toString))).toSet
      if (pairs.exists(p => p._1.isEmpty || p._2.isEmpty)) labels + ((None, None))
      else labels
    }
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (Option(r.get(0)).map(_.toString), Option(r.get(1)).map(_.toString))).toSet
    // random graph over `ids` plus self-loops, repeated pairs and a
    // NULL endpoint
    def graph[T](rnd: Random, ids: IndexedSeq[T]): Seq[(Option[T], Option[T])] = {
      def pick = ids(rnd.nextInt(ids.size))
      val random = Seq.fill(rnd.nextInt(ids.size) + 5)((Option(pick), Option(pick)))
      val loop = Option(pick)
      random ++ random.take(3) ++ Seq((loop, loop), (Option(pick), None))
    }
    def check[T](pairs: Seq[(Option[T], Option[T])], lt: (T, T) => Boolean,
                 df: org.apache.spark.sql.DataFrame): Unit = {
      val expect = reference(pairs, lt)
      val driver = Dedup.connectedComponents(df)
      assert(labels(driver) == expect, "driver path")
      // the distributed path connectedComponents takes on large pair sets
      val star = Dedup.connectedComponentsStar(df)
      assert(labels(star) == expect, "star contraction")
      assert(driver.schema == star.schema)
    }
    val rnd = new Random(2024)
    (1 to 2).foreach { _ =>
      val longs = graph(rnd, (0L until 60L).map(_ * 1000003L - 7000000L))
      check[Long](longs, _ < _, longs.toDF("id_a", "id_b"))
      val ints = graph(rnd, (0 until 60).map(_ * 37 - 900))
      check[Int](ints, _ < _, ints.toDF("id_a", "id_b"))
      // U+FF21 sorts before U+1F600 in UTF-8 bytes (Spark's string
      // order) but after it in UTF-16 code units (String.compareTo):
      // the pair of them is one component whose label tells the two apart
      val strs = graph(rnd, (0 until 40).map(i => s"d$i") ++
        Seq("\uFF21", "\uD83D\uDE00", "\u00E9", "z", "Z", "")) ++
        Seq((Some("\uD83D\uDE00"), Some("\uFF21")), (Some("\uFF21x"), Some("\uD83D\uDE00y")))
      val utf8Lt = (a: String, b: String) => java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0
      check[String](strs, utf8Lt, strs.toDF("id_a", "id_b"))
    }
  }

  test("as-of join equals per-row scan reference on random event streams") {
    val rnd = new Random(99)
    (1 to rounds).foreach { _ =>
      val leftRows = Seq.fill(rnd.nextInt(150) + 1)(
        (rnd.nextInt(8).toLong, rnd.nextInt(40).toLong, rnd.nextLong()))
      val rightRows = Seq.fill(rnd.nextInt(150))(
        (rnd.nextInt(8).toLong, rnd.nextInt(40).toLong,
          rnd.nextInt(1000).toLong, rnd.nextDouble()))
      val left = leftRows.toDF("k", "ts", "tag")
      val right = rightRows.toDF("k", "ts", "pid", "pval")
      val got = AsOfJoin.asOf(left, right, Seq("k"), "ts",
        Seq("pid", "pval"), Seq("pid"))
        .select($"k", $"ts", $"tag", $"pid", $"pval")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)))).toSeq.sorted(
          Ordering.by((t: (Long, Long, Long, Option[Any], Option[Any])) =>
            (t._1, t._2, t._3)))
      // reference: scan all right rows per left row
      val expect = leftRows.map { case (k, ts, tag) =>
        val cands = rightRows.filter(r => r._1 == k && r._2 <= ts)
        if (cands.isEmpty) (k, ts, tag, None, None)
        else {
          val w = cands.maxBy(r => (r._2, r._3, r._4)) // latest ts, then max (pid, pval)
          (k, ts, tag, Some(w._3): Option[Any], Some(w._4): Option[Any])
        }
      }.sorted(Ordering.by((t: (Long, Long, Long, Option[Any], Option[Any])) =>
        (t._1, t._2, t._3)))
      assert(got == expect)
    }
  }

  test("streaming near-dup bucketed store matches greedy reference under churn + replays") {
    import graft.streaming.CdcStream
    val rnd = new Random(77)
    val outDir = s"${java.nio.file.Files.createTempDirectory("fuzz-nd")}/out.parquet"
    val stateDir = java.nio.file.Files.createTempDirectory("fuzz-nd-state").toString
    // contents are token-disjoint (cross Jaccard ≈ 1/25) or exact
    // copies (J = 1): candidate generation may do what it likes — the
    // verify stage decides, so the greedy reference is exact
    def content(c: Int) = s"content $c " + (1 to 12).map(j => s"c${c}tok$j").mkString(" ")
    var nextId = 0L
    var nextC = 0
    val seenContents = scala.collection.mutable.ArrayBuffer[Int]()
    val admitted = scala.collection.mutable.Map[Int, Long]() // content -> keeper id
    (0 until 8).foreach { b =>
      val docs = (0 until rnd.nextInt(4) + 1).map { _ =>
        val c =
          if (seenContents.nonEmpty && rnd.nextInt(3) == 0)
            seenContents(rnd.nextInt(seenContents.length)) // dup of anything seen
          else { nextC += 1; seenContents += nextC; nextC }
        val id = nextId; nextId += 1
        (id, c)
      }
      // reference: greedy by id — admit iff content not admitted yet
      docs.foreach { case (id, c) => if (!admitted.contains(c)) admitted(c) = id }
      val df = docs.map { case (id, c) => (id, content(c)) }.toDF("doc_id", "text")
      def run() = CdcStream.nearDupBatch(spark, df, b.toLong, outDir, stateDir,
        "text", "doc_id", numBands = 4, nStoreBuckets = 4, maxStoreDirsPerBucket = 2)
      run()
      if (rnd.nextInt(3) == 0) run() // at-least-once: replay the current batch
    }
    val got = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    assert(got == admitted.values.toSet,
      s"admitted mismatch: extra=${got -- admitted.values}, missing=${admitted.values.toSet -- got}")
    assert(spark.read.parquet(outDir).count() == admitted.size, "replays must not duplicate rows")
  }

  test("binned range join equals the naive inequality join on adversarial intervals") {
    import graft.ops.RangeJoin
    val rnd = new Random(31)
    (1 to rounds).foreach { _ =>
      // adversarial shapes: negative coordinates (floor-division bins),
      // empty intervals (hi <= lo), intervals spanning many bins,
      // zero-length gaps, duplicate points
      val pts = (0 until rnd.nextInt(200) + 1).map(i =>
        (i.toLong, rnd.nextLong(2000) - 1000))
      val ivs = (0 until rnd.nextInt(40) + 1).map { i =>
        val lo = rnd.nextLong(2000) - 1000
        val len = rnd.nextInt(5) match {
          case 0 => 0L                        // empty
          case 1 => rnd.nextLong(300)         // many bins (binWidth = 16)
          case _ => rnd.nextLong(20)
        }
        (i.toLong, lo, lo + len)
      }
      val expect = (for {
        (pid, x) <- pts; (iid, lo, hi) <- ivs if x >= lo && x < hi
      } yield (pid, iid)).toSet
      def run(bc: Boolean) = RangeJoin.pointInInterval(
        pts.toDF("pid", "x"), "x", ivs.toDF("iid", "lo", "hi"), "lo", "hi",
        binWidth = 16, broadcastIntervals = bc)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(run(true) == expect, "broadcast path diverged from naive join")
      assert(run(false) == expect, "shuffle path diverged from naive join")
    }
  }

  test("sequence packing matches a scan reference and never splits documents") {
    import graft.ops.Packing
    val rnd = new Random(101)
    val budget = 128L; val nShards = 4
    def h64(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16)
    }
    (1 to rounds).foreach { _ =>
      // include docs LARGER than the budget: they must still land whole
      // in the pack their first token falls in (overflow, never split)
      val docs = (0 until rnd.nextInt(300) + 1).map { i =>
        val t = rnd.nextInt(60) + 1
        (i.toLong, if (rnd.nextInt(10) == 0) t + 200 else t)
      }
      val got = Packing.packSequences(docs.toDF("id", "toks"), "id", "toks",
        budget, nShards)
        .select("id", "shard", "pack_id").as[(Long, Int, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val expect = docs.groupBy { case (id, _) => (h64(id.toString) % nShards).toInt }
        .flatMap { case (shard, ds) =>
          var start = 0L
          ds.sortBy(_._1).map { case (id, t) =>
            val p = id -> (shard, start / budget); start += t; p
          }
        }
      assert(got == expect)
    }
  }

  test("aggregate maintenance equals recompute across random CDC cycles") {
    import graft.cdc.AggMaintain
    val rnd = new Random(59)
    // truth: pk -> (grp, value); values in exact quarter steps so the
    // decimal(18,2) cast is lossless on both the maintained and the
    // recomputed side
    var truth: Map[Long, (Int, Double)] =
      (0L until 300L).map(i => i -> (rnd.nextInt(12), rnd.nextInt(4000) / 4.0)).toMap
    var nextPk = 300L
    def df(m: Map[Long, (Int, Double)]) =
      m.toSeq.map { case (pk, (g, v)) => (pk, g, v) }.toDF("pk", "grp", "v")
    def recompute(m: Map[Long, (Int, Double)]): Map[Int, (Long, BigDecimal)] =
      m.values.groupBy(_._1).map { case (g, rows) =>
        g -> (rows.size.toLong,
          rows.map(r => BigDecimal(r._2).setScale(2)).sum)
      }
    // the stored state rides forward: cycle N's output is cycle N+1's
    // oldAgg, so this also pins that maintenance COMPOSES
    var agg = AggMaintain.maintainSumCount(spark, df(truth),
      spark.emptyDataset[(Long, Int, Double)].toDF("pk", "grp", "v"),
      Seq.empty[Long].toDF("pk"), Seq("pk"), Seq("grp"), "v")
    (1 to rounds).foreach { cycle =>
      val base = truth
      val ups = (0 until rnd.nextInt(60)).map { _ =>
        if (rnd.nextBoolean() && base.nonEmpty) {
          val pk = base.keys.toSeq(rnd.nextInt(base.size)) // replace
          (pk, rnd.nextInt(12), rnd.nextInt(4000) / 4.0)
        } else { nextPk += 1; (nextPk, rnd.nextInt(12), rnd.nextInt(4000) / 4.0) }
      }.distinctBy(_._1)
      val upKeys = ups.map(_._1).toSet
      // occasionally delete a whole group (its aggregate row must vanish)
      val doomedGrp = if (rnd.nextInt(3) == 0) Some(rnd.nextInt(12)) else None
      val dels = base.keys.filter(pk => !upKeys.contains(pk) &&
        (rnd.nextInt(8) == 0 || doomedGrp.contains(base(pk)._1))).toSeq
      agg = AggMaintain.maintainSumCount(spark, df(base),
        ups.toDF("pk", "grp", "v"), dels.map(Tuple1(_)).toDF("pk"),
        Seq("pk"), Seq("grp"), "v", oldAggOpt = Some(agg))
        .localCheckpoint() // the next cycle's base table rewrites underneath it
      truth = (base -- dels) ++ ups.map(u => u._1 -> (u._2, u._3))
      val got = agg.collect().map(r =>
        r.getInt(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
      assert(got == recompute(truth), s"cycle $cycle diverged")
    }
  }

  test("join-view maintenance equals recompute across random two-sided CDC cycles") {
    import graft.cdc.JoinMaintain
    val rnd = new Random(61)
    // fact: pk -> (fk, value); dim: key -> payload. The dim covers
    // only PART of the fk space, so dangling fact rows exist from the
    // start — dim inserts must make them APPEAR, dim deletes must
    // CASCADE rows out, fk moves must re-home.
    var fact: Map[Long, (Long, Double)] = (0L until 250L).map(i =>
      i -> (rnd.nextInt(56).toLong, rnd.nextInt(1000).toDouble)).toMap
    var dim: Map[Long, String] = (0L until 56L)
      .filter(_ => rnd.nextBoolean()).map(k => k -> s"p$k").toMap
    var nextPk = 250L
    def fdf(m: Map[Long, (Long, Double)]) =
      m.toSeq.map { case (pk, (fk, v)) => (pk, fk, v) }.toDF("pk", "fk", "v")
    def ddf(m: Map[Long, String]) = m.toSeq.toDF("dk", "payload")
    def recompute(f: Map[Long, (Long, Double)], d: Map[Long, String]) =
      f.flatMap { case (pk, (fk, v)) =>
        d.get(fk).map(p => (pk, fk, v, p)) }.toSet
    // the stored view rides forward: cycle N's output is cycle N+1's
    // view, so this also pins that maintenance COMPOSES
    var view = JoinMaintain.build(fdf(fact), ddf(dim), "fk", "dk",
      Seq("payload"))
    (1 to rounds).foreach { cycle =>
      val (f0, d0) = (fact, dim)
      val fUps = (0 until rnd.nextInt(50)).map { _ =>
        if (rnd.nextBoolean() && f0.nonEmpty) {
          val pk = f0.keys.toSeq(rnd.nextInt(f0.size)) // replace (fk may move)
          (pk, rnd.nextInt(56).toLong, rnd.nextInt(1000).toDouble)
        } else { nextPk += 1; (nextPk, rnd.nextInt(56).toLong, rnd.nextInt(1000).toDouble) }
      }.distinctBy(_._1)
      val fUpKeys = fUps.map(_._1).toSet
      val fDels = f0.keys.filter(pk =>
        !fUpKeys.contains(pk) && rnd.nextInt(8) == 0).toSeq
      val dUps = (0 until rnd.nextInt(12)).map { _ =>
        (rnd.nextInt(56).toLong, s"c$cycle-${rnd.nextInt(100)}") // insert or replace
      }.distinctBy(_._1)
      val dUpKeys = dUps.map(_._1).toSet
      val dDels = d0.keys.filter(dk =>
        !dUpKeys.contains(dk) && rnd.nextInt(6) == 0).toSeq
      view = JoinMaintain.maintain(spark, view, fdf(f0), ddf(d0),
          fUps.toDF("pk", "fk", "v"), fDels.map(Tuple1(_)).toDF("pk"),
          dUps.toDF("dk", "payload"), dDels.map(Tuple1(_)).toDF("dk"),
          Seq("pk"), "fk", "dk", Seq("payload"))
        .localCheckpoint() // the next cycle's bases rewrite underneath it
      fact = (f0 -- fDels) ++ fUps.map(u => u._1 -> (u._2, u._3))
      dim = (d0 -- dDels) ++ dUps
      val got = view.select("pk", "fk", "v", "payload")
        .as[(Long, Long, Double, String)].collect().toSet
      assert(got == recompute(fact, dim), s"cycle $cycle diverged")
    }
  }

  test("OUTER join-view maintenance equals recompute WITH AN EMPTY FACT BASE (self-maintainable)") {
    import graft.cdc.JoinMaintain
    val rnd = new Random(71)
    var fact: Map[Long, (Long, Double)] = (0L until 200L).map(i =>
      i -> (rnd.nextInt(40).toLong, rnd.nextInt(500).toDouble)).toMap
    var dim: Map[Long, String] = (0L until 40L)
      .filter(_ => rnd.nextBoolean()).map(k => k -> s"p$k").toMap
    var nextPk = 200L
    def fdf(m: Map[Long, (Long, Double)]) =
      m.toSeq.map { case (pk, (fk, v)) => (pk, fk, v) }.toDF("pk", "fk", "v")
    def ddf(m: Map[Long, String]) = m.toSeq.toDF("dk", "payload")
    // every fact row stays; payload is None where no dim row matches
    def recompute(f: Map[Long, (Long, Double)], d: Map[Long, String]) =
      f.map { case (pk, (fk, v)) => (pk, fk, v, d.get(fk)) }.toSet
    var view = JoinMaintain.build(fdf(fact), ddf(dim), "fk", "dk",
      Seq("payload"), outer = true)
    (1 to rounds).foreach { cycle =>
      val (f0, d0) = (fact, dim)
      val fUps = (0 until rnd.nextInt(40)).map { _ =>
        if (rnd.nextBoolean() && f0.nonEmpty) {
          val pk = f0.keys.toSeq(rnd.nextInt(f0.size))
          (pk, rnd.nextInt(40).toLong, rnd.nextInt(500).toDouble)
        } else { nextPk += 1; (nextPk, rnd.nextInt(40).toLong, rnd.nextInt(500).toDouble) }
      }.distinctBy(_._1)
      val fUpK = fUps.map(_._1).toSet
      val fDels = f0.keys.filter(pk => !fUpK.contains(pk) && rnd.nextInt(8) == 0).toSeq
      val dUps = (0 until rnd.nextInt(10)).map { _ =>
        (rnd.nextInt(40).toLong, s"c$cycle-${rnd.nextInt(40)}") }.distinctBy(_._1)
      val dUpK = dUps.map(_._1).toSet
      val dDels = d0.keys.filter(dk => !dUpK.contains(dk) && rnd.nextInt(6) == 0).toSeq
      // factBase = EMPTY: outer views hold every fact row, so the fold
      // must never need the base — equality with recompute IS the
      // self-maintainability proof (inner mode would diverge here)
      view = JoinMaintain.maintain(spark, view,
          fdf(Map.empty), ddf(d0),
          fUps.toDF("pk", "fk", "v"), fDels.map(Tuple1(_)).toDF("pk"),
          dUps.toDF("dk", "payload"), dDels.map(Tuple1(_)).toDF("dk"),
          Seq("pk"), "fk", "dk", Seq("payload"), outer = true)
        .localCheckpoint()
      fact = (f0 -- fDels) ++ fUps.map(u => u._1 -> (u._2, u._3))
      dim = (d0 -- dDels) ++ dUps
      val got = view.select("pk", "fk", "v", "payload")
        .as[(Long, Long, Double, Option[String])].collect()
        .map(r => (r._1, r._2, r._3, r._4)).toSet
      assert(got == recompute(fact, dim), s"cycle $cycle diverged")
    }
  }

  test("join-view delta CASCADES: a two-level snowflake of maintained views equals recompute") {
    import graft.cdc.JoinMaintain
    val rnd = new Random(67)
    // fact(pk -> (k1, k2, v)) ⋈ d1(k1 -> p1) ⋈ d2(k2 -> p2), maintained
    // as views of views: level 1's maintainDelta output batch IS level
    // 2's fact-side input — no level is ever rescanned
    var fact: Map[Long, (Long, Long, Double)] = (0L until 200L).map(i =>
      i -> (rnd.nextInt(24).toLong, rnd.nextInt(24).toLong, rnd.nextInt(100).toDouble)).toMap
    var d1: Map[Long, String] = (0L until 24L)
      .filter(_ => rnd.nextBoolean()).map(k => k -> s"a$k").toMap
    var d2: Map[Long, String] = (0L until 24L)
      .filter(_ => rnd.nextBoolean()).map(k => k -> s"b$k").toMap
    var nextPk = 200L
    def fdf(m: Map[Long, (Long, Long, Double)]) =
      m.toSeq.map { case (pk, (k1, k2, v)) => (pk, k1, k2, v) }
        .toDF("pk", "k1", "k2", "v")
    def d1df(m: Map[Long, String]) = m.toSeq.toDF("dk1", "p1")
    def d2df(m: Map[Long, String]) = m.toSeq.toDF("dk2", "p2")
    def recompute() = fact.flatMap { case (pk, (k1, k2, v)) =>
      for (p1 <- d1.get(k1); p2 <- d2.get(k2)) yield (pk, k1, k2, v, p1, p2)
    }.toSet
    var v1 = JoinMaintain.build(fdf(fact), d1df(d1), "k1", "dk1", Seq("p1"))
    var v2 = JoinMaintain.build(v1, d2df(d2), "k2", "dk2", Seq("p2"))
    (1 to rounds).foreach { cycle =>
      val (f0, d10, d20) = (fact, d1, d2)
      val v10 = v1
      val fUps = (0 until rnd.nextInt(40)).map { _ =>
        if (rnd.nextBoolean() && f0.nonEmpty) {
          val pk = f0.keys.toSeq(rnd.nextInt(f0.size))
          (pk, rnd.nextInt(24).toLong, rnd.nextInt(24).toLong, rnd.nextInt(100).toDouble)
        } else { nextPk += 1
          (nextPk, rnd.nextInt(24).toLong, rnd.nextInt(24).toLong, rnd.nextInt(100).toDouble) }
      }.distinctBy(_._1)
      val fUpK = fUps.map(_._1).toSet
      val fDels = f0.keys.filter(pk => !fUpK.contains(pk) && rnd.nextInt(8) == 0).toSeq
      def dimBatch(cur: Map[Long, String], tag: String) = {
        val ups = (0 until rnd.nextInt(8)).map { _ =>
          (rnd.nextInt(24).toLong, s"$tag$cycle-${rnd.nextInt(40)}") }.distinctBy(_._1)
        val upK = ups.map(_._1).toSet
        (ups, cur.keys.filter(k => !upK.contains(k) && rnd.nextInt(6) == 0).toSeq)
      }
      val (d1Ups, d1Dels) = dimBatch(d10, "a")
      val (d2Ups, d2Dels) = dimBatch(d20, "b")
      // level 1: fold the raw fact/d1 batches, emitting v1's own delta
      val (nv1, v1Ups, v1Dels) = JoinMaintain.maintainDelta(spark, v10,
        fdf(f0), d1df(d10), fUps.toDF("pk", "k1", "k2", "v"),
        fDels.map(Tuple1(_)).toDF("pk"), d1Ups.toDF("dk1", "p1"),
        d1Dels.map(Tuple1(_)).toDF("dk1"), Seq("pk"), "k1", "dk1", Seq("p1"))
      // level 2: v1's delta is the fact-side batch; v1 PRE is the base
      v2 = JoinMaintain.maintain(spark, v2, v10, d2df(d20),
        v1Ups, v1Dels, d2Ups.toDF("dk2", "p2"),
        d2Dels.map(Tuple1(_)).toDF("dk2"), Seq("pk"), "k2", "dk2", Seq("p2"))
        .localCheckpoint()
      v1 = nv1.localCheckpoint()
      fact = (f0 -- fDels) ++ fUps.map(u => u._1 -> (u._2, u._3, u._4))
      d1 = (d10 -- d1Dels) ++ d1Ups
      d2 = (d20 -- d2Dels) ++ d2Ups
      val got = v2.select("pk", "k1", "k2", "v", "p1", "p2")
        .as[(Long, Long, Long, Double, String, String)].collect().toSet
      assert(got == recompute(), s"cycle $cycle: snowflake diverged")
    }
  }

  test("STAR maintenance: one fold over one view equals recompute across random three-sided cycles, inner and self-maintainable outer") {
    import graft.cdc.JoinMaintain
    import graft.cdc.JoinMaintain.StarDim
    val rnd = new Random(79)
    var fact: Map[Long, (Long, Long, Double)] = (0L until 200L).map(i =>
      i -> (rnd.nextInt(24).toLong, rnd.nextInt(24).toLong,
        rnd.nextInt(100).toDouble)).toMap
    var d1: Map[Long, String] = (0L until 24L)
      .filter(_ => rnd.nextBoolean()).map(k => k -> s"a$k").toMap
    var d2: Map[Long, String] = (0L until 24L)
      .filter(_ => rnd.nextBoolean()).map(k => k -> s"b$k").toMap
    var nextPk = 200L
    def fdf(m: Map[Long, (Long, Long, Double)]) =
      m.toSeq.map { case (pk, (k1, k2, v)) => (pk, k1, k2, v) }
        .toDF("pk", "k1", "k2", "v")
    def d1df(m: Map[Long, String]) = m.toSeq.toDF("dk1", "p1")
    def d2df(m: Map[Long, String]) = m.toSeq.toDF("dk2", "p2")
    def dims(d10: Map[Long, String], d20: Map[Long, String],
             d1Ups: Seq[(Long, String)], d1Dels: Seq[Long],
             d2Ups: Seq[(Long, String)], d2Dels: Seq[Long]) = Seq(
      StarDim(d1df(d10), d1Ups.toDF("dk1", "p1"),
        d1Dels.map(Tuple1(_)).toDF("dk1"), "k1", "dk1", Seq("p1")),
      StarDim(d2df(d20), d2Ups.toDF("dk2", "p2"),
        d2Dels.map(Tuple1(_)).toDF("dk2"), "k2", "dk2", Seq("p2")))
    def recomputeInner() = fact.flatMap { case (pk, (k1, k2, v)) =>
      for (p1 <- d1.get(k1); p2 <- d2.get(k2)) yield (pk, k1, k2, v, p1, p2)
    }.toSet
    def recomputeOuter() = fact.map { case (pk, (k1, k2, v)) =>
      (pk, k1, k2, v, d1.get(k1), d2.get(k2)) }.toSet
    var vi = JoinMaintain.buildStar(fdf(fact),
      dims(d1, d2, Nil, Nil, Nil, Nil))
    var vo = JoinMaintain.buildStar(fdf(fact),
      dims(d1, d2, Nil, Nil, Nil, Nil), outer = true)
    (1 to rounds).foreach { cycle =>
      val (f0, d10, d20) = (fact, d1, d2)
      val fUps = (0 until rnd.nextInt(40)).map { _ =>
        if (rnd.nextBoolean() && f0.nonEmpty) {
          val pk = f0.keys.toSeq(rnd.nextInt(f0.size)) // replace (fks may move)
          (pk, rnd.nextInt(24).toLong, rnd.nextInt(24).toLong,
            rnd.nextInt(100).toDouble)
        } else { nextPk += 1
          (nextPk, rnd.nextInt(24).toLong, rnd.nextInt(24).toLong,
            rnd.nextInt(100).toDouble) }
      }.distinctBy(_._1)
      val fUpK = fUps.map(_._1).toSet
      val fDels = f0.keys.filter(pk =>
        !fUpK.contains(pk) && rnd.nextInt(8) == 0).toSeq
      def dimBatch(cur: Map[Long, String], tag: String) = {
        val ups = (0 until rnd.nextInt(8)).map { _ =>
          (rnd.nextInt(24).toLong, s"$tag$cycle-${rnd.nextInt(40)}") }
          .distinctBy(_._1)
        val upK = ups.map(_._1).toSet
        (ups, cur.keys.filter(k => !upK.contains(k) && rnd.nextInt(6) == 0).toSeq)
      }
      val (d1Ups, d1Dels) = dimBatch(d10, "a")
      val (d2Ups, d2Dels) = dimBatch(d20, "b")
      val ds = dims(d10, d20, d1Ups, d1Dels, d2Ups, d2Dels)
      vi = JoinMaintain.maintainStar(spark, vi, fdf(f0),
          fUps.toDF("pk", "k1", "k2", "v"), fDels.map(Tuple1(_)).toDF("pk"),
          Seq("pk"), ds)
        .localCheckpoint() // the next cycle's bases rewrite underneath it
      // OUTER with an EMPTY fact base — self-maintainability must
      // survive the per-dim composition (the view holds every fact row
      // no matter how many left joins stack)
      vo = JoinMaintain.maintainStar(spark, vo, fdf(Map.empty),
          fUps.toDF("pk", "k1", "k2", "v"), fDels.map(Tuple1(_)).toDF("pk"),
          Seq("pk"), ds, outer = true)
        .localCheckpoint()
      fact = (f0 -- fDels) ++ fUps.map(u => u._1 -> (u._2, u._3, u._4))
      d1 = (d10 -- d1Dels) ++ d1Ups
      d2 = (d20 -- d2Dels) ++ d2Ups
      assert(vi.select("pk", "k1", "k2", "v", "p1", "p2")
        .as[(Long, Long, Long, Double, String, String)].collect().toSet ==
        recomputeInner(), s"cycle $cycle: inner star diverged")
      assert(vo.select("pk", "k1", "k2", "v", "p1", "p2")
        .as[(Long, Long, Long, Double, Option[String], Option[String])]
        .collect().toSet == recomputeOuter(),
        s"cycle $cycle: outer star diverged")
    }
  }

  test("salted join equals the plain join on random skew shapes and salt counts") {
    val rnd = new Random(55)
    (1 to 4).foreach { round =>
      // skew profile varies per round: uniform → 95%-one-key
      val hot = rnd.nextDouble()
      val big = (0 until 800).map { i =>
        val k = if (rnd.nextDouble() < hot) 0L else rnd.nextInt(40).toLong
        (k, i.toLong, rnd.nextInt(1000).toDouble)
      }.toDF("k", "seq", "v").repartition(1 + rnd.nextInt(7))
      val small = (0 until 60).map { _ =>
        (rnd.nextInt(50).toLong, rnd.nextInt(100))  // dup + missing keys
      }.toDF("k", "attr")
      val nSalts = 1 + rnd.nextInt(12)
      val jt = if (rnd.nextBoolean()) "inner" else "left_outer"
      val plain = big.join(small, Seq("k"), jt)
      val salted = graft.ops.SkewJoin.salted(big, small, "k", nSalts, jt)
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
        s"round $round: joinType=$jt nSalts=$nSalts hot=$hot diverged")
    }
  }

  test("token chunking matches a sliding-window scan reference on random docs") {
    val rnd = new Random(321)
    val size = 2 + rnd.nextInt(12); val overlap = rnd.nextInt(size)
    val step = size - overlap
    val docs = (0 until 120).map { id =>
      val n = 1 + rnd.nextInt(60)
      (id.toLong, (0 until n).map(j => s"w${rnd.nextInt(30)}").mkString(" "))
    }
    val got = graft.ops.TextAnalysis.chunk(
        docs.toDF("doc_id", "text"), "text", "doc_id", size, overlap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    val want = docs.flatMap { case (id, text) =>
      val toks = text.split(" ")
      val nch = if (toks.length <= size) 1
        else 1 + (toks.length - size + step - 1) / step
      (0 until nch).map(i =>
        (id, i.toLong, toks.slice(i * step, i * step + size).mkString(" ")))
    }.sortBy(t => (t._1, t._2))
    assert(got.length == want.length, s"size=$size overlap=$overlap")
    assert(got.sameElements(want), s"size=$size overlap=$overlap diverged")
  }

  test("table profile equals a driver reference on random tables with nulls") {
    val rnd = new Random(4242)
    (1 to rounds).foreach { round =>
      val n = rnd.nextInt(400) + 50
      // skewed value space + nulls + strings longer than the 64-char
      // prefix window, all in one string column and one long column
      val rows = (0 until n).map { i =>
        val s =
          if (rnd.nextInt(10) == 0) null
          else if (rnd.nextInt(5) == 0) ("x" * 70) + rnd.nextInt(3)
          else s"v${rnd.nextInt(30)}"
        val l: java.lang.Long =
          if (rnd.nextInt(8) == 0) null else rnd.nextInt(100).toLong
        (s, l)
      }
      val df = rows.toDF("s", "l")
      val got = graft.ops.Profile.tableProfile(df, Seq("s", "l"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3),
            Option(r.getString(4)), Option(r.getString(5)))).toMap
      def expect(vals: Seq[String]) = {
        val nn = vals.filter(_ != null)
        val prefixes = nn.map(_.take(64))
        (vals.size.toLong, (vals.size - nn.size).toLong,
          nn.distinct.size.toLong,
          if (nn.isEmpty) None else Some(prefixes.min),
          if (nn.isEmpty) None else Some(prefixes.max))
      }
      assert(got("s") == expect(rows.map(_._1)), s"round=$round col=s")
      assert(got("l") == expect(rows.map(r =>
        if (r._2 == null) null else r._2.toString)), s"round=$round col=l")
    }
  }

  test("mad outliers equal a driver percentile reference on random heavy tails") {
    val rnd = new Random(5150)
    // Spark's exact `percentile`: linear interpolation at (n-1)·p
    def pctl(sorted: Seq[Double], p: Double): Double = {
      val pos = (sorted.size - 1) * p
      val (lo, hi) = (pos.toInt, math.ceil(pos).toInt)
      val g = pos - lo
      sorted(lo) * (1 - g) + sorted(hi) * g
    }
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    (1 to rounds).foreach { round =>
      val rows = (0 until rnd.nextInt(300) + 30).map { i =>
        val v =
          if (rnd.nextInt(10) == 0) rnd.nextDouble() * 10000 // heavy tail
          else 50 + rnd.nextDouble() * 10
        (i.toLong, s"g${rnd.nextInt(2)}", math.rint(v * 100) / 100)
      }
      val got = graft.ops.Profile.madOutliers(
          rows.toDF("event_id", "event_type", "value"),
          "event_type", "value", 4.0)
        .select("event_id").as[Long].collect().toSet
      val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
        val qs = rs.map(r => math.rint(r._3 * 100))
        val med = r6(pctl(qs.sorted, 0.5))
        val mad = r6(pctl(qs.map(q => math.abs(q - med)).sorted, 0.5))
        if (mad <= 0.0) Seq.empty
        else rs.filter(r => math.abs(math.rint(r._3 * 100) - med) / mad > 4.0)
          .map(_._1)
      }.toSet
      assert(got == want, s"round=$round diverged")
    }
  }

  test("gopher filter equals a driver rule evaluator on random documents") {
    val rnd = new Random(60609)
    val stop = Set("the", "a", "and", "of", "to", "in", "is", "it")
    val vocab = Seq("the", "a", "to", "word", "elephant", "x1", "!!", "12345",
      "supercalifragilistic", "b")
    def driverMask(text: String): Long = {
      val norm = text.trim.replaceAll("\\s+", " ").toLowerCase
      val toks = norm.split(" ")
      val mtl = toks.map(_.length).sum.toDouble / toks.length
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      val punct = r6(text.count(c =>
        !(c.isDigit || c == ' ' || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')))
        .toDouble / text.length)
      val digit = r6(text.count(_.isDigit).toDouble / text.length)
      val nStop = toks.count(stop)
      (if (toks.length < 50 || toks.length > 100000) 1L else 0L) +
        (if (r6(mtl) < 3.0 || r6(mtl) > 10.0) 2L else 0L) +
        (if (punct > 0.1) 4L else 0L) +
        (if (digit > 0.15) 8L else 0L) +
        (if (nStop < 2) 16L else 0L)
    }
    (1 to rounds).foreach { round =>
      val rows = (0 until rnd.nextInt(150) + 30).map { i =>
        val n = rnd.nextInt(120) + 5
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }
      val got = graft.ops.TextAnalysis.gopherFilter(
          rows.toDF("doc_id", "text"), "text", "doc_id")
        .as[(Long, Long)].collect().toMap
      val want = rows.map { case (id, t) => id -> driverMask(t) }.toMap
      assert(got == want, s"round=$round diverged")
    }
  }

  test("url dedup equals a driver canonicalizer on random decorated urls") {
    val rnd = new Random(31337)
    def driverCanon(u: String): String = {
      val lower = u.toLowerCase
      val noQf = lower.replaceFirst("[?#].*$", "")
      val noWww = noQf.replaceFirst("://www\\.", "://")
      noWww.replaceFirst("/+$", "")
    }
    (1 to rounds).foreach { round =>
      val rows = (0 until rnd.nextInt(300) + 50).map { i =>
        val host = s"${if (rnd.nextBoolean()) "WWW." else ""}site${rnd.nextInt(8)}.Example.com"
        val path = s"/p${rnd.nextInt(12)}" + ("/" * rnd.nextInt(3))
        val deco = rnd.nextInt(4) match {
          case 0 => s"?q=${rnd.nextInt(100)}"
          case 1 => s"#s${rnd.nextInt(100)}"
          case 2 => s"?a=1#b"
          case _ => ""
        }
        (i.toLong, s"https://$host$path$deco")
      }
      val got = graft.ops.TextAnalysis.urlDedup(
          rows.toDF("doc_id", "url"), "url", "doc_id")
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val want = rows.groupBy(r => driverCanon(r._2)).map { case (c, rs) =>
        c -> (rs.map(_._1).min, rs.size.toLong)
      }
      assert(got == want, s"round=$round diverged")
    }
  }

  test("quota admission matches a driver ledger across random batch sequences") {
    val rnd = new Random(9090)
    val groups = Seq("a", "b", "c")
    (1 to 3).foreach { round =>
      val quota = rnd.nextInt(8) + 3
      val outDir = java.nio.file.Files.createTempDirectory("qout").toString
      val stateDir = java.nio.file.Files.createTempDirectory("qstate").toString
      // driver-simulated ledger with the same hash order
      val admittedCount = scala.collection.mutable.Map.empty[String, Long]
      var nextId = 0L
      (0 until 4).foreach { b =>
        val rows = (0 until rnd.nextInt(30) + 5).map { _ =>
          nextId += 1
          (nextId, groups(rnd.nextInt(groups.size)))
        }
        graft.streaming.QuotaStream.quotaBatch(spark,
          rows.toDF("doc_id", "source"), b.toLong, outDir, stateDir,
          "source", "doc_id", quota)
        val want = rows.map { case (id, g) =>
          (g, graft.util.Hashing.portableHash64Const(s"graft:quota:$id"), id)
        }.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
          val room = quota - admittedCount.getOrElse(g, 0L)
          rs.sortBy(r => (r._2, r._3)).take(math.max(0L, room).toInt).map(_._3)
        }.toSet
        want.groupBy(id => rows.find(_._1 == id).get._2).foreach {
          case (g, ids) =>
            admittedCount(g) = admittedCount.getOrElse(g, 0L) + ids.size
        }
        val got = spark.read.parquet(s"$outDir/batch=$b")
          .select("doc_id").as[Long].collect().toSet
        assert(got == want, s"round=$round batch=$b quota=$quota diverged")
      }
      // lifetime caps hold
      val all = spark.read.option("basePath", outDir).parquet(outDir)
      val sizes = all.groupBy("source").count().as[(String, Long)].collect().toMap
      assert(sizes.values.forall(_ <= quota.toLong),
        s"round=$round quota=$quota exceeded: $sizes")
      assert(sizes == admittedCount.toMap.filter(_._2 > 0),
        s"round=$round ledger mismatch")
    }
  }

  test("pagerank equals the exact integer driver reference on random multigraphs") {
    val rnd = new Random(777)
    (1 to rounds).foreach { round =>
      val nNodes = rnd.nextInt(150) + 20
      val nodes = (0L until nNodes.toLong)
      // random out-degrees incl. sinks (outdeg 0 → node emits nothing)
      // and duplicate edges (multigraph semantics: every copy carries
      // its own share)
      val adj = nodes.map { v =>
        v -> Seq.fill(rnd.nextInt(4))(rnd.nextInt(nNodes).toLong)
      }.toMap
      val edges = adj.toSeq.flatMap { case (s, ds) =>
        ds.map(d => (s, d, ds.size.toLong))
      }
      val iters = rnd.nextInt(4) + 1
      val got = graft.ops.Graph.pageRank(
        nodes.toDF("id"), edges.toDF("src", "dst", "outdeg"), iters)
        .as[(Long, Long)].collect().toMap
      var r = nodes.map(_ -> 1000000L).toMap
      for (_ <- 0 until iters) {
        val inbound = edges.map { case (s, d, od) => d -> r(s) / od }
          .groupMapReduce(_._1)(_._2)(_ + _)
        r = nodes.map(v => v -> (150000L + 85L * inbound.getOrElse(v, 0L) / 100L)).toMap
      }
      assert(got == r, s"round=$round nodes=$nNodes iters=$iters diverged")
    }
  }

  test("scc equals iterative Tarjan on random digraphs with planted cycles") {
    val rnd = new Random(1314)
    // driver truth: Tarjan with an explicit stack (no JVM recursion),
    // SCC labeled by its min member id — the same canonical label the
    // distributed min-coloring converges to
    def tarjan(ns: Seq[Long], es: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        .withDefaultValue(Seq.empty)
      val index = scala.collection.mutable.Map[Long, Int]()
      val low = scala.collection.mutable.Map[Long, Int]()
      val onStack = scala.collection.mutable.Set[Long]()
      val stack = scala.collection.mutable.ArrayBuffer[Long]()
      val comp = scala.collection.mutable.Map[Long, Long]()
      var counter = 0
      ns.foreach { s =>
        if (!index.contains(s)) {
          val call = scala.collection.mutable.ArrayBuffer[(Long, Iterator[Long])]()
          index(s) = counter; low(s) = counter; counter += 1
          stack += s; onStack += s
          call += ((s, adj(s).iterator))
          while (call.nonEmpty) {
            val (v, it) = call.last
            if (it.hasNext) {
              val w = it.next()
              if (!index.contains(w)) {
                index(w) = counter; low(w) = counter; counter += 1
                stack += w; onStack += w
                call += ((w, adj(w).iterator))
              } else if (onStack(w)) low(v) = math.min(low(v), index(w))
            } else {
              call.remove(call.size - 1)
              if (call.nonEmpty) {
                val p = call.last._1
                low(p) = math.min(low(p), low(v))
              }
              if (low(v) == index(v)) {
                var members = List.empty[Long]
                var w = -1L
                while (w != v) {
                  w = stack.remove(stack.size - 1); onStack -= w
                  members ::= w
                }
                val label = members.min
                members.foreach(m => comp(m) = label)
              }
            }
          }
        }
      }
      comp.toMap
    }
    (1 to 4).foreach { round =>
      val n = rnd.nextInt(25) + 15
      val ns = (0L until n.toLong)
      // sparse random digraph + a planted directed cycle over a random
      // node subset (uniform sparse digraphs are near-all singleton
      // SCCs; the plant guarantees non-trivial mutual cores that the
      // random edges then extend)
      val base = ns.flatMap(v => Seq.fill(rnd.nextInt(3))(
        (v, rnd.nextInt(n).toLong)))
      val ring = rnd.shuffle(ns.toList).take(rnd.nextInt(6) + 3)
      val planted = ring.zip(ring.tail :+ ring.head)
      val es = (base ++ planted).filter(e => e._1 != e._2).distinct
      // localCutoff = 0: pin the DISTRIBUTED trim/color/confirm path
      // against the driver truth (the hybrid tail IS a Tarjan, so
      // letting it fire would make this test circular)
      val got = graft.ops.Graph.scc(
        ns.toDF("id"), es.toDF("src", "dst"), rounds = 200, propCap = 200,
        localCutoff = 0)
        .as[(Long, Long)].collect().toMap
      val want = tarjan(ns, es)
      assert(got == want, s"round=$round n=$n |E|=${es.size} diverged")
      // condensation acyclicity: a mutual quotient pair would mean two
      // SCCs the labeling failed to merge
      val cond = graft.ops.Graph.condensation(
        ns.toDF("id").join(got.toSeq.toDF("id", "scc"), Seq("id")),
        es.toDF("src", "dst"))
        .select("scc_src", "scc_dst").as[(Long, Long)].collect().toSet
      assert(cond.forall { case (a, b) => !cond.contains((b, a)) },
        s"round=$round condensation has a 2-cycle")
      // and the hybrid (default cutoff) must agree with both
      if (round == 1)
        assert(graft.ops.Graph.scc(ns.toDF("id"), es.toDF("src", "dst"))
          .as[(Long, Long)].collect().toMap == want, "hybrid diverged")
    }
  }

  test("mp4 and mkv container builders roundtrip through the parsers") {
    import graft.ops.Multimodal
    val rnd = new Random(31)
    (1 to 20).foreach { round =>
      val (w, h) = (rnd.nextInt(4000) + 1, rnd.nextInt(4000) + 1)
      val n = rnd.nextInt(200)
      val tsc = rnd.nextInt(90000) + 1
      val dur = rnd.nextInt(1000000)
      val mp4 = Multimodal.parseMp4(Multimodal.buildMp4(
        w, h, tsc.toLong, dur.toLong, n,
        codec = Seq("avc1", "hev1", "vp09")(rnd.nextInt(3)))).get
      assert((mp4.width, mp4.height, mp4.nFrames) == ((w, h, n.toLong)) &&
        mp4.durationMs == math.round(dur * 1000.0 / tsc), s"mp4 round=$round")
      // mkv scale in ns; ticks a whole number of scale units
      val scaleNs = Seq(100000L, 500000L, 1000000L)(rnd.nextInt(3))
      val ticks = rnd.nextInt(100000)
      val mkv = Multimodal.parseMkv(Multimodal.buildMkv(
        w, h, scaleNs, ticks.toDouble, n,
        codec = Seq("V_VP9", "V_AV1", "V_MPEG4/ISO/AVC")(rnd.nextInt(3)))).get
      assert((mkv.width, mkv.height, mkv.nFrames) == ((w, h, n.toLong)) &&
        mkv.durationMs == math.round(ticks.toDouble * scaleNs / 1e6),
        s"mkv round=$round")
    }
  }

  test("winnowing guarantee holds for random planted shared substrings") {
    import graft.ops.TextAnalysis
    val rnd = new Random(53)
    val (k, w) = (8, 4)
    // random surroundings from DISJOINT alphabets so only the planted
    // passage can produce shared grams; passage length is the
    // guarantee's exact threshold k+w-1 and above
    def randStr(alpha: String, n: Int): String =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val rows = (1 to 15).flatMap { i =>
      val passage = randStr("abcdef", k + w - 1 + rnd.nextInt(30))
      Seq((i * 2L, s"${randStr("ghijkl", rnd.nextInt(40))} $passage " +
            randStr("mnopqr", rnd.nextInt(40))),
        (i * 2L + 1L, s"${randStr("stuvwx", rnd.nextInt(40))} $passage " +
            randStr("yz", rnd.nextInt(40))))
    }
    val byDoc = TextAnalysis.winnow(rows.toDF("doc_id", "text"),
        "text", "doc_id", k, w)
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (id, v) => id -> v.map(_._2).toSet }
    (1 to 15).foreach { i =>
      assert((byDoc(i * 2L) & byDoc(i * 2L + 1L)).nonEmpty,
        s"pair $i must share a fingerprint (guarantee at >= k+w-1 chars)")
    }
  }

  test("containment df-cap saturation is visible and scores only understate") {
    import graft.ops.TextAnalysis
    val rnd = new Random(29)
    val (k, w) = (8, 4)
    def randStr(alpha: String, n: Int): String =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val maxDf = 4
    // a passage quoted by MORE docs than the cap: every fingerprint it
    // yields has df > maxDf, so the capped index drops it entirely —
    // the quotation detector's documented wrong-way failure, which
    // n_capped must surface and which must only LOWER scores (floor,
    // not estimate)
    val hot = randStr("abcdef", k + w - 1 + 20)
    // a rare passage shared by exactly one doc pair: stays under the cap
    val rare = randStr("ghijkl", k + w - 1 + 20)
    val quoters = (0 until 10).map { i =>
      (i.toLong, s"${randStr("mnopqr", 10 + rnd.nextInt(20))} $hot " +
        randStr("stuvwx", 10 + rnd.nextInt(20)))
    }
    // doc 100 is EMBEDDED whole in doc 101, and both quote `hot`
    val pairDocs = Seq(
      (100L, s"$rare $hot"),
      (101L, s"${randStr("yz", 15)} $rare $hot"))
    val df = (quoters ++ pairDocs).toDF("doc_id", "text")
    def run(cap: Int): Map[(Long, Long), (Long, Long, Long, Long, Long, Long, Long)] =
      TextAnalysis.winnowContainment(df, "text", "doc_id",
          k, w, minShared = 1, maxDf = cap)
        .select("id_a", "id_b", "n_shared", "n_fp_a", "n_fp_b",
          "n_capped_a", "n_capped_b", "cont_a_ppm", "cont_b_ppm")
        .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7, r._8, r._9)))
        .toMap
    val capped = run(maxDf)
    val open = run(1000000)
    // the rare-passage pair survives the cap, and the saturation of
    // its hot-passage fingerprints is VISIBLE on both sides
    val cp = capped((100L, 101L))
    assert(cp._4 > 0 && cp._5 > 0,
      s"cap-saturated docs must report n_capped > 0, got $cp")
    // with the cap open nothing is excluded, and the embedded doc
    // scores EXACTLY 10^6 on its side (FP_100 subset of FP_101)
    val op = open((100L, 101L))
    assert(op._4 == 0 && op._5 == 0, s"open run must cap nothing: $op")
    assert(op._6 == 1000000L, s"embedded doc must score 10^6 uncapped: $op")
    // monotonicity: every capped pair exists uncapped with n_shared
    // and both scores >= the capped run's, on IDENTICAL denominators
    // (n_fp counts all fingerprints regardless of cap)
    capped.foreach { case (pair, c) =>
      val o = open(pair)
      assert(o._2 == c._2 && o._3 == c._3, s"$pair denominators moved: $c vs $o")
      assert(o._1 >= c._1 && o._6 >= c._6 && o._7 >= c._7,
        s"$pair capped scores must only understate: $c vs $o")
    }
    // the hot-only quoter pairs are invisible under the cap and
    // reappear without it
    assert(open.size > capped.size,
      s"open ${open.size} pairs vs capped ${capped.size}")
  }

  test("HLL distinct estimate stays inside 4-sigma across random cardinalities; registers are layout-invariant") {
    val rnd = new Random(1207)
    // sigma = 1.04/sqrt(m) at p=12 -> ~1.625%; 4 sigma = 6.5%
    val bound = 4.0 * 1.04 / math.sqrt(4096.0)
    (1 to 4).foreach { round =>
      val nTrue = rnd.nextInt(40000) + 200
      val vals = (0 until nTrue).map(i => s"v${round}_$i")
      // duplicates must not move the estimate: sample with repeats
      val rows = (vals ++ Seq.fill(nTrue / 3)(
        vals(rnd.nextInt(nTrue)))).map(Tuple1(_))
      val df = rows.toDF("x")
      val got = graft.ops.Profile.hllDistinct(df, Seq("x"))
        .select("hll_est").as[Long].head()
      val err = math.abs(got - nTrue).toDouble / nTrue
      assert(err <= bound,
        s"round=$round n=$nTrue est=$got err=$err > $bound")
      // the register file is a max-fold: any partitioning folds to
      // the identical estimate
      val again = graft.ops.Profile.hllDistinct(
        df.repartition(17), Seq("x"))
        .select("hll_est").as[Long].head()
      assert(again == got, "estimate must be layout-invariant")
    }
    // tiny cardinalities ride linear counting exactly-ish: every
    // register distinct -> estimate == true count
    val small = (0 until 30).map(i => Tuple1(s"s$i")).toDF("x")
    val gotSmall = graft.ops.Profile.hllDistinct(small, Seq("x"))
      .select("n_regs", "hll_est").as[(Long, Long)].head()
    assert(gotSmall._1 == 30L && gotSmall._2 == 30L,
      s"linear counting must be near-exact at 30 distinct: $gotSmall")
  }

  test("KMV distinct estimate stays inside 4-sigma across random cardinalities") {
    import graft.ops.Sketch
    val rnd = new Random(11)
    (1 to 3).foreach { round =>
      val n = rnd.nextInt(4000) + 1000
      val k = Seq(128, 256)(rnd.nextInt(2))
      val salt = rnd.nextInt(1000)
      val df = (0 until n).map(i => ("g", s"r$round:$salt:$i")).toDF("g", "v")
      val est = Sketch.distinctCount(df, "g", col("v"), k)
        .select("est_distinct").as[Long].head()
      val bound = 4.0 * n / math.sqrt(k)
      assert(math.abs(est - n) < bound, s"round=$round n=$n k=$k est=$est")
    }
  }

  test("bm25 equals the exact reference on random tie-heavy corpora") {
    val rnd = new Random(4711)
    (1 to rounds).foreach { round =>
      // tiny vocab + repeated docs force score ties, so the
      // (score desc, doc_id) total order genuinely decides ranks
      val vocab = Seq("x", "y", "z", "w", "q")
      val docs = (0L until (rnd.nextInt(40) + 20).toLong).map { id =>
        (id, (1 to (rnd.nextInt(12) + 2))
          .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text").repartition(rnd.nextInt(5) + 1)
      val got = graft.ops.Retrieval.bm25SelfProbe(df, "text", "doc_id",
          $"doc_id" % 7 === 0, nQueryTerms = 3, topK = 4)
        .as[(Long, Long, Long, Long)].collect().toSet
      // exact reference
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val tf = toks.view.mapValues(_.groupBy(identity).view.mapValues(_.size.toLong).toMap).toMap
      val dl = tf.view.mapValues(_.values.sum).toMap
      val n = dl.size.toLong; val t = dl.values.sum
      val dfT = tf.values.flatMap(_.keys).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val want = docs.filter(_._1 % 7 == 0).flatMap { case (qid, _) =>
        val terms = toks(qid).take(3).distinct
        val scores = tf.keys.filter(d => terms.exists(tf(d).contains)).map { d =>
          d -> terms.map { term =>
            tf(d).get(term).fold(0L) { f =>
              val qidf = math.round(math.log(
                (n - dfT(term) + 0.5) / (dfT(term) + 0.5) + 1) * 1e6)
              math.round((qidf * 22L * f).toDouble * t /
                (10L * t * f + 3L * t + 9L * dl(d) * n).toDouble)
            }
          }.sum
        }.toSeq
        scores.sortBy { case (d, s) => (-s, d) }.take(4).zipWithIndex
          .map { case ((d, s), i) => (qid, d, i + 1L, s) }
      }.toSet
      assert(got == want, s"round=$round")
    }
  }

  test("bpe encode equals the min-rank reference on random words and merge tables") {
    val rnd = new Random(8080)
    def refEncode(w: String, rank: Map[(String, String), Int]): List[String] = {
      var syms = w.map(_.toString).toList
      var done = false
      while (!done) {
        val cands = syms.zip(syms.drop(1)).zipWithIndex
          .flatMap { case (p, i) => rank.get(p).map(r => (r, i)) }
        if (cands.isEmpty) done = true
        else {
          val (_, i) = cands.min
          syms = syms.take(i) ++ List(syms(i) + syms(i + 1)) ++ syms.drop(i + 2)
        }
      }
      syms
    }
    (1 to rounds).foreach { round =>
      // adversarial alphabet: 3 letters force overlapping runs
      // ("aaab…") and duplicate pairs at many positions; merge tables
      // mix char pairs with multi-char symbols built from them, so
      // rank priority vs leftmost position genuinely competes
      val alpha = Seq("a", "b", "c")
      val words = Seq.fill(rnd.nextInt(150) + 30)(
        (1 to (rnd.nextInt(10) + 1)).map(_ => alpha(rnd.nextInt(3))).mkString)
        .distinct
      val syms = scala.collection.mutable.ArrayBuffer[String](alpha: _*)
      val merges = (1 to rnd.nextInt(12) + 4).map { _ =>
        val a = syms(rnd.nextInt(syms.length))
        val b = syms(rnd.nextInt(syms.length))
        syms += (a + b)
        (a, b)
      }
      // first occurrence wins on duplicate pairs — pin the table rule
      val rank = merges.zipWithIndex.groupMapReduce(_._1)(_._2)(math.min)
      val got = words.toDF("word")
        .repartition(rnd.nextInt(6) + 1)
        .select($"word", graft.ops.Bpe.encodeCol($"word", merges).as("s"))
        .as[(String, Seq[String])].collect().toMap
      words.foreach { w =>
        assert(got(w) == refEncode(w, rank),
          s"round=$round word='$w' merges=$merges got=${got(w)}")
        assert(got(w).mkString("") == w, "encode must preserve the word")
      }
    }
  }

  test("streaming semantic-dup store matches greedy reference under churn + replays") {
    import graft.streaming.SemanticDupStream
    val rnd = new Random(88)
    val outDir = s"${java.nio.file.Files.createTempDirectory("fuzz-sd")}/out.parquet"
    val stateDir = java.nio.file.Files.createTempDirectory("fuzz-sd-state").toString
    val D = 64 // > max distinct contents: one-hots can never collide
    // contents are one-hot (cross cosine 0) or exact copies (cosine
    // 1): identical vectors always assign to the same cell, so the
    // boundary miss can't fire and the greedy reference is exact
    def content(c: Int): Seq[Double] =
      (0 until D).map(j => if (j == c % D) 1.0 else 0.0)
    val cents = Seq(
      (0L, (0 until D).map(j => if (j < 8) 1.0 else 0.0)),
      (1L, (0 until D).map(j => if (j >= 8 && j < 16) 1.0 else 0.0)),
      (2L, (0 until D).map(j => if (j >= 16 && j < 24) 1.0 else 0.0)),
      (3L, (0 until D).map(j => if (j >= 24) 1.0 else 0.0))
    ).toDF("cid", "cvec")
    var nextId = 0L
    var nextC = 0
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val admitted = scala.collection.mutable.Map[Int, Long]()
    (0 until 8).foreach { b =>
      val docs = (0 until rnd.nextInt(4) + 1).map { _ =>
        val c =
          if (seen.nonEmpty && rnd.nextInt(3) == 0) seen(rnd.nextInt(seen.length))
          else { val fresh = nextC; nextC += 1; seen += fresh; fresh }
        val id = nextId; nextId += 1
        (id, c)
      }
      docs.foreach { case (id, c) => if (!admitted.contains(c)) admitted(c) = id }
      val df = docs.map { case (id, c) => (id, content(c)) }
        .toDF("vec_id", "embedding")
      def run() = SemanticDupStream.semanticDupBatch(spark, df, b.toLong,
        outDir, stateDir, cents, "embedding", "vec_id", threshold = 0.95,
        dim = Some(D), nStoreBuckets = 4, maxStoreDirsPerBucket = 2)
      run()
      if (rnd.nextInt(3) == 0) run() // at-least-once replay
    }
    val got = spark.read.parquet(outDir).select("vec_id").as[Long].collect().toSet
    assert(got == admitted.values.toSet,
      s"admitted mismatch: extra=${got -- admitted.values}, missing=${admitted.values.toSet -- got}")
    assert(spark.read.parquet(outDir).count() == admitted.size,
      "replays must not duplicate rows")
  }

  test("content-defined chunking: random edits invalidate at most 3 chunks each") {
    val rnd = new Random(2025)
    def chunkBag(text: String): Map[String, Int] =
      graft.ops.TextAnalysis.cdcChunk(
          Seq((1L, text)).toDF("doc_id", "text"), "text", "doc_id",
          k = 8, modulus = 16)
        .select("chunk_md5").as[String].collect()
        .groupBy(identity).view.mapValues(_.size).toMap
    for (round <- 1 to rounds) {
      val base = (0 until 300).map(_ => s"w${rnd.nextInt(500)}").mkString(" ")
      val nEdits = 1 + rnd.nextInt(3)
      var edited = base
      for (_ <- 1 to nEdits) {
        val pos = 1 + rnd.nextInt(edited.length - 3)
        edited =
          if (rnd.nextBoolean())
            edited.substring(0, pos) + "zq" + edited.substring(pos)
          else edited.substring(0, pos) + edited.substring(pos + 2)
      }
      val cb = chunkBag(base)
      val ce = chunkBag(edited)
      val shared = cb.map { case (h, n) => math.min(n, ce.getOrElse(h, 0)) }.sum
      val total = cb.values.sum
      // each contiguous edit can invalidate the chunk it lands in plus
      // at most its two neighbors (a boundary gram within k-1 chars);
      // everything else must survive byte-identical
      assert(shared >= total - 3 * nEdits,
        s"round $round: $shared of $total survive after $nEdits edits")
      assert(total > 10, s"round $round: fixture too short to mean anything")
    }
  }

  test("interval merge equals a sweep-line reference on random overlap shapes") {
    val rnd = new Random(4242)
    for (round <- 1 to rounds) {
      val ivs = (0 until 120).map { _ =>
        val k = rnd.nextInt(4).toLong
        val s = rnd.nextInt(200).toLong
        (k, s, s + 1 + rnd.nextInt(30).toLong) // short+long, heavy overlap
      }
      val got = graft.ops.TimeSeries.mergeIntervals(
          ivs.toDF("user_id", "s", "e").repartition(1 + rnd.nextInt(6)),
          "user_id", "s", "e")
        .select("user_id", "island_start", "island_end", "n_intervals")
        .as[(Long, Long, Long, Long)].collect().toSet
      // sweep-line reference: sort, extend while s <= current max end
      val want = ivs.groupBy(_._1).flatMap { case (k, rows) =>
        val sorted = rows.map(t => (t._2, t._3)).sortBy(identity)
        val islands = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        for ((s, e) <- sorted) {
          if (islands.nonEmpty && s <= islands.last._2) {
            val (is, ie, n) = islands.last
            islands(islands.length - 1) = (is, math.max(ie, e), n + 1)
          } else islands += ((s, e, 1L))
        }
        islands.map { case (is, ie, n) => (k, is, ie, n) }
      }.toSet
      assert(got == want, s"round $round")
    }
  }

  test("gap-fill LOCF equals a per-key scan reference on random sparse streams") {
    val rnd = new Random(777)
    for (round <- 1 to rounds) {
      val step = 60L // 1-minute grid over a ~2-hour span
      val evs = (0 until 80).map { i =>
        val k = rnd.nextInt(3).toLong
        val sec = rnd.nextInt(7200).toLong
        val v = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(50).toDouble)
        (k, sec, v, i)
      }
      val df = evs.toDF("user_id", "sec", "value", "i")
        .select($"user_id", expr("timestamp_seconds(sec)").as("ts"), $"value")
      val got = graft.ops.TimeSeries.gapFill(
          df.repartition(1 + rnd.nextInt(5)), "user_id", "ts", "value", step)
        .select($"user_id", expr("unix_timestamp(bucket_ts)").as("b"),
          $"filled_value", $"n_events")
        .as[(Long, Long, Option[Double], Long)].collect().toSet
      val want = evs.groupBy(_._1).flatMap { case (k, rows) =>
        val t0 = rows.map(_._2).min / step * step
        val t1 = rows.map(_._2).max / step * step
        // LOCF at each grid instant: last non-null value among events
        // with ts <= grid, ties by (ts, value) — value max last
        val obs = rows.collect { case (_, s, Some(v), _) => (s, v) }
          .sortBy(identity)
        (t0 to t1 by step).map { b =>
          val fill = obs.filter(_._1 <= b).lastOption.map(_._2)
          val n = rows.count(r => r._2 / step * step == b)
          (k, b, fill, n.toLong)
        }
      }.toSet
      assert(got == want, s"round $round")
    }
  }

  test("nearestJoin equals per-row scan reference incl. same-instant duplicate rights") {
    val rnd = new Random(4242)
    (1 to rounds).foreach { round =>
      // a dense ts range (0..11 s) forces constant same-instant
      // collisions — duplicate rights at one instant, rights AT a
      // left's own instant, rights tied on |delta| both sides — the
      // tie grid the two window orders must resolve deterministically:
      // backward picks the HIGHEST right id at the max ts <= t,
      // forward the LOWEST right id at the min ts >= t, and exact
      // |delta| ties prefer backward (the as-of convention)
      var id = 0L
      val rows = Seq.fill(rnd.nextInt(120) + 30) {
        id += 1
        (rnd.nextInt(4).toLong, id, if (rnd.nextBoolean()) "L" else "R",
          rnd.nextInt(12).toLong)
      }
      val df = rows.toDF("k", "event_id", "typ", "sec")
        .select($"k", $"event_id", $"typ",
          expr("timestamp_seconds(sec)").as("ts"))
      val got = graft.ops.TimeSeries.nearestJoin(
          df.repartition(1 + rnd.nextInt(5)), "k", "ts", "typ", "event_id",
          "L", "R")
        .select($"left_id", $"has_nearest", $"nearest_id", $"delta_ms")
        .as[(Long, Int, Long, Long)].collect().toSet
      val want = rows.filter(_._3 == "L").map { case (k, lid, _, ls) =>
        val rights = rows.filter(r => r._1 == k && r._3 == "R")
        val b = rights.filter(_._4 <= ls) match {
          case Seq() => None
          case cs => Some(cs.maxBy(r => (r._4, r._2)))
        }
        val f = rights.filter(_._4 >= ls) match {
          case Seq() => None
          case cs => Some(cs.minBy(r => (r._4, r._2)))
        }
        (b, f) match {
          case (None, None)     => (lid, 0, -1L, -1L)
          case (Some(bb), None) => (lid, 1, bb._2, (ls - bb._4) * 1000L)
          case (None, Some(ff)) => (lid, 1, ff._2, (ls - ff._4) * 1000L)
          case (Some(bb), Some(ff)) =>
            val db = (ls - bb._4) * 1000L
            val dfm = (ls - ff._4) * 1000L
            if (db <= -dfm) (lid, 1, bb._2, db) else (lid, 1, ff._2, dfm)
        }
      }.toSet
      assert(got == want, s"round $round")
    }
  }

  test("lower exact quantiles equal the sort-based reference: quantileSketch, robustScale, qualityBand") {
    val rnd = new Random(9191)
    def lowerQ(sorted: Seq[Long], p: Double): Long =
      sorted(math.floor(p * (sorted.size - 1)).toInt)
    (1 to rounds).foreach { round =>
      // --- robustScale vs in-memory reference (signed truncation) ---
      val evs = Seq.fill(rnd.nextInt(300) + 50)(
        (rnd.nextInt(3).toString, rnd.nextLong().abs % 10000,
          rnd.nextInt(200) - 100))
        .zipWithIndex.map { case ((g, _, v), i) => (g, i.toLong, v / 100.0) }
      val df = evs.toDF("event_type", "event_id", "value")
      val got = graft.ops.Profile.robustScale(
          df.repartition(1 + rnd.nextInt(5)), "event_type", "event_id", "value")
        .as[(Long, String, Long)].collect().toSet
      val want = evs.groupBy(_._1).flatMap { case (g, rows) =>
        val cents = rows.map(r => math.round(r._3 * 100)).sorted
        val (q1, med, q3) = (lowerQ(cents, 0.25), lowerQ(cents, 0.5),
          lowerQ(cents, 0.75))
        val iqr = q3 - q1
        if (iqr <= 0) Seq.empty
        else rows.map(r =>
          (r._2, g, (math.round(r._3 * 100) - med) * 1000L / iqr))
      }.toSet
      assert(got == want, s"robustScale round $round")

      // --- quantileSketch at full rate vs sorted sample ---
      val xs = Seq.fill(rnd.nextInt(400) + 20)((rnd.nextLong().abs % 1000).toLong)
        .zipWithIndex.map { case (v, i) => (i.toLong, v + rnd.nextDouble()) }
      val xdf = xs.toDF("id", "x")
      val sk = graft.ops.Profile.quantileSketch(
          xdf.repartition(1 + rnd.nextInt(4)),
          org.apache.spark.sql.functions.col("id"), Seq("x"), 1000000L)
        .as[(String, Long, Double, Double, Double)].head()
      val sortedX = xs.map(_._2).sorted
      def lowerD(p: Double) = sortedX(math.floor(p * (sortedX.size - 1)).toInt)
      assert(sk._2 == xs.size.toLong)
      assert(sk._3 == lowerD(0.5) && sk._4 == lowerD(0.9) && sk._5 == lowerD(0.99),
        s"quantileSketch round $round")

      // --- qualityBand membership vs in-memory band reference ---
      val docs = Seq.fill(rnd.nextInt(200) + 30) {
        val lang = s"l${rnd.nextInt(2)}"
        val words = Seq.fill(rnd.nextInt(10) + 1)(
          "a" * (rnd.nextInt(8) + 1)).mkString(" ")
        (lang, words)
      }.zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }
      val ddf = docs.toDF("doc_id", "lang", "text")
      val gotB = graft.ops.TextAnalysis.qualityBand(
          ddf.repartition(1 + rnd.nextInt(4)), "text", "doc_id", "lang")
        .as[(Long, String, Long)].collect().toSet
      val wantB = docs.groupBy(_._2).flatMap { case (lang, rows) =>
        val scored = rows.map { case (id, _, t) =>
          val chars = t.replace(" ", "").length.toLong
          val words = t.split(" ", -1).length.toLong
          (id, chars * 1000000L / words)
        }
        val sortedS = scored.map(_._2).sorted
        val lo = lowerQ(sortedS, 0.1)
        val hi = lowerQ(sortedS, 0.9)
        scored.filter(s => s._2 >= lo && s._2 <= hi)
          .map(s => (s._1, lang, s._2))
      }.toSet
      assert(gotB == wantB, s"qualityBand round $round")
    }
  }

  test("incremental LSH equals the batch-corpus slice of the full minhash run") {
    // both paths share the identical seeded hash family, so the
    // incremental probe must produce EXACTLY the keep-best of the
    // full run's cross pairs — no extra candidates, none lost
    val rnd = new Random(4242)
    val vocab = (0 until 60).map(i => s"w$i")
    (1 to 4).foreach { round =>
      def doc() = Seq.fill(15 + rnd.nextInt(25))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val corpus = (0 until 30).map(i => (i.toLong, doc()))
      // batch: mutated corpus docs (drop/append tokens) + fresh docs
      val batch = corpus.filter(_._1 % 3 == 0).map { case (id, t) =>
        val toks = t.split(" ")
        val mutated = (toks.drop(rnd.nextInt(2)) :+ s"x$id").mkString(" ")
        (id + 1000L, mutated)
      } ++ (0 until 5).map(i => (2000L + i, doc()))
      val cdf = corpus.toDF("doc_id", "text")
      val bdf = batch.toDF("doc_id", "text")
      val got = graft.ops.Dedup.incrementalLsh(cdf, bdf, "text", "doc_id",
        numHashes = 16, numBands = 2, threshold = 0.5)
        .as[(Long, Long, Double)].collect().toSet
      // reference: full self-run over corpus ∪ batch, keep cross pairs
      val full = graft.ops.Dedup.minHashLsh(
        cdf.unionByName(bdf), "text", "doc_id",
        numHashes = 16, numBands = 2, threshold = 0.5)
        .as[(Long, Long, Double)].collect()
      val isBatch = batch.map(_._1).toSet
      val cross = full.flatMap { case (a, b, j) =>
        if (isBatch(a) && !isBatch(b)) Some((a, b, j))
        else if (isBatch(b) && !isBatch(a)) Some((b, a, j))
        else None
      }
      val want = cross.groupBy(_._1).map { case (bid, ms) =>
        val best = ms.minBy(m => (-m._3, m._2))
        (bid, best._2, best._3)
      }.toSet
      assert(got == want, s"incrementalLsh round $round")
    }
  }

  test("ewma equals the per-key scan reference on random streams with duplicate timestamps") {
    val rnd = new Random(909)
    (1 to 4).foreach { round =>
      val k = 1 + rnd.nextInt(4)
      val rows = (0 until 150).map { i =>
        (rnd.nextInt(5).toLong, i.toLong,
          1700000000000L + rnd.nextInt(40) * 1000L, // many exact ts ties
          (rnd.nextInt(4001) - 2000) / 100.0)       // exact cents incl. negatives
      }
      val df = rows.toDF("k", "id", "ms", "v")
        .select($"k", $"id", timestamp_millis($"ms").as("ts"), $"v")
      val got = graft.ops.TimeSeries.ewma(df, "k", "ts", "v", "id", k = k)
        .select("id", "n_window", "smoothed_milli")
        .as[(Long, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      // reference: per key, (ms, id)-sorted scan with halving weights
      val want = rows.groupBy(_._1).flatMap { case (_, rs) =>
        val ordered = rs.sortBy(r => (r._3, r._2))
        ordered.zipWithIndex.map { case ((_, id, _, _), i) =>
          val lags = (0 until math.min(k, i + 1))
            .map(j => math.round(ordered(i - j)._4 * 100))
          val ws = lags.indices.map(j => 1L << (k - 1 - j))
          val num = lags.zip(ws).map { case (q, w) => q * w }.sum
          val den = ws.sum
          val div = num * 10L / den // both positive den; / truncates like div
          (id, (id, lags.size.toLong, div))
        }
      }
      assert(got.size == want.size)
      want.foreach { case (id, (_, nw, sm)) =>
        assert(got(id) == ((nw, sm)), s"round $round k=$k id=$id")
      }
    }
  }

  test("embOutliers scores equal the integer z² reference on random quantized vectors") {
    val rnd = new Random(1313)
    (1 to 3).foreach { round =>
      val dim = 2 + rnd.nextInt(4)
      val n = 30 + rnd.nextInt(50)
      val vecs = (0 until n).map { i =>
        (i.toLong, Array.fill(dim)((rnd.nextInt(2001) - 1000) / 1000.0f))
      }
      val got = graft.sim.Similarity.embOutliers(
        vecs.toDF("vec_id", "embedding"), "embedding", "vec_id",
        dim = dim, topK = n)
        .as[(Long, Long)].collect().toMap
      // reference: replicate quantization, floored moments, per-dim
      // integer division chain exactly
      val q = vecs.map { case (id, v) =>
        (id, v.map(x => math.floor(x.toDouble * 10000).toLong))
      }
      val s = (0 until dim).map(i => q.map(_._2(i)).sum)
      val g = (0 until dim).map(i => q.map(r => r._2(i) * r._2(i)).sum)
      val nn = q.size.toLong
      val want = q.map { case (id, qv) =>
        id -> (0 until dim).map { i =>
          val vr = (nn * g(i) - s(i) * s(i)) / (nn * nn)
          if (vr > 0) {
            val d = qv(i) - s(i) / nn
            d * d * 1000000L / vr
          } else 0L
        }.sum
      }.toMap
      assert(got == want, s"round $round dim=$dim n=$n")
    }
  }

  test("fuzzy join equals brute-force levenshtein on random repetitive/short strings") {
    // tiny alphabet => heavy gram repetition (the bag-ordinal case) and
    // accidental near-matches; lengths 0..8 exercise the sub-q channel
    val rnd = new Random(777)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (1 to 3).foreach { round =>
      def s() = Seq.fill(rnd.nextInt(9))("ab".charAt(rnd.nextInt(2))).mkString
      val left = (0 until 40).map(i => (i.toLong, s()))
      val right = (0 until 40).map(i => (100L + i, s()))
      (0 to 2).foreach { d =>
        val got = graft.ops.FuzzyJoin.join(
          left.toDF("id", "k"), right.toDF("id", "k"),
          "id", "k", "id", "k", maxDist = d, q = 3)
          .as[(Long, String, Long, String, Long)].collect()
          .map(t => (t._1, t._3, t._5)).toSet
        val want = (for {
          (li, lk) <- left; (ri, rk) <- right
          dist = lev(lk, rk) if dist <= d
        } yield (li, ri, dist.toLong)).toSet
        val lm = left.toMap; val rm = right.toMap
        val missing = (want -- got).take(5)
          .map(t => (t, lm(t._1), rm(t._2)))
        val extra = (got -- want).take(5)
          .map(t => (t, lm(t._1), rm(t._2)))
        assert(got == want,
          s"round $round maxDist $d missing=$missing extra=$extra")
      }
    }
  }

  test("fuzzy join stripPrefix stays lossless on template-heavy mixed populations") {
    // the degradation knob (SURVEY B35): stripping a known-constant
    // template prefix before gram blocking must not change the result
    // set — prefix-cancellation lemma for the both-prefixed quadrant,
    // full-key routing for the rest. Population: 80% template keys
    // whose tails are near-identical (the worst case for unstripped
    // blocking), 20% free keys, some shorter than the prefix itself.
    val rnd = new Random(4242)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val P = "acme-supplier-"
    (1 to 3).foreach { round =>
      def tail() = Seq.fill(2 + rnd.nextInt(4))("ab".charAt(rnd.nextInt(2))).mkString
      def key() = rnd.nextInt(10) match {
        case n if n < 8 => P + tail()                  // template
        case 8 => tail()                               // free short key
        case _ => P.substring(0, rnd.nextInt(P.length)) // prefix fragment
      }
      val left = (0 until 40).map(i => (i.toLong, key()))
      val right = (0 until 40).map(i => (100L + i, key()))
      (0 to 2).foreach { d =>
        val got = graft.ops.FuzzyJoin.join(
          left.toDF("id", "k"), right.toDF("id", "k"),
          "id", "k", "id", "k", maxDist = d, q = 3,
          stripPrefix = Some(P))
          .as[(Long, String, Long, String, Long)].collect()
        // original keys restored in the output
        val lm = left.toMap; val rm = right.toMap
        got.foreach { t =>
          assert(t._2 == lm(t._1) && t._4 == rm(t._3),
            s"stripped keys leaked into output: $t")
        }
        val gotSet = got.map(t => (t._1, t._3, t._5)).toSet
        val want = (for {
          (li, lk) <- left; (ri, rk) <- right
          dist = lev(lk, rk) if dist <= d
        } yield (li, ri, dist.toLong)).toSet
        val missing = (want -- gotSet).take(5)
          .map(t => (t, lm(t._1), rm(t._2)))
        val extra = (gotSet -- want).take(5)
          .map(t => (t, lm(t._1), rm(t._2)))
        assert(gotSet == want,
          s"round $round maxDist $d missing=$missing extra=$extra")
        assert(got.length == gotSet.size,
          s"round $round maxDist $d duplicate pairs across quadrants")
      }
    }
  }

  test("overlap join equals the brute-force overlap predicate, each pair exactly once") {
    val rnd = new Random(4096)
    (1 to rounds).foreach { round =>
      // adversarial widths: from sub-bin slivers to 10-bin monsters,
      // touching endpoints common (multiples of 7 collide often)
      def iv() = { val s = rnd.nextInt(400) * 7L
        (s, s + 7L * (1 + rnd.nextInt(70))) }
      val left = (0 until 120).map { i =>
        val k = rnd.nextInt(5).toLong; val (s, e) = iv(); (k, i.toLong, s, e) }
      val right = (0 until 120).map { i =>
        val k = rnd.nextInt(5).toLong; val (s, e) = iv(); (k, 1000L + i, s, e) }
      val got = graft.ops.RangeJoin.overlapJoin(
          left.toDF("k_l", "lid", "l_s", "l_e"), "l_s", "l_e",
          right.toDF("k_r", "rid", "r_s", "r_e"), "r_s", "r_e",
          Seq(("k_l", "k_r")), binWidth = 100L)
        .select("lid", "rid").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size,
        s"round $round: first-shared-bin dedup emitted a duplicate pair")
      val want = (for {
        (lk, lid, ls, le) <- left; (rk, rid, rs, re) <- right
        if lk == rk && ls < re && rs < le
      } yield (lid, rid)).toSet
      assert(got.toSet == want, s"round $round: overlap set diverges " +
        s"(missing=${(want -- got.toSet).take(5)} extra=${(got.toSet -- want).take(5)})")
    }
  }

  test("sliding distinct equals the per-day trailing-window scan on gappy histories") {
    val rnd = new Random(777)
    (1 to rounds).foreach { round =>
      // sparse + bursty: gaps longer than the window must leave holes
      val ev = (0 until 300).map { _ =>
        val u = rnd.nextInt(12).toLong
        val day = rnd.nextInt(60) + (if (rnd.nextInt(4) == 0) 200 else 0)
        (u, new java.sql.Timestamp(day * 86400000L + rnd.nextInt(86400000)))
      }
      val got = graft.ops.TimeSeries.slidingDistinct(
          ev.toDF("user_id", "ts"), "user_id", "ts", windowDays = 7)
        .as[(Long, Long)].collect().toMap
      val byDay = ev.map { case (u, t) => (u, t.getTime / 86400000L) }.distinct
      val dmax = byDay.map(_._2).max
      val want = (byDay.map(_._2).min to dmax).map { d =>
        d -> byDay.filter(x => x._2 >= d - 6 && x._2 <= d).map(_._1).distinct.size.toLong
      }.filter(_._2 > 0).toMap
      assert(got == want, s"round $round: " +
        s"diff=${(want.toSet diff got.toSet).take(3)} ${(got.toSet diff want.toSet).take(3)}")
    }
  }

  test("overlap join half-open boundary: touching intervals never pair") {
    // touching half-open intervals [a,b) [b,c) do NOT overlap
    val t = graft.ops.RangeJoin.overlapJoin(
      Seq((1L, 1L, 0L, 100L)).toDF("k_l", "lid", "l_s", "l_e"), "l_s", "l_e",
      Seq((1L, 2L, 100L, 200L)).toDF("k_r", "rid", "r_s", "r_e"), "r_s", "r_e",
      Seq(("k_l", "k_r")), binWidth = 50L)
    assert(t.count() == 0, "touching endpoints must not pair")
  }

  test("wordpiece encode equals a driver greedy reference on random words and vocabs") {
    val rnd = new Random(1311)
    (1 to rounds).foreach { _ =>
      val alpha = "abcde"
      def randPiece(): String =
        Seq.fill(rnd.nextInt(3) + 1)(alpha(rnd.nextInt(alpha.length))).mkString
      // vocab: random pieces in both forms plus partial char coverage
      // (so [UNK] genuinely fires on some words)
      val vocab = (Seq.fill(12)(randPiece()) ++
        Seq.fill(12)("##" + randPiece()) ++ Seq("a", "b", "##a", "##b")).distinct
      val words = Seq.fill(60)(
        Seq.fill(rnd.nextInt(8) + 1)(alpha(rnd.nextInt(alpha.length))).mkString)
        .distinct
      // driver reference: greedy longest-match-first, whole-word UNK
      val init = vocab.filterNot(_.startsWith("##")).toSet
      val cont = vocab.filter(_.startsWith("##")).map(_.drop(2)).toSet
      def ref(w: String): Seq[String] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var pos = 0
        while (pos < w.length) {
          val set = if (pos == 0) init else cont
          val l = (math.min(w.length - pos,
            if (set.isEmpty) 0 else set.map(_.length).max) to 1 by -1)
            .find(n => set.contains(w.substring(pos, pos + n)))
          l match {
            case Some(n) =>
              out += (if (pos == 0) w.substring(pos, pos + n)
                      else "##" + w.substring(pos, pos + n))
              pos += n
            case None => return Seq("[UNK]")
          }
        }
        out.toSeq
      }
      val got = graft.ops.WordPiece.encodeWords(
          words.map(w => (w, 1L)).toDF("word", "freq"), vocab)
        .select("word", "seg").as[(String, String)].collect().toMap
      words.foreach { w =>
        assert(got(w) == ref(w).mkString(" "),
          s"word '$w' vocab $vocab: got ${got(w)}, want ${ref(w)}")
      }
    }
  }

  test("frequent values equal a driver count-and-sort reference on random columns") {
    val rnd = new Random(4242)
    (1 to rounds).foreach { _ =>
      val rows = Seq.fill(rnd.nextInt(400) + 50)(
        (s"v${rnd.nextInt(12)}", rnd.nextInt(6).toLong))
      val k = rnd.nextInt(4) + 1
      val got = graft.ops.Profile.frequentValues(
          rows.toDF("s", "v"), Seq("s", "v"), k)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      def refCol(name: String, vals: Seq[String]) =
        vals.groupBy(identity).view.mapValues(_.size.toLong).toSeq
          .sortBy { case (v, n) => (-n, v) }.take(k).zipWithIndex
          .map { case ((v, n), i) => (name, v, n, (i + 1).toLong) }
      val want = (refCol("s", rows.map(_._1)) ++
        refCol("v", rows.map(_._2.toString))).toSet
      assert(got == want)
    }
  }

  test("ppl bucket terciles equal a driver sorted-cut reference on random corpora") {
    val rnd = new Random(777)
    (1 to rounds).foreach { _ =>
      val vocabW = Seq("aa", "bb", "cc", "dd", "ee", "ff")
      val docs = (0L until (rnd.nextInt(40) + 20).toLong).map { id =>
        (id, Seq.fill(rnd.nextInt(10) + 2)(
          vocabW(rnd.nextInt(vocabW.length))).mkString(" "))
      }
      val got = graft.ops.TextAnalysis.pplBucket(
          docs.toDF("doc_id", "text"), "text", "doc_id")
        .select("doc_id", "cost_micro", "bucket")
        .as[(Long, Long, String)].collect()
      // reference: recompute LM + costs, cut at exact lower terciles
      val bgs = docs.flatMap { case (id, t) =>
        val w = t.split(" ").toSeq
        w.sliding(2).filter(_.size == 2).map(p => (id, p.mkString(" "))).toSeq
      }
      val c2 = bgs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val c1 = c2.groupBy(_._1.split(" ")(0)).view
        .mapValues(_.values.sum).toMap
      val cost = bgs.groupBy(_._1).view.mapValues { bs =>
        val s = bs.map { case (_, bg) =>
          val p = c2(bg).toDouble / c1(bg.split(" ")(0))
          math.round(-math.log(p) * 1e6)
        }.sum
        s / bs.size
      }.toMap
      val sorted = cost.values.toSeq.sorted
      val n = sorted.length
      val qLo = sorted(((n - 1) / 3).toInt)
      val qHi = sorted((((n - 1) * 2) / 3).toInt)
      got.foreach { case (id, c, b) =>
        assert(c == cost(id), s"doc $id cost: got $c want ${cost(id)}")
        val want = if (c <= qLo) "head" else if (c <= qHi) "middle" else "tail"
        assert(b == want, s"doc $id (cost $c, edges $qLo/$qHi): got $b")
      }
      assert(got.length == cost.size)
    }
  }

  test("weightedQuantiles equals the scan reference on random weighted frames") {
    val rnd = new Random(112)
    val qs = Seq(100000L, 250000L, 500000L, 900000L, 1000000L)
    (1 to rounds).foreach { _ =>
      val rows = Seq.fill(rnd.nextInt(300) + 5)(
        ("g" + rnd.nextInt(3), (rnd.nextInt(20) * 25) / 10.0,
          rnd.nextInt(5).toLong + 1L))
      val got = graft.ops.Stats.weightedQuantiles(
          rows.toDF("grp", "value", "w"), "grp", "value", col("w"), qs)
        .as[(String, Long, Double, Long)].collect().toSet
      val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
        val byVal = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
          .toSeq.sortBy(_._1)
        val tot = byVal.map(_._2).sum
        var cum = 0L
        val cums = byVal.map { case (v, w) => cum += w; (v, cum) }
        qs.map { q =>
          val v = cums.find { case (_, c) => c * 1000000L >= q * tot }.get._1
          (g, q, v, tot)
        }
      }.toSet
      assert(got == expect)
    }
  }

  test("theilSen equals the brute-force pairwise median on random series") {
    val rnd = new Random(113)
    (1 to rounds).foreach { _ =>
      val rows = (0 until 3).flatMap { g =>
        val xs = rnd.shuffle((0 to 40).toList).take(rnd.nextInt(15) + 3)
        xs.map(x => ("k" + g, x.toLong, rnd.nextInt(200).toLong - 50L))
      }
      val got = graft.ops.Stats.theilSen(
          rows.toDF("k", "x", "y"), "k", col("x"), col("y"))
        .as[(String, Long, Long)].collect().toSet
      val expect = rows.groupBy(_._1).map { case (k, rs) =>
        val pts = rs.map(r => (r._2, r._3)).sortBy(_._1)
        val slopes = (for {
          i <- pts.indices; j <- pts.indices if pts(j)._1 > pts(i)._1
        } yield java.math.BigDecimal.valueOf(
            (pts(j)._2 - pts(i)._2).toDouble * 1e6
              / (pts(j)._1 - pts(i)._1).toDouble)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue).sorted
        (k, slopes.length.toLong, slopes((slopes.length - 1) / 2))
      }.toSet
      assert(got == expect)
    }
  }

  test("transitionMatrix equals the per-key scan reference on random sequences") {
    val rnd = new Random(114)
    (1 to rounds).foreach { _ =>
      val rows = Seq.tabulate(rnd.nextInt(400) + 10)(i =>
        (rnd.nextInt(8).toLong, rnd.nextInt(20).toLong, i.toLong,
          "s" + rnd.nextInt(4)))
      val got = graft.ops.Stats.transitionMatrix(
          rows.toDF("k", "ms", "eid", "st"), "k",
          Seq(col("ms").asc, col("eid").asc), "st")
        .as[(String, String, Long, Long)].collect().toSet
      val pairs = rows.groupBy(_._1).values.flatMap { rs =>
        rs.sortBy(r => (r._2, r._3)).map(_._4).sliding(2)
          .collect { case Seq(a, b) => (a, b) }
      }.toSeq
      val counts = pairs.groupBy(identity).view.mapValues(_.size.toLong)
      val totals = pairs.groupBy(_._1).view.mapValues(_.size.toLong)
      val expect = counts.map { case ((a, b), n) =>
        (a, b, n, n * 1000000L / totals(a))
      }.toSet
      assert(got == expect)
    }
  }

  test("compaction plan equals the scan reference and conserves every file") {
    val rnd = new Random(115)
    (1 to rounds).foreach { _ =>
      val target = rnd.nextInt(400) + 100L
      val thresh = rnd.nextInt(300) + 50L
      val manifest = Seq.tabulate(rnd.nextInt(200) + 5)(i =>
        (rnd.nextInt(4).toLong, i.toLong, rnd.nextInt(500).toLong + 1L))
      val got = graft.cdc.Compaction.plan(
          manifest.toDF("bucket", "file_id", "n_rows"),
          "bucket", "file_id", "n_rows", target, thresh)
        .as[(String, String, Long, Long, Long, Long)]
        .collect().toSet
      val expect = manifest.groupBy(_._1).flatMap { case (b, fs) =>
        val (big, small) = fs.sortBy(_._2).partition(_._3 >= thresh)
        var cum = 0L
        val grouped = small.map { f =>
          cum += f._3; ((cum - f._3) / target, f)
        }.groupBy(_._1).values.map(_.map(_._2))
        grouped.map { g =>
          (b.toString, if (g.length > 1) "merge" else "keep",
            g.length.toLong, g.map(_._3).sum, g.map(_._2).min,
            g.map(_._2).max)
        } ++ big.map(f => (b.toString, "keep", 1L, f._3, f._2, f._2))
      }.toSet
      assert(got.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)) ==
        expect.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)))
      // conservation: every file's rows appear exactly once
      assert(got.toSeq.map(_._4).sum == manifest.map(_._3).sum)
    }
  }

  test("sessionPaths equals the scan reference on random bursty streams") {
    val rnd = new Random(117)
    (1 to rounds).foreach { _ =>
      // bursty timestamps so session gaps actually occur
      val rows = (0 until 6).flatMap { u =>
        var t = 0L
        Seq.tabulate(rnd.nextInt(20) + 1) { i =>
          t += (if (rnd.nextInt(4) == 0) 2000000L else rnd.nextInt(1000).toLong)
          (u.toLong, t, i.toLong, "s" + rnd.nextInt(3))
        }
      }
      val got = graft.ops.Stats.sessionPaths(
          rows.toDF("u", "ms", "eid", "st"), "u", col("ms"), col("eid"),
          "st", gapMs = 1800000L, k = 3)
        .as[(String, Long)].collect().toMap
      val expect = rows.groupBy(_._1).values.flatMap { rs =>
        val sorted = rs.sortBy(r => (r._2, r._3))
        val sessions = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer[String]())
        var prev = Long.MinValue
        sorted.foreach { r =>
          if (prev != Long.MinValue && r._2 - prev > 1800000L)
            sessions += scala.collection.mutable.ArrayBuffer[String]()
          sessions.last += r._4
          prev = r._2
        }
        sessions.map(_.take(3).mkString(">"))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == expect)
    }
  }

  test("retention plan equals the tier reference on random snapshot sets") {
    val rnd = new Random(118)
    (1 to rounds).foreach { _ =>
      val days = (0 until rnd.nextInt(80) + 5)
        .map(_ => rnd.nextInt(120).toLong).distinct
      val (kd, kw) = (rnd.nextInt(10) + 1, rnd.nextInt(6) + 1)
      val got = graft.cdc.Retention.plan(
          days.map(Tuple1(_)).toDF("snap_day"), "snap_day", kd, kw)
        .as[(Long, Long, String)].collect().toSet
      val mx = days.max
      val wkMax = days.groupBy(_ / 7).view.mapValues(_.max).toMap
      val expect = days.map { d =>
        val age = mx - d
        val a = if (age < kd) "keep-daily"
        else if (d == wkMax(d / 7) && age < kw * 7L) "keep-weekly"
        else "drop"
        (d, age, a)
      }.toSet
      assert(got == expect, s"kd=$kd kw=$kw")
    }
  }

  test("noveltyCurve equals the first-seen reference on random key streams") {
    val rnd = new Random(119)
    (1 to rounds).foreach { _ =>
      val rows = Seq.fill(rnd.nextInt(400) + 10)(
        (rnd.nextInt(60).toLong, rnd.nextInt(15).toLong))
      val got = graft.ops.Profile.noveltyCurve(
          rows.toDF("k", "d"), "k", col("d"))
        .as[(Long, Long, Long, Long)].collect().toSet
      val firstSeen = rows.groupBy(_._1).view.mapValues(_.map(_._2).min)
      val perDay = rows.groupBy(_._2).view.mapValues(_.size.toLong)
      val newPerDay = firstSeen.values.groupBy(identity)
        .view.mapValues(_.size.toLong)
      val daysSorted = perDay.keys.toSeq.sorted
      var cum = 0L
      val expect = daysSorted.map { d =>
        cum += newPerDay.getOrElse(d, 0L)
        (d, perDay(d), newPerDay.getOrElse(d, 0L), cum)
      }.toSet
      assert(got == expect)
    }
  }

  test("psi equals the smoothed-term reference on random category samples") {
    val rnd = new Random(120)
    (1 to rounds).foreach { _ =>
      val cur = Seq.fill(rnd.nextInt(150) + 1)("c" + rnd.nextInt(8))
      val ref = Seq.fill(rnd.nextInt(150) + 1)("c" + rnd.nextInt(10))
      val got = graft.ops.Profile.psi(
          cur.map(Tuple1(_)).toDF("cat"), ref.map(Tuple1(_)).toDF("cat"),
          "cat")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
      val cats = (cur ++ ref).distinct
      val k = cats.size.toLong
      val (tc, tr) = (cur.size.toLong, ref.size.toLong)
      val expect = cats.map { c =>
        val (nc, nr) = (cur.count(_ == c).toLong, ref.count(_ == c).toLong)
        val (pc, pr) = ((nc + 1.0) / (tc + k), (nr + 1.0) / (tr + k))
        val term = java.math.BigDecimal.valueOf(
          (pc - pr) * math.log((nc + 1.0) * (tr + k) / ((nr + 1.0) * (tc + k)))
            * 1e6).setScale(0, java.math.RoundingMode.HALF_UP).longValue
        (c, nc, nr, (nc + 1) * 1000000L / (tc + k),
          (nr + 1) * 1000000L / (tr + k), term)
      }.toSet
      assert(got == expect)
    }
  }

  test("basketAffinity equals the co-presence reference on random bursty streams") {
    val rnd = new Random(121)
    (1 to rounds).foreach { _ =>
      val rows = (0 until 6).flatMap { u =>
        var t = 0L
        Seq.tabulate(rnd.nextInt(25) + 2) { i =>
          t += (if (rnd.nextInt(4) == 0) 2000000L else rnd.nextInt(1000).toLong)
          (u.toLong, t, i.toLong, "s" + rnd.nextInt(4))
        }
      }
      val got = graft.ops.Stats.basketAffinity(
          rows.toDF("u", "ms", "eid", "st"), "u", col("ms"), col("eid"),
          "st", gapMs = 1800000L)
        .as[(String, String, Long, Long, Long, Long)].collect().toSet
      // reference: rebuild sessions, session-distinct states, pairs
      val baskets = rows.groupBy(_._1).values.flatMap { rs =>
        val sorted = rs.sortBy(r => (r._2, r._3))
        val out = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.Set[String]())
        var prev = Long.MinValue
        sorted.foreach { r =>
          if (prev != Long.MinValue && r._2 - prev > 1800000L)
            out += scala.collection.mutable.Set[String]()
          out.last += r._4
          prev = r._2
        }
        out
      }.toSeq
      val nS = baskets.size.toLong
      val marg = baskets.flatten.groupBy(identity)
        .view.mapValues(_.size.toLong)
      val pairCounts = baskets.flatMap { b =>
        val ss = b.toSeq.sorted
        for (i <- ss.indices; j <- (i + 1) until ss.size) yield (ss(i), ss(j))
      }.groupBy(identity).view.mapValues(_.size.toLong)
      val expect = pairCounts.map { case ((a, b), n) =>
        (a, b, n, marg(a), marg(b), n * nS * 1000000L / (marg(a) * marg(b)))
      }.toSet
      assert(got == expect)
    }
  }

  test("mannWhitney equals the midrank reference on random tie-heavy cohorts") {
    val rnd = new Random(2214)
    (1 to rounds).foreach { round =>
      // few distinct values → heavy ties, the regime where midranks
      // and the tie correction actually bite; occasional one-sided
      // and single-value groups exercise the NULL guards
      val rows = Seq.fill(rnd.nextInt(300) + 5)(
        ("g" + rnd.nextInt(3), rnd.nextBoolean(),
          rnd.nextInt(if (rnd.nextBoolean()) 4 else 40).toLong))
      val got = graft.ops.Stats.mannWhitney(
          rows.toDF("grp", "b", "v"), "grp", col("b"), col("v"))
        .as[(String, Long, Long, Long, Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val expect = rows.groupBy(_._1).map { case (g, rs) =>
        val sorted = rs.map(_._3).sorted
        // 2×midrank of value v: 2·|{< v}| + |{== v}| + 1
        def rank2(v: Long) =
          2L * sorted.count(_ < v) + sorted.count(_ == v) + 1L
        val na = rs.count(!_._2).toLong
        val nb = rs.count(_._2).toLong
        val rs2 = rs.filter(_._2).map(r => rank2(r._3)).sum
        val u2 = rs2 - nb * (nb + 1)
        val ties = sorted.distinct.map { v =>
          val t = sorted.count(_ == v).toLong; t * t * t - t
        }.sum
        val dn = (na + nb).toDouble
        val corr = (dn + 1.0) - ties.toDouble / (dn * (dn - 1.0))
        val z =
          if (na == 0 || nb == 0 || corr <= 0) None
          else Some(math.round(
            ((u2.toDouble - na.toDouble * nb.toDouble) / 2.0)
              / math.sqrt(na.toDouble * nb.toDouble / 12.0 * corr) * 1e6))
        g -> ((na, nb, u2, z))
      }
      assert(got == expect, s"round=$round diverged:\n$got\nvs\n$expect")
    }
  }

  test("rebalancePlan: interval-matching reference, conservation, post-plan balance") {
    val rnd = new Random(7310)
    (1 to rounds).foreach { round =>
      val n = rnd.nextInt(12) + 2
      // skewed loads incl. zero-weight shards and one whale
      val loads = (0 until n).map(i => (i.toLong,
        if (i == 0) rnd.nextInt(100000).toLong
        else rnd.nextInt(3) match {
          case 0 => 0L
          case _ => rnd.nextInt(5000).toLong
        }))
      val got = graft.ops.Sampling.rebalancePlan(
          loads.toDF("shard", "w"), "shard", "w")
        .as[(Long, Long, Long)].collect().toSet
      // driver reference: same cumulative-interval matching
      val total = loads.map(_._2).sum
      val targets = loads.sortBy(_._1).zipWithIndex.map { case ((s, w), r) =>
        (s, w, total / n + (if (r < total % n) 1L else 0L))
      }
      val donors = targets.filter(t => t._2 > t._3)
        .map(t => (t._1, t._2 - t._3))
      val recv = targets.filter(t => t._2 < t._3)
        .map(t => (t._1, t._3 - t._2))
      def cum(xs: Seq[(Long, Long)]) = xs.scanLeft(0L)(_ + _._2).zip(xs)
        .map { case (start, (s, d)) => (s, start, start + d) }
      val expect = (for {
        (ds, d0, d1) <- cum(donors)
        (rs, r0, r1) <- cum(recv)
        if d0 < r1 && r0 < d1
      } yield (ds, rs, math.min(d1, r1) - math.max(d0, r0))).toSet
      assert(got == expect, s"round=$round diverged")
      // conservation + post-plan balance within ±1 of the mean
      val out = got.groupBy(_._1).view
        .mapValues(_.toSeq.map(_._3).sum).toMap
      val in = got.groupBy(_._2).view
        .mapValues(_.toSeq.map(_._3).sum).toMap
      val after = loads.map { case (s, w) =>
        w - out.getOrElse(s, 0L) + in.getOrElse(s, 0L)
      }
      assert(after.sum == total)
      assert(after.forall(a => a == total / n || a == total / n + 1),
        s"round=$round unbalanced: $after")
      assert(got.toSeq.map(_._3).sum == donors.map(_._2).sum,
        "total moved must equal total surplus (minimality)")
    }
  }

  test("stationaryDistribution equals the driver power-iteration reference") {
    val rnd = new Random(808)
    (1 to rounds).foreach { round =>
      val states = (0 until rnd.nextInt(5) + 2).map(i => s"s$i")
      // random transition counts; some states source-less (target-only)
      val trans = for {
        a <- states if rnd.nextInt(5) > 0
        b <- states if rnd.nextInt(3) > 0
      } yield (a, b, (rnd.nextInt(50) + 1).toLong)
      if (trans.nonEmpty) {
        val iters = rnd.nextInt(6) + 1
        val got = graft.ops.Stats.stationaryDistribution(
            trans.toDF("state", "next_state", "n_transitions"), iters)
          .as[(String, Long)].collect().toMap
        val all = (trans.map(_._1) ++ trans.map(_._2)).distinct
        val tot = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
        var pi = all.map(_ -> 1000000L).toMap
        (0 until iters).foreach { _ =>
          val inflow = trans.groupBy(_._2).view.mapValues(_.map { case (a, _, n) =>
            Math.floorDiv(pi(a) * n, tot(a))
          }.sum).toMap
          pi = all.map(st => st -> (inflow.getOrElse(st, 0L)
            + (if (tot.contains(st)) 0L else pi(st)))).toMap
        }
        assert(got == pi, s"round=$round diverged: $got vs $pi")
      }
    }
  }

  test("cuped equals the pooled-theta reference and beats raw Welch on correlated panels") {
    val rnd = new Random(2013)
    (1 to rounds).foreach { round =>
      // correlated panel: y = x + noise (+ planted lift on treatment),
      // the regime CUPED exists for
      val rows = Seq.fill(rnd.nextInt(200) + 10) {
        val t = rnd.nextBoolean()
        val x = rnd.nextInt(5000).toLong
        val y = x + rnd.nextInt(800) + (if (t) 300L else 0L)
        ("g" + rnd.nextInt(2), t, x, y)
      }
      val got = graft.ops.Stats.cuped(
          rows.toDF("grp", "t", "x", "y"), "grp", col("t"),
          col("x"), col("y"))
        .as[(String, Long, Long, Option[Long], Option[Long], Option[Long])]
        .collect().map(r => r._1 -> r).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val a = rs.filter(!_._2); val bb = rs.filter(_._2)
        val r = got(g)
        assert((r._2, r._3) == ((a.size.toLong, bb.size.toLong)))
        if (a.size < 2 || bb.size < 2) assert(r._6.isEmpty)
        else {
          def mm(c: Seq[(String, Boolean, Long, Long)]) = (
            c.size.toLong, c.map(_._3).sum, c.map(_._4).sum,
            c.map(v => v._3 * v._4).sum, c.map(v => v._3 * v._3).sum,
            c.map(v => v._4 * v._4).sum)
          val (na, sxa, sya, sxya, sxxa, syya) = mm(a)
          val (nb, sxb, syb, sxyb, sxxb, syyb) = mm(bb)
          val n = na + nb
          val thden = (n * (sxxa + sxxb)
            - (sxa + sxb) * (sxa + sxb)).toDouble
          if (thden == 0) assert(r._6.isEmpty)
          else {
            val theta = (n * (sxya + sxyb)
              - (sxa + sxb) * (sya + syb)).toDouble / thden
            def madj(sy: Long, sx: Long, nn: Long) =
              sy.toDouble / nn.toDouble - theta * (sx.toDouble / nn.toDouble)
            val diff = madj(syb, sxb, nb) - madj(sya, sxa, na)
            def vadj(nn: Long, sx: Long, sy: Long, sxy: Long,
                     sxx: Long, syy: Long) =
              ((nn * syy - sy * sy).toDouble
                - 2 * theta * (nn * sxy - sx * sy).toDouble
                + theta * theta * (nn * sxx - sx * sx).toDouble) /
                (nn.toDouble * nn.toDouble * (nn.toDouble - 1))
            val z = diff / math.sqrt(
              vadj(na, sxa, sya, sxya, sxxa, syya)
                + vadj(nb, sxb, syb, sxyb, sxxb, syyb))
            assert(r._4.contains(math.round(theta * 1e6)),
              s"round=$round $g theta diverged")
            assert(r._5.contains(math.round(diff * 1e6)))
            assert(r._6.contains(math.round(z * 1e6)),
              s"round=$round $g z diverged")
            // the point of CUPED: on this correlated panel the
            // adjusted variance must undercut the raw y variance
            val rawVa = (na * syya - sya * sya).toDouble /
              (na.toDouble * na * (na - 1))
            assert(vadj(na, sxa, sya, sxya, sxxa, syya) < rawVa,
              s"round=$round $g: adjustment must reduce variance")
          }
        }
      }
    }
  }

  test("mde equals the power-formula reference on random cohorts") {
    val rnd = new Random(2080)
    (1 to rounds).foreach { round =>
      val rows = Seq.fill(rnd.nextInt(250) + 2)(
        ("g" + rnd.nextInt(3), rnd.nextBoolean(),
          (rnd.nextInt(2000) - 300).toLong))
      val got = graft.ops.Stats.mde(
          rows.toDF("grp", "b", "y"), "grp", col("b"), col("y"))
        .as[(String, Long, Long, Option[Long], Option[Long])]
        .collect().map(r => r._1 -> r).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val a = rs.filter(!_._2).map(_._3)
        val bb = rs.filter(_._2).map(_._3)
        val r = got(g)
        assert((r._2, r._3) == ((a.size.toLong, bb.size.toLong)))
        if (a.size < 2 || bb.size < 2) assert(r._4.isEmpty && r._5.isEmpty)
        else {
          def vm(c: Seq[Long]) = {
            val n = c.size.toDouble
            val sy = c.sum.toDouble; val syy = c.map(x => x * x).sum.toDouble
            (n * syy - sy * sy) / (n * n * (n - 1.0))
          }
          val mded = (1.9599639845400545 + 0.8416212335729143) *
            math.sqrt(vm(a) + vm(bb))
          assert(r._4.contains(math.round(mded * 1e6)),
            s"round=$round $g mde diverged")
          val pooled = (a.sum + bb.sum).toDouble / (a.size + bb.size)
          if (a.sum + bb.sum == 0L) assert(r._5.isEmpty)
          else assert(r._5.contains(math.round(mded / pooled * 1e6)))
        }
      }
    }
  }

  test("ksTest equals the ECDF-gap reference on random tie-heavy cohorts") {
    val rnd = new Random(1933)
    (1 to rounds).foreach { round =>
      val rows = Seq.fill(rnd.nextInt(300) + 5)(
        ("g" + rnd.nextInt(3), rnd.nextBoolean(),
          rnd.nextInt(if (rnd.nextBoolean()) 5 else 50).toLong))
      val got = graft.ops.Stats.ksTest(
          rows.toDF("grp", "b", "v"), "grp", col("b"), col("v"))
        .as[(String, Long, Long, Option[Long], Option[Long], Option[Int])]
        .collect().map(r => r._1 -> r).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val a = rs.filter(!_._2).map(_._3)
        val bb = rs.filter(_._2).map(_._3)
        val (na, nb) = (a.size.toLong, bb.size.toLong)
        val r = got(g)
        assert((r._2, r._3) == ((na, nb)))
        if (na == 0 || nb == 0) assert(r._4.isEmpty && r._6.isEmpty)
        else {
          val vs = rs.map(_._3).distinct.sorted
          val dnum = vs.map(v =>
            math.abs(a.count(_ <= v) * nb - bb.count(_ <= v) * na)).max
          val dppm = dnum * 1000000L / (na * nb)
          val crit = 1.358 * math.sqrt((na + nb).toDouble
            / (na.toDouble * nb.toDouble))
          assert(r._4.contains(dppm), s"round=$round $g d diverged")
          assert(r._6.contains(
            if (dnum.toDouble / (na.toDouble * nb.toDouble) > crit) 1 else 0))
        }
      }
    }
  }

  test("didTest equals the four-cell reference on random panels") {
    val rnd = new Random(4213)
    (1 to rounds).foreach { round =>
      // random panels incl. occasional missing/degenerate cells
      val rows = Seq.fill(rnd.nextInt(400) + 4)(
        ("g" + rnd.nextInt(3), rnd.nextBoolean(),
          rnd.nextBoolean(), (rnd.nextInt(2000) - 500).toLong))
        .filterNot { r =>
          // sometimes knock out a whole cell for one group
          round % 2 == 0 && r._1 == "g0" && r._2 && r._3
        }
      val got = graft.ops.Stats.didTest(
          rows.toDF("grp", "t", "post", "y"),
          "grp", col("t"), col("post"), col("y"))
        .as[(String, Long, Long, Long, Long, Option[Long], Option[Long])]
        .collect().map(r => r._1 -> r).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        def cell(t: Boolean, p: Boolean) = rs.filter(r => r._2 == t && r._3 == p)
        val cells = Seq((false, false), (false, true),
          (true, false), (true, true)).map { case (t, p) => cell(t, p) }
        val ns = cells.map(_.size.toLong)
        def m(c: Seq[(String, Boolean, Boolean, Long)]) =
          c.map(_._4).sum.toDouble / c.size
        def vm(c: Seq[(String, Boolean, Boolean, Long)]) = {
          val n = c.size.toDouble
          val sy = c.map(_._4).sum.toDouble
          val syy = c.map(r => r._4 * r._4).sum.toDouble
          (n * syy - sy * sy) / (n * n * (n - 1.0))
        }
        val did =
          if (ns.contains(0L)) None
          else Some(math.round(((m(cells(3)) - m(cells(2)))
            - (m(cells(1)) - m(cells(0)))) * 1e6))
        val flat = cells.forall { c =>
          val sy = c.map(_._4).sum; val syy = c.map(r => r._4 * r._4).sum
          c.size.toLong * syy - sy * sy == 0L
        }
        val z =
          if (ns.exists(_ < 2L) || flat) None
          else Some(math.round(((m(cells(3)) - m(cells(2)))
            - (m(cells(1)) - m(cells(0))))
            / math.sqrt(cells.map(vm).sum) * 1e6))
        val r = got(g)
        assert((r._2, r._3, r._4, r._5) == ((ns(0), ns(1), ns(2), ns(3))),
          s"round=$round counts diverged for $g")
        assert(r._6 == did && r._7 == z,
          s"round=$round $g: got (${r._6}, ${r._7}) want ($did, $z)")
      }
    }
  }

  test("bhFdr equals the driver BH walk on random z batteries") {
    val rnd = new Random(1995)
    def phi(az: Double): Double = {
      val t = 1.0 / (1.0 + 0.2316419 * az)
      val poly = t * (0.319381530 + t * (-0.356563782 + t * (1.781477937
        + t * (-1.821255978 + t * 1.330274429))))
      math.exp(-0.5 * az * az) / 2.5066282746310002 * poly
    }
    (1 to rounds).foreach { round =>
      // mixture battery: nulls (degenerate tests), strong effects,
      // and uniform noise — the shape a real segment sweep produces
      val battery = (0 until rnd.nextInt(80) + 5).map { i =>
        val z: Option[Long] =
          if (rnd.nextInt(10) == 0) None
          else if (rnd.nextInt(4) == 0)
            Some((rnd.nextGaussian() * 1e6 + 5e6).toLong)
          else Some((rnd.nextGaussian() * 1e6).toLong)
        (s"h$i", z)
      }
      val alpha = 50000L
      val got = graft.ops.Stats.bhFdr(
          battery.toDF("id", "z"), "id", col("z"), alpha)
        .as[(String, Long, Long, Long, Long, Boolean)].collect().toSet
      val scored = battery.collect { case (id, Some(z)) =>
        (id, z, math.round(2.0 * phi(math.abs(z.toDouble / 1e6)) * 1e6))
      }.sortBy(r => (r._3, r._1))
      val m = scored.size.toLong
      val kStar = scored.zipWithIndex
        .filter { case ((_, _, p), i) => p * m <= (i + 1) * alpha }
        .map(_._2 + 1L).maxOption.getOrElse(0L)
      val expect = scored.zipWithIndex.map { case ((id, z, p), i) =>
        (id, z, p, i + 1L, m, (i + 1L) <= kStar)
      }.toSet
      assert(got == expect, s"round=$round diverged")
    }
  }

  test("abTest equals the formula reference on random cohorts") {
    val rnd = new Random(116)
    (1 to rounds).foreach { _ =>
      val rows = Seq.fill(rnd.nextInt(200) + 8)(
        ("g" + rnd.nextInt(3), rnd.nextInt(100).toLong,
          rnd.nextInt(500).toLong))
      val got = graft.ops.Stats.abTest(rows.toDF("grp", "uid", "y"),
          "grp", col("uid") % 2 === 1, col("y"))
        .as[(String, Long, Long, Long, Option[Long])].collect().toSet
      val expect = rows.groupBy(_._1).collect {
        case (g, rs) if rs.exists(_._2 % 2 == 0) && rs.exists(_._2 % 2 == 1) =>
          val a = rs.filter(_._2 % 2 == 0).map(_._3)
          val b = rs.filter(_._2 % 2 == 1).map(_._3)
          def vn(s: Seq[Long]) =
            (s.size.toLong * s.map(y => y * y).sum - s.sum * s.sum).toDouble
          val (da, db) = (a.size.toDouble, b.size.toDouble)
          val diff = b.sum / db - a.sum / da
          def md(x: Double) = java.math.BigDecimal.valueOf(x * 1e6)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue
          val z =
            if (a.size < 2 || b.size < 2 || (vn(a) == 0 && vn(b) == 0)) None
            else Some(md(diff / math.sqrt(
              vn(a) / (da * da * (da - 1)) + vn(b) / (db * db * (db - 1)))))
          (g, a.size.toLong, b.size.toLong, md(diff), z)
      }.toSet
      assert(got == expect)
    }
  }

  test("kll sketch: random streams, random k, random merge splits hold the rank bound") {
    import graft.ops.{Kll, KllState}
    val rnd = new Random(1311)
    val pcts = Seq(1L, 10L, 25L, 50L, 75L, 90L, 99L)
    (1 to rounds).foreach { round =>
      val n = 20000 + rnd.nextInt(30000)
      val k = Seq(128, 200, 256)(rnd.nextInt(3))
      // random generator mix: uniform, heavy-tailed, few-distinct,
      // and adversarial runs of sorted blocks
      val gen = rnd.nextInt(4)
      val vs: IndexedSeq[Double] = gen match {
        case 0 => IndexedSeq.fill(n)(rnd.nextDouble() * 1e6)
        case 1 => IndexedSeq.fill(n)(math.pow(10.0, rnd.nextDouble() * 6))
        case 2 => IndexedSeq.fill(n)((rnd.nextInt(25) * 7).toDouble)
        case _ => (0 until n).map(_.toDouble) // sorted ramp
      }
      // random split into 1..24 chunks, random merge fold order
      val nChunks = 1 + rnd.nextInt(24)
      val cuts = (IndexedSeq(0, n) ++
        IndexedSeq.fill(nChunks - 1)(rnd.nextInt(n + 1))).sorted
      var parts = cuts.zip(cuts.tail).collect {
        case (a, b) if b > a =>
          vs.slice(a, b).foldLeft(Kll.empty(k))(Kll.update)
      }.toVector
      while (parts.size > 1) {
        val i = rnd.nextInt(parts.size - 1)
        parts = parts.patch(i, Seq(Kll.merge(parts(i), parts(i + 1))), 2)
      }
      val s = parts.head
      assert(s.count == n.toLong, s"round $round: count ${s.count} != $n")
      val w = s.levels.zipWithIndex.map { case (b, l) => b.size.toLong << l }.sum
      assert(w == n.toLong, s"round $round: weight $w != $n")
      // the gate bound (2.5% of n), tie-aware interval check
      val sorted = vs.sorted
      val tol = n.toLong * 25000L / 1000000L
      for (p <- pcts) {
        val q = Kll.quantile(s, p).get
        val target = (p * n + 99) / 100
        val lt = sorted.count(_ < q).toLong
        val le = sorted.count(_ <= q).toLong
        assert(lt + 1 <= target + tol && le >= target - tol,
          s"round $round gen=$gen k=$k chunks=$nChunks p$p: " +
            s"rank span ($lt,$le] misses $target +- $tol over $n")
      }
    }
  }

  test("timeToConvert equals a naive in-memory reference on random event streams") {
    import org.apache.spark.sql.functions.col
    val rnd = new Random(1313)
    (1 to rounds).foreach { round =>
      val nUsers = 30 + rnd.nextInt(60)
      val events = (0 until nUsers).flatMap { u =>
        val n = rnd.nextInt(6)
        (0 until n).map { _ =>
          val ty = Seq("signup", "purchase", "view")(rnd.nextInt(3))
          val ms = 1700000000000L + rnd.nextInt(100) * 86400000L +
            rnd.nextInt(1440) * 60000L
          (s"u$u", ty, new java.sql.Timestamp(ms))
        }
      }
      val got = graft.ops.Stats.timeToConvert(
          events.toDF("user_id", "event_type", "ts"),
          "user_id", col("ts"), col("event_type"), "signup", "purchase",
          Seq(500000L, 900000L))
        .select(col("cohort_week").cast("long"), col("n_signups"),
          col("n_converted"), col("convert_ppm"), col("q_ppm"),
          col("latency_min"))
        .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
        .collect().toSet
      // naive reference: per user first signup, first purchase >= it
      val perUser = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
        val signups = es.filter(_._2 == "signup").map(_._3.getTime)
        if (signups.isEmpty) None
        else {
          val f = signups.min
          val conv = es.filter(e => e._2 == "purchase" && e._3.getTime >= f)
            .map(_._3.getTime).sorted.headOption
          // ISO Monday week start, like date_trunc('week') on both engines
          val day = java.time.Instant.ofEpochMilli(f)
            .atZone(java.time.ZoneOffset.UTC).toLocalDate
          val week = day.minusDays(day.getDayOfWeek.getValue - 1L)
          val weekMs = week.atStartOfDay(java.time.ZoneOffset.UTC)
            .toInstant.toEpochMilli
          Some((weekMs, conv.map(c => (c - f) / 60000L)))
        }
      }
      val expect = perUser.groupBy(_._1).flatMap { case (wk, us) =>
        val lats = us.flatMap(_._2).sorted
        val n = us.size.toLong; val c = lats.size.toLong
        val ppm = c * 1000000L / n
        if (lats.isEmpty) Seq((wk / 1000L, n, c, ppm, None, None))
        else Seq(500000L, 900000L).map { q =>
          val tot = lats.size.toLong
          var cum = 0L
          val v = lats.find { _ => cum += 1; cum * 1000000L >= q * tot }.get
          (wk / 1000L, n, c, ppm, Some(q), Some(v))
        }
      }.toSet
      // cohort_week casts to long SECONDS in Spark; reference is ms
      assert(got == expect, s"round $round:\n got=$got\n exp=$expect")
    }
  }
}
