package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.util.Hashing

/** Deduplication operators for LLM-training-data pipelines
  * (SURVEY §2 C1–C5b): exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * and duplicate clustering (connected components).
  *
  * Scale shape: every operator is explode → hash → groupBy — the
  * candidate-generation pattern that avoids the N² cross join. Pair
  * outputs are always `id_a < id_b` distinct. Hashes are the portable
  * md5-derived family (util.Hashing) so DuckDB oracles can replay
  * them bit-for-bit.
  */
object Dedup {

  /** (id, token) distinct pairs from normalized text. The input is
    * spread across the cluster first: a small parquet arrives as one
    * split, and normalize+explode must not run in a single task.
    */
  def tokenSet(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.select(col(idCol).as("id"), col(textCol).as("t"))
      .repartition(p, col("id"))
      .select(col("id"),
        explode(array_distinct(split(TextAnalysis.normalize(col("t")), " "))).as("tok"))
    // array_distinct dedups within the row, which IS global (id, tok)
    // distinctness — no shuffle needed, unlike .distinct().
  }

  /** Exact dedup: group by content hash, keep the smallest id.
    * One hash-partitioned groupBy; at 100 TB the md5 keys distribute
    * uniformly so no skew handling is needed.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), md5(TextAnalysis.normalize(col(textCol))).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col("id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the ingestion-time shape: admit from a
    * NEW batch only documents whose content is absent from the
    * already-admitted corpus, collapsing in-batch copies to the
    * min-id keeper first.
    *
    * Scale shape: the batch dedups against ITSELF with one O(batch)
    * groupBy, then probes the corpus with a left-anti join on the
    * content hash — the corpus side is key-only (one md5 column
    * crosses the shuffle, never document text) and is never
    * re-deduplicated. Per-cycle cost is O(batch + corpus keys), not
    * O(corpus rows); with the corpus hash column stored bucketed by
    * hash the probe becomes a co-located join with NO corpus shuffle
    * at all (BucketedParquetStore's layout).
    */
  def incremental(corpus: DataFrame, batch: DataFrame,
                  textCol: String, idCol: String): DataFrame = {
    val hashOf = (df: DataFrame) =>
      df.select(col(idCol).as("id"),
        md5(TextAnalysis.normalize(col(textCol))).as("content_hash"))
    val batchKeepers = hashOf(batch)
      .groupBy("content_hash")
      .agg(min(col("id")).as("admitted_id"), count(lit(1)).as("n_batch_copies"))
    batchKeepers.join(
      hashOf(corpus).select("content_hash"), Seq("content_hash"), "left_anti")
  }

  /** [[incremental]] behind a Bloom prefilter — the shape that holds
    * when the corpus is 100 TB and the batch is a crawl shard:
    * `incremental`'s anti-join shuffles the corpus hash table every
    * batch; here the corpus's content hashes build a Bloom sketch ONCE
    * (persistable across batches — the mergeable, rebuild-free
    * ingestion index), the batch probes it per-row (broadcast bits,
    * codegen'd `might_contain`), and only bloom-POSITIVE batch rows —
    * the true duplicates plus the fpp tail — reach the exact
    * confirmation. The confirmation never shuffles the corpus either:
    * the positive hash set broadcasts onto the corpus scan (left_semi)
    * and the surviving (tiny) match list broadcasts back for the
    * anti-join. Bloom filters have NO false negatives, so the result
    * is EXACTLY `incremental`'s — the driver gate runs both against
    * the same oracle SQL; fpp only moves the confirmation's size.
    */
  def incrementalBloom(corpus: DataFrame, batch: DataFrame,
                       textCol: String, idCol: String,
                       expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    val hashOf = (df: DataFrame) =>
      df.select(col(idCol).as("id"),
        md5(TextAnalysis.normalize(col(textCol))).as("content_hash"))
    val batchKeepers = hashOf(batch)
      .groupBy("content_hash")
      .agg(min(col("id")).as("admitted_id"), count(lit(1)).as("n_batch_copies"))
    val corpusHashes = hashOf(corpus).select("content_hash")
    val probe = graft.ops.SkewJoin.bloomProbe(corpusHashes, "content_hash",
      col("content_hash"), expectedItems, fpp)
    val positives = batchKeepers.filter(probe)
    val negatives = batchKeepers.filter(!probe)
    val corpusMatches = corpusHashes
      .join(broadcast(positives.select("content_hash")),
        Seq("content_hash"), "left_semi")
      .distinct()
    val confirmedNew = positives
      .join(broadcast(corpusMatches), Seq("content_hash"), "left_anti")
    negatives.unionByName(confirmedNew)
  }

  /** Quality-ranked keeper selection: group documents by an
    * order-independent bag-of-tokens hash (catches token-shuffled /
    * repetition-padded copies that defeat the exact content hash) and
    * keep the HIGHEST-quality member — longest text, ties to smallest
    * id — instead of blindly keeping min(id). The argmax is a
    * struct-max aggregate: fully partial-aggregatable (map-side
    * combine), no per-group sort, no window — the shape that holds at
    * 100 TB where a window over every group would sort the corpus.
    */
  def keepBest(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), length(col(textCol)).as("q"),
        TextAnalysis.bagHash(TextAnalysis.normalize(col(textCol))).as("bag_hash"))
      .groupBy("bag_hash")
      // min of (negated quality, id): largest q wins, ties to the
      // smallest id — and the id is never negated, so ANY id type
      // works (negating a string id would null out every keeper)
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("q")).as("nq"), col("id"))).as("m"))
      .select(col("bag_hash"), col("m.id").as("keeper_id"), col("n_members"))

  /** MinHash signatures: `numHashes` min-hashes over the distinct
    * token set via the affine universal-hash family — ONE md5 per
    * token; the 16 per-j coefficients ride along in a broadcast
    * 16-row table. groupBy(id, seed) min is fully
    * partial-aggregatable (map-side combine before the shuffle).
    */
  def minHashSignatures(tokens: DataFrame, numHashes: Int): DataFrame = {
    val seeds = tokens.sparkSession.range(numHashes).toDF("j")
      .select(col("j"),
        Hashing.affineCoef("a", col("j")).as("aj"),
        Hashing.affineCoef("b", col("j")).as("bj"))
    tokens
      .select(col("id"), Hashing.portableHash30(col("tok")).as("h30"))
      .crossJoin(broadcast(seeds))
      .select(col("id"), col("j"),
        Hashing.affineHash(col("h30"), col("aj"), col("bj")).as("h"))
      .groupBy("id", "j").agg(min("h").as("h"))
  }

  /** LSH banding: group the signature into `numBands` bands and hash
    * each band; docs sharing any (band, signature) bucket are
    * candidate pairs. groupBy buckets + within-bucket join — never a
    * global cross join.
    */
  /** (id, band, sig) LSH bucket keys. Band signature = sum of the
    * band's min-hashes: order-independent (so partial aggregation
    * applies — no collect_list/sort) and overflow-safe (h < 2^60, sums
    * of ≤ 8 fit int64 on both engines). Collision odds ≈ 2⁻⁶³ per
    * bucket pair.
    */
  def bandSignatures(signatures: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    require(numHashes % numBands == 0,
      s"numBands must divide numHashes (got $numHashes hashes / $numBands bands): " +
        "a remainder would strand trailing hashes in a partial band")
    signatures
      .withColumn("band", expr(s"j div ${numHashes / numBands}"))
      .groupBy("id", "band")
      .agg(sum("h").as("sig"))
  }

  /** Wide-form signatures-to-bands: the (id, band, sig) bucket keys of
    * [[bandSignatures]]∘[[minHashSignatures]] computed in ONE
    * aggregation with `numHashes` min columns — no ×numHashes row
    * replication, no broadcast seed join, no second groupBy (same
    * rewrite that took simHash from two shuffles over 60× rows to one
    * shuffle over 1×). The per-seed affine coefficients are
    * Scala-side constants derived from the identical md5 arithmetic
    * ([[graft.util.Hashing.affineCoef]]), so band signatures are
    * bit-identical to the long form — FunctionsSpec pins both
    * equalities. The long form stays for incremental/streaming
    * callers that want per-hash rows.
    */
  def minHashBandsWide(tokens: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    require(numHashes % numBands == 0,
      s"numBands must divide numHashes (got $numHashes hashes / $numBands bands): " +
        "the wide form would silently drop the remainder hashes and diverge " +
        "from bandSignatures, breaking stored-signature compatibility")
    val width = numHashes / numBands
    val mins = (0 until numHashes).map { j =>
      min(pmod(lit(Hashing.affineCoefConst("a", j)) * col("h30")
        + lit(Hashing.affineCoefConst("b", j)), lit(Hashing.affinePrime))).as(s"h$j")
    }
    val bandStructs = (0 until numBands).map { b =>
      struct(lit(b.toLong).as("band"),
        (b * width until (b + 1) * width).map(j => col(s"h$j")).reduce(_ + _).as("sig"))
    }
    tokens
      .select(col("id"), Hashing.portableHash30(col("tok")).as("h30"))
      .groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  def lshCandidates(signatures: DataFrame, numHashes: Int, numBands: Int): DataFrame =
    candidatesFromBands(bandSignatures(signatures, numHashes, numBands))

  /** Salted within-bucket self-join over (id, band, sig) bucket keys. */
  def candidatesFromBands(bands: DataFrame): DataFrame = {
    // Salt the self-join: a duplicate-dense corpus puts thousands of
    // docs in one (band, sig) bucket, and an unsalted equi-join emits
    // that bucket's m²/2 pairs from a single task. Salting the left
    // side by id and replicating the right side SALTS× splits every
    // hot bucket across SALTS tasks; output is identical because each
    // (id_a, id_b) pair matches at exactly salt = hash(id_a) mod SALTS.
    // Salt on a portable hash of the id, not the id itself: pmod of a
    // string id is NULL and would silently drop every candidate pair.
    // (r17 note: a hot-bucket-only salt variant was measured and
    // REVERTED — the per-key count join it needs adds two exchanges
    // that cost more than the 16× narrow-row replication saves.)
    val SALTS = 16
    val a = bands.select(col("band"), col("sig"), col("id").as("id_a"))
      .withColumn("salt",
        pmod(Hashing.portableHash64(col("id_a").cast("string")), lit(SALTS.toLong)))
    val b = bands.select(col("band"), col("sig"), col("id").as("id_b"))
      .crossJoin(bands.sparkSession.range(SALTS).toDF("salt"))
    a.join(b, Seq("band", "sig", "salt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard over distinct token sets for a candidate pair list
    * (the verify stage after LSH candidate generation). Intersection
    * via token join; |A|,|B| joined in; J = inter/(|A|+|B|-inter) as
    * one deterministic double division.
    */
  def verifyJaccard(tokens: DataFrame, candidates: DataFrame): DataFrame = {
    // Intersection via array_intersect over per-doc token arrays: one
    // row per candidate pair, O(|A|+|B|) per row — instead of exploding
    // |pairs|·avgTokens join rows through two shuffles. The doc→array
    // side is broadcast (it is |docs| rows, far smaller than |pairs|);
    // if it outgrows memory, drop the hint — the pair table shuffles
    // twice by id, which is still |pairs| rows, never the expansion.
    // Tokens are intersected as SORTED 60-bit portable hash arrays:
    // long comparison beats UTF8, and the native merge-intersect
    // (graft_intersect_size) is allocation-free — the built-in
    // array_intersect builds a hash set + result array per pair, which
    // is pure GC churn at millions of candidate pairs. Set sizes are
    // hash-set sizes on both engines so a (vanishing) collision
    // perturbs Spark and the oracle identically.
    val sets = tokenHashSets(tokens)
    val interSize = interSizeFn
    val inter = candidates
      .join(broadcast(sets.select(col("id").as("id_a"), col("toks").as("toks_a"),
        col("n").as("n_a"))), Seq("id_a"))
      .join(broadcast(sets.select(col("id").as("id_b"), col("toks").as("toks_b"),
        col("n").as("n_b"))), Seq("id_b"))
      .withColumn("inter", interSize(col("toks_a"), col("toks_b")))
    inter
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
  }

  /** (id, toks = SORTED 60-bit token-hash array, n = |set|) per doc —
    * the verify-stage form: long comparisons beat UTF8 and the sorted
    * arrays feed the allocation-free native merge-intersect.
    */
  def tokenHashSets(tokens: DataFrame): DataFrame =
    tokens
      .select(col("id"), Hashing.portableHash64(col("tok")).as("h"))
      .groupBy("id").agg(sort_array(collect_set(col("h"))).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).as("n"))

  /** Sorted-array intersection size: the codegen'd native expression
    * when registered, the built-in (slower, same result) otherwise.
    */
  def interSizeFn: (Column, Column) => Column =
    if (org.apache.spark.sql.SparkSession.active.catalog.functionExists("graft_intersect_size"))
      (a, b) => call_function("graft_intersect_size", a, b)
    else
      (a, b) => size(array_intersect(a, b))

  /** Full MinHash-LSH near-dup pipeline: signatures → banded
    * candidates → Jaccard-verified pairs ≥ threshold.
    */
  def minHashLsh(df: DataFrame, textCol: String, idCol: String,
                 numHashes: Int = 16, numBands: Int = 2,
                 threshold: Double = 0.7): DataFrame = {
    // The token set feeds three downstream subtrees (signatures + two
    // broadcast builds of the per-doc set table). persist alone is NOT
    // enough: broadcast-exchange jobs launch concurrently with the main
    // job, race the unmaterialized cache, and each re-runs the
    // scan+normalize+explode pipeline. Materialize eagerly once — at
    // cluster scale this is the stage you'd checkpoint.
    val toks = tokenSet(df, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    toks.count()
    val cands = candidatesFromBands(minHashBandsWide(toks, numHashes, numBands))
    // eager truncation (Lineage.truncate — durable when the
    // spark.graft.checkpointDir knob is set), then release the token
    // cache: without it every call pinned a tokenized-corpus cache for
    // the session lifetime (same hygiene as ngramJaccard; default-mode
    // checkpoint blocks are GC-cleaned with the returned frame)
    val result = graft.util.Lineage.truncate(verifyJaccard(toks, cands)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))
    toks.unpersist()
    result
  }

  /** 60-bit SimHash fingerprint over the distinct token set (bit b of
    * the fingerprint = sign of Σ_tokens ±1 by bit b of the token
    * hash). One groupBy with `bits` wide sum columns — every sum is
    * partial-aggregatable (map-side combine), the shuffle carries
    * |docs| rows, and no row is ever replicated. (The textbook
    * explode-×-bits formulation shuffles |tokens|×bits rows through
    * TWO aggregations; at corpus scale that 60× row blowup is the
    * whole cost of the operator.)
    */
  def simHash(tokens: DataFrame, bits: Int = 60): DataFrame = {
    val sums = (0 until bits).map { b =>
      sum(shiftright(col("h"), b) % 2 * 2 - 1).as(s"s$b")
    }
    val fingerprint = (0 until bits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    tokens
      .select(col("id"), Hashing.portableHash64(col("tok")).as("h"))
      .groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"), fingerprint.as("simhash"))
  }

  /** SimHash near-dup candidates: split the fingerprint into `bands`
    * bit-bands; fingerprints agreeing on any band are candidates
    * (hamming-distance analog of MinHash banding).
    */
  def simHashCandidates(fingerprints: DataFrame, bits: Int = 60, bands: Int = 4): DataFrame = {
    val width = bits / bands
    val banded = fingerprints
      .crossJoin(fingerprints.sparkSession.range(bands).toDF("band"))
      .select(col("id"), col("band"),
        expr(s"(simhash div cast(pow(2, band * $width) as bigint)) % cast(pow(2, $width) as bigint)").as("piece"))
    // Salted exactly like the MinHash band join (lshCandidates above):
    // a duplicate-dense corpus puts thousands of fingerprints into one
    // (band, piece) bucket, and an unsalted equi-join emits that
    // bucket's m²/2 pairs from a single task. Each (id_a, id_b) pair
    // still matches at exactly salt = hash(id_a) mod SALTS, so the
    // output is identical.
    val SALTS = 16
    val a = banded.select(col("band"), col("piece"), col("id").as("id_a"))
      .withColumn("salt",
        pmod(Hashing.portableHash64(col("id_a").cast("string")), lit(SALTS.toLong)))
    val b = banded.select(col("band"), col("piece"), col("id").as("id_b"))
      .crossJoin(fingerprints.sparkSession.range(SALTS).toDF("salt"))
    a.join(b, Seq("band", "piece", "salt")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** (id, shingle) distinct char-n-gram pairs. */
  def shingleSet(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), TextAnalysis.normalize(col(textCol)).as("norm"))
      .select(col("id"), explode(expr(
        s"array_distinct(transform(sequence(1, greatest(length(norm) - ${n - 1}, 1)), i -> substr(norm, i, $n)))")).as("tok"))
    // rows are already (id, tok)-unique via array_distinct; no shuffle.

  /** Connected components over a duplicate-pair graph — the
    * keep-one-per-cluster step a dedup pipeline ends with: every doc
    * in a component gets the component's smallest id as its cluster
    * label.
    *
    * Two paths, one answer. A dedup pass's verified pair set is
    * small (tens of pairs per thousand docs), so the pairs are
    * collected first: at most `LocalPairCap + 1` rows, read by one
    * task (one job on a materialized pair set). When at most
    * `LocalPairCap` (10⁶) come back and both id columns are Int, Long
    * or String of one type, union-find on the driver labels them
    * exactly, instead of paying several Spark jobs per contraction
    * round (the precedent is [[Graph.scc]]'s bounded `tarjanLocal`
    * tail). Larger pair sets, and other or mixed id types, run
    * [[connectedComponentsStar]].
    *
    * The driver path reproduces the star's output: String ids compare
    * in UTF-8 byte order (Spark's `min`), a pair with a NULL endpoint
    * links nothing and adds one (NULL, NULL) row, self-loops and
    * repeated pairs change nothing, and the output schema is the
    * star's.
    *
    * Input: (id_a, id_b) pairs. Output: (id, cluster) for every vertex
    * that appears in at least one pair.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val ends = pairs.select(col("id_a"), col("id_b"))
    val (fa, fb) = (ends.schema("id_a"), ends.schema("id_b"))
    val local =
      if (fa.dataType != fb.dataType ||
          !Seq(IntegerType, LongType, StringType).contains(fa.dataType)) None
      else {
        // one partition: limit's take would otherwise run a job per
        // growing batch of partitions
        val rows = ends.coalesce(1).limit(LocalPairCap + 1).collect()
        if (rows.length > LocalPairCap) None
        else Some(componentsLocal(pairs.sparkSession, rows,
          fa.copy(nullable = fa.nullable || fb.nullable)))
      }
    local.getOrElse(connectedComponentsStar(pairs))
  }

  /** Most pairs [[connectedComponents]] resolves on the driver: 10⁶
    * pairs are a few tens of MB collected. */
  private val LocalPairCap = 1000000

  /** Driver union-find over collected (id_a, id_b) rows. Vertices get
    * dense indices in id order (UTF-8 byte order for strings), and a
    * union always hangs the larger root under the smaller, so every
    * root is its component's smallest index — the min id.
    */
  private def componentsLocal(spark: org.apache.spark.sql.SparkSession,
                              rows: Array[Row], field: StructField): DataFrame = {
    val m = rows.length
    // dense index of each endpoint (-1 for NULL) and the id of an index
    val (ia, ib, nv, idOf) = field.dataType match {
      case StringType =>
        def key(r: Row, c: Int) = UTF8String.fromString(r.getString(c))
        val utf8Order: java.util.Comparator[UTF8String] = _ binaryCompare _
        val all = rows.flatMap(r => (0 to 1).filterNot(r.isNullAt).map(key(r, _)))
        java.util.Arrays.sort(all, utf8Order)
        val ids = distinctSorted(all)
        val ix = (c: Int) => rows.map(r =>
          if (r.isNullAt(c)) -1 else java.util.Arrays.binarySearch(ids, key(r, c), utf8Order))
        (ix(0), ix(1), ids.length, (i: Int) => ids(i).toString)
      case dt =>
        def key(r: Row, c: Int) = r.get(c).asInstanceOf[Number].longValue
        val all = rows.flatMap(r => (0 to 1).filterNot(r.isNullAt).map(key(r, _)))
        java.util.Arrays.sort(all)
        val ids = distinctSorted(all)
        val ix = (c: Int) => rows.map(r =>
          if (r.isNullAt(c)) -1 else java.util.Arrays.binarySearch(ids, key(r, c)))
        val idOf: Int => Any =
          if (dt == IntegerType) i => ids(i).toInt else i => ids(i)
        (ix(0), ix(1), ids.length, idOf)
    }
    val parent = Array.tabulate(nv)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var nullEnd = false
    (0 until m).foreach { i =>
      if (ia(i) < 0 || ib(i) < 0) nullEnd = true
      else {
        val (ra, rb) = (find(ia(i)), find(ib(i)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    val out = new java.util.ArrayList[Row](nv + 1)
    (0 until nv).foreach(i => out.add(Row(idOf(i), idOf(find(i)))))
    if (nullEnd) out.add(Row(null, null))
    spark.createDataFrame(out, StructType(Seq(
      field.copy(name = "id"), field.copy(name = "cluster"))))
  }

  /** The distinct elements of a sorted array, in order. */
  private def distinctSorted[K: scala.reflect.ClassTag](a: Array[K]): Array[K] =
    a.indices.collect { case i if i == 0 || a(i) != a(i - 1) => a(i) }.toArray

  /** Star-contraction connected components — [[connectedComponents]]'
    * distributed path, and the one to call directly on graphs of any
    * shape. Label propagation needs O(component diameter) rounds:
    * right for dup clusters (tiny diameter), hopeless for a 10⁶-long
    * chain. Alternating large-star/small-star contraction (the classic
    * MapReduce-CC construction, cf. Kiveris et al., "Connected
    * Components in MapReduce and Beyond") halves long paths every
    * round, so it converges in O(log n) rounds:
    *
    *  - large-star: every node links its LARGER neighbors to its
    *    smallest neighbor-or-self;
    *  - small-star: every node links its smaller neighbors and itself
    *    to its minimum neighbor.
    *
    * Both steps are one groupBy(min) + one join — partial-aggregated,
    * shuffle-bounded by the live edge count, which shrinks as stars
    * collapse. Converges when the edge set is stable, at which point
    * every edge is (vertex → component minimum). `maxIter` bounds the
    * rounds.
    *
    * Same contract as [[connectedComponents]]: (id_a,id_b) pairs in,
    * (id, cluster=component min id) out. A pair with a NULL endpoint
    * links nothing and adds one (NULL, NULL) row; a vertex seen only
    * in self-loops labels itself.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // Lineage.truncateLazy, NOT persist: persist caches data but keeps
    // the logical plan, so per-round lineage compounds and Catalyst
    // re-optimizes a growing plan on every action (see graft.util.Lineage).
    // The pairs are cut ONCE: the edge set and the vertex set below both
    // read this frame, so the pair search upstream runs once, not three
    // times. Lazy: the first checksum probe materializes it.
    val ends = graft.util.Lineage.truncateLazy(pairs.select(col("id_a"), col("id_b")))
    // Convergence = this round's edge SET equals last round's, by
    // Graph.setChecksum (count, xor of per-edge hashes) — one
    // aggregation action per round, the previous round's checksum
    // carried forward instead of re-scanning `edges`.
    var edges = graft.util.Lineage.truncateLazy(ends
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var prevChk = Graph.setChecksum(edges, "u", "v")
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star over the symmetric edge list
      val s = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val minsL = s.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val afterL = s.join(minsL, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star over the now big→small directed edges
      val minsS = afterL.groupBy("u").agg(min("v").as("m"))
      val e2 = graft.util.Lineage.truncateLazy(afterL.join(minsS, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(minsS.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct())
      val chk = Graph.setChecksum(e2, "u", "v")
      converged = chk == prevChk
      prevChk = chk
      edges = e2
      i += 1
    }
    val verts = ends.select(col("id_a").as("id"))
      .unionByName(ends.select(col("id_b").as("id"))).distinct()
    verts.join(edges.select(col("u").as("id"), col("v").as("cluster")), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** The end-to-end dedup pass: MinHash-LSH near-dup pairs → duplicate
    * clusters → keep ONE canonical doc (smallest id) per cluster.
    * Exact duplicates are J = 1.0, so they are subsumed by the near-dup
    * threshold. This is the one-call corpus-cleaning composition; the
    * building blocks stay available for pipelines that want the pairs
    * or cluster labels themselves. The input is materialized once
    * ([[keepCanonical]]): the token set and the final anti-join read
    * it, and so does every later stage that re-reads the result.
    */
  def dedupedCorpus(df: DataFrame, textCol: String, idCol: String,
                    numHashes: Int = 16, numBands: Int = 2,
                    threshold: Double = 0.7): DataFrame =
    keepCanonical(df, idCol)(
      minHashLsh(_, textCol, idCol, numHashes, numBands, threshold))

  /** Keeps the smallest id of every duplicate cluster: `pairsOf` maps
    * the input to (id_a, id_b) duplicate pairs, [[connectedComponents]]
    * groups them, and every row whose id is not its cluster's label is
    * dropped (left_anti, so the row schema is the input's).
    *
    * The input is truncated once (`Lineage.truncate`, which honours
    * `spark.graft.checkpointDir` and `spark.graft.keepLineage`) and that
    * one frame feeds both the pair search and the anti-join. Without it
    * each read re-runs the whole lazy upstream — in a pipeline, every
    * earlier stage — once for the pairs, once for the anti-join, and
    * once more for every re-read of the result by later stages.
    */
  def keepCanonical(df: DataFrame, idCol: String)(
      pairsOf: DataFrame => DataFrame): DataFrame = {
    val in = graft.util.Lineage.truncate(df)
    val losers = connectedComponents(pairsOf(in))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    in.join(losers, Seq(idCol), "left_anti")
  }

  /** Char-n-gram Jaccard near-dup pairs ≥ threshold: a df-BOUNDED
    * shingle inverted index generates candidates, exact Jaccard over
    * the FULL shingle sets verifies them.
    *
    * Why the bound: an unbounded inverted-index self-join emits
    * Σ_tok df(tok)² rows — one frequent shingle (" the ") appears in
    * nearly every document, so at corpus scale a single hot shingle
    * group degenerates into an N² cross join running in one task.
    * Prefix filtering (the standard fix): shingles with document
    * frequency > `maxDf` are dropped from the CANDIDATE index only —
    * near-dup pairs always share rare shingles too, and the verify
    * stage still scores the full sets, so precision is exact and the
    * join is bounded by maxDf² per shingle. The join is additionally
    * salted like `lshCandidates`, so even a df-cap-sized bucket
    * spreads across tasks.
    */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 5, threshold: Double = 0.6,
                   maxDf: Int = 1000): DataFrame = {
    // the shingle set feeds the candidate index AND the verify sets;
    // materialize once (same reasoning as minHashLsh's token set)
    val sh = shingleSet(df, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.count()
    val rareToks = sh.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("tok")
    val rare = sh.join(rareToks, Seq("tok"), "left_semi")
    val SALTS = 16
    val a = rare.select(col("tok"), col("id").as("id_a"))
      .withColumn("salt",
        pmod(Hashing.portableHash64(col("id_a").cast("string")), lit(SALTS.toLong)))
    val b = rare.select(col("tok"), col("id").as("id_b"))
      .crossJoin(df.sparkSession.range(SALTS).toDF("salt"))
    val cands = a.join(b, Seq("tok", "salt")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // eager truncation (Lineage.truncate, durable under the
    // spark.graft.checkpointDir knob): the (small) verified pair set
    // materializes HERE, so the shingle cache is released immediately
    // instead of leaking one persisted set per call for the session
    // lifetime; default-mode checkpoint blocks are GC-cleaned with the
    // returned frame, unlike a persist pinned until an explicit
    // unpersist.
    val result = graft.util.Lineage.truncate(verifyJaccard(sh, cands)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))
    sh.unpersist()
    result
  }

  /** CCNet-style line-level deduplication: hash every line of every
    * document, count each line hash across the WHOLE corpus, drop
    * lines whose global count exceeds `maxCount`, and rebuild the
    * documents from the surviving lines (original order preserved).
    * This is the boilerplate-killer for web corpora — nav bars,
    * cookie banners and footers repeat across pages verbatim, so
    * corpus-global line counts separate them from body text that
    * document-LOCAL signals cannot.
    *
    * Deterministic variant of CCNet (Wenzek et al. 2020): CCNet keeps
    * the first occurrence in shard order, which depends on partition
    * order; dropping ALL occurrences of an over-represented line is a
    * pure function of the corpus, so results are stable across runs,
    * partitionings and engines (DuckDB oracle replays it exactly).
    *
    * Scale shape (the canonical CCNet pipeline): posexplode is
    * narrow; the duplicate-line set is ONE partial-aggregatable
    * count over md5 line keys (uniform, no skew) FILTERED to
    * offenders before it ever joins — the anti-join streams
    * |lines| rows against the much smaller duplicate set instead of
    * carrying a count onto every line; the rebuild is one groupBy on
    * the original doc id. Three shuffles, all on uniform keys, no
    * driver state — survives a 100× corpus.
    *
    * Output: (id, clean_text, n_lines_kept). Documents whose every
    * line was boilerplate disappear (their clean_text would be
    * empty); callers wanting them keep a left join on the input.
    */
  def dedupLines(df: DataFrame, textCol: String, idCol: String,
                 maxCount: Long = 1L, sep: String = "\n"): DataFrame = {
    val lines = graft.util.Tables.spread(df.select(col(idCol), col(textCol)),
        col(idCol))
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("line_no", "line")))
      .filter(length(trim(col("line"))) > 0)
      .withColumn("lh", md5(col("line")))
      // feeds BOTH the offender count and the anti-join rebuild: cache
      // so the corpus explodes once within the action (spans' pattern)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupHashes = lines.groupBy("lh").agg(count(lit(1)).as("c"))
      .filter(col("c") > maxCount).select("lh")
    lines.join(dupHashes, Seq("lh"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
            s => s.getField("line")),
          sep).as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
  }

  /** Exact-substring (span-level) dedup, the ExactSubstr step of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): any k-token window whose text occurs more than
    * `maxCount` times ANYWHERE in the corpus is struck from every
    * document that contains it, leaving the surrounding unique text
    * in place. Sits between [[dedupLines]] (fixed line boundaries)
    * and [[exact]] (whole documents): it catches quotes, licence
    * blocks and templated passages embedded mid-document that neither
    * boundary-aligned pass can see.
    *
    * Deterministic variant (same choice as [[dedupLines]]): the paper
    * keeps one occurrence, which depends on suffix-array scan order;
    * dropping ALL occurrences of a duplicated span is a pure function
    * of the corpus, stable across runs/partitionings/engines, so the
    * DuckDB oracle replays it exactly.
    *
    * Scale shape (vs the paper's monolithic suffix array, which needs
    * the corpus on one machine): window hashes are computed INSIDE a
    * per-row `transform` and only the (id, pos, md5) triple explodes —
    * the token array is never replicated per window, so the exploded
    * width is O(|tokens|) rows, the same class as [[dedupLines]].
    * Duplicate-window detection is one partial-aggregatable count
    * over uniform md5 keys FILTERED to offenders before the join;
    * offending start positions flow back as one groupBy(id)
    * collect_set (bounded by the doc's own window count); the strike
    * itself is per-row array arithmetic over a positions bitmap.
    * Three shuffles, all uniform keys, no driver state.
    *
    * Output: (id, clean_text, n_tokens_kept) — whitespace-joined
    * surviving tokens in original order. Docs shorter than k tokens
    * have no windows and pass through whole; docs whose every token
    * is covered by duplicated spans disappear.
    */
  def dedupSpans(df: DataFrame, textCol: String, idCol: String,
                 k: Int, maxCount: Long = 1L): DataFrame = {
    require(k >= 2, s"window width k must be >= 2, got $k")
    // spread: per-window md5 compute at scan speed — a single-split
    // input serializes it onto one core; no-op once the scan has >=
    // cores splits (guide §2.5 input skew; TextAnalysis.winnow's fix)
    val toks = graft.util.Tables.spread(
      df.select(col(idCol), split(col(textCol), " ").as("ws")), col(idCol))
      .filter(size(col("ws")) > 0)
    // (id, start, window-hash) — hash computed inside transform so the
    // explode carries a 32-char md5, never a slice of the token array.
    val wins = toks
      .filter(size(col("ws")) >= k)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), size(col("ws")) - k),
          i => md5(concat_ws(" ", slice(col("ws"), i + 1, lit(k))))))
          .as(Seq("start", "wh")))
    // wins feeds BOTH the offender count and the probe: cache it so
    // the |tokens| window-hash computation runs once within the action
    // (blocks populate during the first stage and are reused by the
    // second — same pattern as minHashLsh's token cache)
    val winsC = wins.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupWins = winsC.groupBy("wh").agg(count(lit(1)).as("c"))
      .filter(col("c") > maxCount).select("wh")
    val badStarts = winsC.join(dupWins, Seq("wh"), "left_semi")
      .groupBy(col(idCol)).agg(collect_set(col("start")).as("bad"))
    // covered = ∪ [s, s+k) over offending starts; strike those
    // positions, keep the rest in order. Pure per-row arithmetic.
    val covered = array_distinct(flatten(
      transform(col("bad"), s => sequence(s, s + k - 1))))
    toks.join(badStarts, Seq(idCol), "left")
      .withColumn("kept",
        when(col("bad").isNull, col("ws")).otherwise(
          filter(col("ws"), (_, p) => !array_contains(covered, p))))
      .filter(size(col("kept")) > 0)
      .select(col(idCol), array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).cast("long").as("n_tokens_kept"))
  }

  /** Incremental MinHash-LSH: near-dup screen of a NEW ingest batch
    * against an already-admitted corpus — the production shape for a
    * continuously-fed training corpus, where re-running [[minHashLsh]]
    * over corpus ∪ batch would redo O(corpus) work (and re-find every
    * existing corpus-internal pair) per cycle.
    *
    * Scale shape: candidates come from a batch-bands ⋈ corpus-bands
    * equi-join on (band, sig) — the corpus NEVER self-joins and is
    * touched once to (re)derive its band keys; with the band table
    * persisted (it is exactly the LSH index a vector store would keep,
    * |corpus|·numBands narrow rows, appendable because signatures are
    * per-doc), the per-cycle cost is O(batch + matching buckets).
    * Bucket skew (a viral template with thousands of corpus copies)
    * is salted on the CORPUS id with the small batch side replicated
    * SALTS× — the mirror of candidatesFromBands' self-join salt, so a
    * hot bucket fans across SALTS reducers instead of one. Verification
    * is the exact [[verifyJaccard]] contract (sorted-hash-array
    * intersect, candidate-pair-bound work), and the final keep-best is
    * a struct-max aggregate (map-side combine, no window).
    *
    * Returns one row per REJECTED batch doc: (batch_id, match_id,
    * jaccard) of its best corpus match (max Jaccard, ties to smallest
    * corpus id). Batch docs absent from the output are admitted;
    * in-batch near-dups are [[minHashLsh]] over the batch alone.
    */
  def incrementalLsh(corpus: DataFrame, batch: DataFrame,
                     textCol: String, idCol: String,
                     numHashes: Int = 16, numBands: Int = 2,
                     threshold: Double = 0.7,
                     materialize: Boolean = true): DataFrame = {
    // materialize=false keeps the WHOLE composition one lazy plan
    // (token caches and final truncation skipped) — for plan audits
    // and callers that persist/checkpoint at their own boundary.
    val SALTS = 16
    val maybeCache = (df: DataFrame) =>
      if (materialize)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val corpusToks = maybeCache(tokenSet(corpus, textCol, idCol))
    val batchToks = maybeCache(tokenSet(batch, textCol, idCol))
    // eager materialization: both token tables feed a band build AND a
    // broadcast set build whose jobs race an unmaterialized cache
    // (minHashLsh's documented hygiene)
    if (materialize) { corpusToks.count(); batchToks.count() }
    val corpusBands = minHashBandsWide(corpusToks, numHashes, numBands)
      .select(col("band"), col("sig"), col("id").as("match_id"))
      .withColumn("salt",
        pmod(Hashing.portableHash64(col("match_id").cast("string")), lit(SALTS.toLong)))
    val batchBands = minHashBandsWide(batchToks, numHashes, numBands)
      .select(col("band"), col("sig"), col("id").as("batch_id"))
      .crossJoin(corpus.sparkSession.range(SALTS).toDF("salt"))
    val cands = batchBands.join(corpusBands, Seq("band", "sig", "salt"))
      .select("batch_id", "match_id").distinct()
    val bSets = tokenHashSets(batchToks)
      .select(col("id").as("batch_id"), col("toks").as("toks_b"), col("n").as("n_b"))
    val cSets = tokenHashSets(corpusToks)
      .select(col("id").as("match_id"), col("toks").as("toks_c"), col("n").as("n_c"))
    val interSize = interSizeFn
    // batch sets broadcast (a batch fits); corpus sets join by key —
    // only candidate corpus ids' token arrays ever cross the wire.
    val verified = cands
      .join(broadcast(bSets), Seq("batch_id"))
      .join(cSets, Seq("match_id"))
      .withColumn("inter", interSize(col("toks_b"), col("toks_c")))
      .select(col("batch_id"), col("match_id"),
        (col("inter").cast("double") /
          (col("n_b") + col("n_c") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val best = verified
      .groupBy("batch_id")
      .agg(max(struct(col("jaccard"), (-col("match_id")).as("nid"))).as("m"))
      .select(col("batch_id"), (-col("m.nid")).as("match_id"),
        round(col("m.jaccard"), 6).as("jaccard"))
    if (!materialize) best
    else {
      val result = graft.util.Lineage.truncate(best)
      corpusToks.unpersist(); batchToks.unpersist()
      result
    }
  }

  /** MinHash-LSH parameter design table — the S-curve a deployment
    * reads BEFORE committing a corpus pass: for every (bands b,
    * rows-per-band r) split of `numHashes` and every jaccard grid
    * point s, the candidate-detection probability 1 − (1 − sʳ)ᵇ in
    * ppm, plus each split's threshold (1/b)^(1/r) — where the curve
    * crosses ~50% — so "which banding catches 0.8-jaccard pairs with
    * ≥99% and skips 0.3 pairs" is a table lookup, not a corpus
    * experiment. Pure math over a generated grid: no input data, no
    * shuffle; IEEE pow over exact grid doubles, micro-rounded.
    */
  def lshTuning(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
                gridStepPpm: Long): DataFrame = {
    require(numHashes >= 1 && gridStepPpm >= 1)
    val splits = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b.toLong, (numHashes / b).toLong))
    val grid = spark.createDataFrame(splits).toDF("bands", "rows_per_band")
      .withColumn("s_ppm", explode(expr(
        s"sequence(${gridStepPpm}L, 1000000L - ${gridStepPpm}L, ${gridStepPpm}L)")))
    grid.select(col("bands"), col("rows_per_band"), col("s_ppm"),
      round((lit(1.0) - pow(lit(1.0) - pow(
          col("s_ppm").cast("double") / 1000000.0, col("rows_per_band")),
        col("bands"))) * 1e6).cast("long").as("p_detect_ppm"),
      round(pow(lit(1.0) / col("bands"),
        lit(1.0) / col("rows_per_band")) * 1e6).cast("long")
        .as("threshold_ppm"))
  }
}
